"""Extraction job: config-driven nested flatten + provenance + raw write.

Contract parity (reference src/gads_etl/pipeline.py):

- P1 nested-path projection (pipeline.py:99-105): config lists dot-paths
  (``campaign.id``); each flattens to snake_case (``campaign_id``). A
  missing path fails the job (AnalysisException ↔ the reference's
  AttributeError crash, spec.md:42 — schema drift is fail-fast).
- S2 pushdown (pipeline.py:92-97): the only filter is
  ``date_column BETWEEN start AND end`` plus the projection — both reach
  the source scan via Catalyst (PushedFilters / ReadSchema), exactly what
  the reference pushes into GAQL.
- P2 provenance (pipeline.py:106): ``__query_name`` literal on every row.
- The write goes through the raw zone's layout (payload, then
  metadata-last seal).

One code path writes every extraction: ``extract_day_bulk`` writes all
customers of one (query, day) with ONE ``partitionBy`` job, re-counts the
committed directories of this run with ONE read, and seals the batch with
ONE ``seal_many``; ``extract_partition`` is its one-customer call (the
way ``validate_partition`` wraps ``validate_batch``). The reference — and
this module before the bulk path — paid a write, a schema-inference
re-read and a manifest append per (query, customer).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, datetime, timezone

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gads_etl_spark.pipeline import fsutil
from gads_etl_spark.pipeline.keys import PartitionKey, escape_path_name
from gads_etl_spark.pipeline.raw_sink import RawZone, SealedPartitionError


@dataclass(frozen=True)
class QueryDefinition:
    """Declarative query spec (reference config.py:16-20 / YAML)."""

    name: str
    entity: str
    date_column: str
    fields: tuple[str, ...]

    def flat_name(self, field: str) -> str:
        return field.replace(".", "_")


def flatten_projection(df: DataFrame, qdef: QueryDefinition,
                       start: date, end: date, *extra: Column) -> DataFrame:
    """P1+S2: select the configured dot-paths as snake_case columns,
    filtered to the date window. Declarative → Catalyst prunes nested
    fields and pushes the date predicate into the scan. ``extra`` columns
    (evaluated against ``df``) follow the provenance column."""
    cols = [F.col(f).alias(qdef.flat_name(f)) for f in qdef.fields]
    return (
        df.where(F.col(qdef.date_column).between(F.lit(start), F.lit(end)))
        .select(*cols, F.lit(qdef.name).alias("__query_name"), *extra)
    )


def extract_partition(
    source: DataFrame,
    raw: RawZone,
    qdef: QueryDefinition,
    key: PartitionKey,
    run_id: str,
    schema_version: str = "v1",
) -> dict:
    """One extraction attempt for one logical partition (reference
    pipeline.py:38-78): ``source`` holds this customer's rows (the
    reference's per-customer API call); flatten + filter to the
    partition's logical_date, write payload, seal metadata-last. A
    one-customer ``extract_day_bulk``. Returns the manifest row."""
    return extract_day_bulk(
        source, raw, qdef, None, key.logical_date, run_id,
        source_name=key.source, schema_version=schema_version,
        customers=[key.customer_id],
    )[0]


def extract_day_bulk(
    source: DataFrame,
    raw: RawZone,
    qdef: QueryDefinition,
    customer_col: str | None,
    logical_date: date,
    run_id: str,
    source_name: str = "google_ads",
    schema_version: str = "v1",
    *,
    customers: Sequence[str] | None = None,
) -> list[dict]:
    """Extract every customer's partition of one (query, day) in ONE write.

    ``customer_col`` names each row's customer: a configured field's
    flattened name (``campaign_customer_id``) or a top-level source
    column (``customer_id``). ``None`` means the source is one customer's
    export, and every customer in ``customers`` gets the whole day.

    ``customers`` are the planned customers: only their rows are
    extracted (``customer_col IN customers``, a filter a connector can
    push into its scan), and each gets a sealed partition — an empty
    directory, made without a write job, when the source has no rows for
    it. Left out, the partitions are the customers present in the source.

    The flattened day is written once with ``partitionBy`` over the five
    layout columns (the same hive layout ``RawZone.partition_path``
    names, one job, tasks fan out per customer). Overwrite refusal runs
    before the write: a directory of this (query, day, run) for a planned
    customer — for any customer when ``customers`` is left out — refuses
    the batch, whether sealed or left unsealed by a failed attempt.
    Record counts come from ONE re-read of this run's committed
    directories with the written schema (write-then-count), and the
    seals land via one ``seal_many``. The write commits through the
    raw root's shared staging directory, so extractions into one raw
    root run one at a time (the single-writer rule of every zone here).

    Returns the manifest rows, sorted by customer.
    """
    if customer_col is None and customers is None:
        raise ValueError("a source without a customer column needs the planned customers")
    if customers is not None:
        customers = sorted(set(customers))
        if not customers:
            return []
    spark = raw.spark
    run_dirs = raw.run_glob(source_name, qdef.name, logical_date, run_id)
    # Overwrite refusal, before the write: one glob finds this run's
    # directories (``.../customer_id=X/query_name=/logical_date=/run_id=``).
    # A planned customer's directory must not exist yet — sealed, it is
    # immutable; left by a failed attempt, the append would add its rows
    # to this attempt's count.
    taken = {d.rsplit("/", 4)[1].partition("=")[2] for d in fsutil.glob(spark, run_dirs)}
    if customers is not None:
        taken &= {escape_path_name(c) for c in customers}
    if taken:
        raise SealedPartitionError(
            f"extraction for {qdef.name}/{logical_date} run_id={run_id} already "
            f"wrote customer_id={sorted(taken)} (sealed, or left by a failed "
            "attempt); raw partitions are immutable, extract under a new run_id"
        )

    if customer_col is None:
        customer = F.explode(F.array(*[F.lit(c) for c in customers]))
    else:
        field_of = {qdef.flat_name(f): f for f in qdef.fields}
        customer = F.col(field_of.get(customer_col, customer_col)).cast("string")
        if customers is not None:
            source = source.where(customer.isin(customers))
    flat = flatten_projection(source, qdef, logical_date, logical_date,
                              customer.alias("customer_id"))
    (
        flat.select(
            "*",
            F.lit(source_name).alias("source"),
            F.lit(qdef.name).alias("query_name"),
            F.lit(logical_date.isoformat()).alias("logical_date"),
            F.lit(run_id).alias("run_id"),
        )
        .write.mode("append")
        .partitionBy("source", "customer_id", "query_name", "logical_date", "run_id")
        .format(raw.data_format)
        .save(raw.root)
    )

    # Write-then-count: one read of the directories this run wrote.
    written = fsutil.glob(spark, run_dirs)
    counted = (
        raw.read_partitions(written, flat.drop("customer_id").schema)
        .groupBy("customer_id").count().collect()
        if written else []
    )
    counts = {r["customer_id"]: r["count"] for r in counted}
    if customers is None:
        customers = sorted(counts)
    for c in customers:
        if c not in counts:  # no source rows: an empty partition, no write job
            fsutil.mkdirs(spark, raw.partition_path(
                PartitionKey(source_name, c, qdef.name, logical_date), run_id))
    extracted_at = datetime.now(timezone.utc).replace(tzinfo=None)
    metas = [
        {
            "source": source_name, "customer_id": c,
            "query_name": qdef.name, "logical_date": logical_date,
            "run_id": run_id, "extracted_at": extracted_at,
            "schema_version": schema_version, "record_count": counts.get(c, 0),
            "api_version": None,
            "query_signature": f"SELECT {', '.join(qdef.fields)} FROM {qdef.entity}",
        }
        for c in customers
    ]
    if metas:
        raw.seal_many(metas)
    return metas
