"""Bulk extraction: all customers of a day in one partitionBy job."""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gads_etl_spark.pipeline import (
    PartitionKey,
    PointerStore,
    RawZone,
    StateStore,
    WarehouseLoader,
)
from gads_etl_spark.pipeline.consumer import read_published
from gads_etl_spark.pipeline.extract import (
    QueryDefinition,
    extract_day_bulk,
    extract_partition,
)
from gads_etl_spark.pipeline.raw_sink import SealedPartitionError
from gads_etl_spark.pipeline.validator import validate_batch, validate_partition

QDEF = QueryDefinition(
    name="campaign_stats", entity="campaign", date_column="segments.date",
    fields=("campaign.id", "campaign.customer", "segments.date", "metrics.clicks"),
)

DAY = date(2024, 1, 5)
N_CUSTOMERS = 40


def _source(spark):
    rows = [
        Row(campaign=Row(id=c * 100 + i, customer=c),
            segments=Row(date=DAY.isoformat()),
            metrics=Row(clicks=i))
        for c in range(N_CUSTOMERS) for i in range(3)
    ]
    return spark.createDataFrame(rows)


def test_bulk_extract_validate_publish(spark, tmp_path):
    raw = RawZone(spark, str(tmp_path / "raw"))
    states = StateStore(spark, str(tmp_path / "state"))
    pointers = PointerStore(spark, str(tmp_path / "ptr"))

    metas = extract_day_bulk(
        _source(spark), raw, QDEF, customer_col="campaign_customer",
        logical_date=DAY, run_id="run-a",
    )
    assert len(metas) == N_CUSTOMERS
    assert all(m["record_count"] == 3 for m in metas)

    # Every partition is sealed, individually readable, and laid out in
    # the exact same hive structure single-partition writes use.
    key = PartitionKey("google_ads", "7", "campaign_stats", DAY)
    assert raw.is_sealed(key, "run-a")
    part = raw.read_partition(key, "run-a")
    assert part.count() == 3
    assert set(part.columns) >= {"campaign_id", "metrics_clicks", "__query_name"}

    requests = spark.createDataFrame([
        {"source": m["source"], "customer_id": m["customer_id"],
         "query_name": m["query_name"], "logical_date": m["logical_date"],
         "run_id": m["run_id"], "schema_version": m["schema_version"]}
        for m in metas
    ])
    outcome = validate_batch(raw, states, requests)
    assert outcome.where(F.col("status") == "success").count() == N_CUSTOMERS

    plan = WarehouseLoader(states, pointers).run()
    assert plan.counts()["load"] == N_CUSTOMERS
    assert read_published(raw, pointers).count() == N_CUSTOMERS * 3


def test_bulk_rerun_blocked_by_seal(spark, tmp_path):
    raw = RawZone(spark, str(tmp_path / "raw"))
    extract_day_bulk(_source(spark), raw, QDEF, "campaign_customer", DAY, "run-a")

    with pytest.raises(SealedPartitionError):
        extract_day_bulk(_source(spark), raw, QDEF, "campaign_customer", DAY, "run-a")


def test_escape_path_name_matches_spark(spark):
    """The layout's escaping is Spark's own: every ASCII character (and a
    few beyond) escapes exactly as ``ExternalCatalogUtils.escapePathName``
    escapes it for a ``partitionBy`` directory name."""
    from gads_etl_spark.pipeline.keys import escape_path_name

    jvm_escape = (spark._jvm.org.apache.spark.sql.catalyst.catalog
                  .ExternalCatalogUtils.escapePathName)
    samples = ["".join(chr(c) for c in range(1, 128)),
               "2024-03-01T01:00:00.000Z", "a=b/c", "100%", "ñ-é"]
    for s in samples:
        assert escape_path_name(s) == jvm_escape(s), s


def test_bulk_partitions_with_colon_run_ids_are_readable(spark, tmp_path):
    """The pipeline's own run_id format carries ':'. A bulk write escapes
    it in the directory name (``%3A``); the seal marker, ``read_partition``,
    validation and curated staging must all name that same directory."""
    from gads_etl_spark.pipeline.curated_sink import CuratedZone, materialize_plan
    from gads_etl_spark.pipeline.keys import new_run_id

    raw = RawZone(spark, str(tmp_path / "raw"))
    curated = CuratedZone(spark, str(tmp_path / "curated"))
    states = StateStore(spark, str(tmp_path / "state"))
    pointers = PointerStore(spark, str(tmp_path / "ptr"))
    run_id = new_run_id()
    assert ":" in run_id
    source = _source(spark).where(F.col("campaign.customer") < 3)

    metas = extract_day_bulk(source, raw, QDEF, "campaign_customer", DAY, run_id)
    assert [m["customer_id"] for m in metas] == ["0", "1", "2"]
    key = PartitionKey("google_ads", "1", "campaign_stats", DAY)
    assert "%3A" in raw.partition_path(key, run_id)
    assert raw.is_sealed(key, run_id)
    assert raw.read_partition(key, run_id).count() == 3

    requests = spark.createDataFrame([
        {**PartitionKey(m["source"], m["customer_id"], m["query_name"],
                        m["logical_date"]).as_dict(),
         "run_id": run_id, "schema_version": "v1"} for m in metas
    ])
    outcome = validate_batch(raw, states, requests).collect()
    assert {r["status"] for r in outcome} == {"success"}

    loader = WarehouseLoader(states, pointers)
    plan = loader.reconcile()
    assert materialize_plan(raw, curated, plan) == 3
    loader.run(plan)
    assert curated.read_partition(key, run_id).count() == 3
    assert read_published(curated, pointers).count() == 9
    assert {r["run_id"] for r in pointers.read().collect()} == {run_id}


def test_planned_customers_scope_and_zero_row_partitions(spark, tmp_path):
    """With planned customers, only their rows are extracted, and a planned
    customer with no rows still gets a sealed, readable zero-count
    partition."""
    raw = RawZone(spark, str(tmp_path / "raw"))
    metas = extract_day_bulk(_source(spark), raw, QDEF, "campaign_customer", DAY,
                             "run-a", customers=["5", "3", "999"])
    assert [(m["customer_id"], m["record_count"]) for m in metas] == [
        ("3", 3), ("5", 3), ("999", 0)]
    empty = PartitionKey("google_ads", "999", "campaign_stats", DAY)
    assert raw.is_sealed(empty, "run-a")
    assert raw.read_partition(empty, "run-a").count() == 0
    assert raw.manifest().count() == 3


def test_extract_partition_per_customer_under_one_run(spark, tmp_path):
    """The reference's pattern: one run_id per execution, one
    ``extract_partition`` per customer. A seal refuses only its own
    customer's partition, so the next customer of the same run and day
    extracts, seals and validates."""
    raw = RawZone(spark, str(tmp_path / "raw"))
    states = StateStore(spark, str(tmp_path / "state"))

    def extract(c):
        key = PartitionKey("google_ads", c, "campaign_stats", DAY)
        rows = _source(spark).where(F.col("campaign.customer") == int(c))
        return key, extract_partition(rows, raw, QDEF, key, "run-a")

    for c in ("3", "5"):
        key, meta = extract(c)
        assert meta["record_count"] == 3
        assert raw.is_sealed(key, "run-a")
        assert validate_partition(raw, states, key, "run-a")["status"] == "success"
    with pytest.raises(SealedPartitionError):
        extract("3")
    assert raw.manifest().count() == 2


def test_unsealed_leftover_refuses_the_same_run(spark, tmp_path):
    """A planned customer's directory left unsealed by a failed attempt
    refuses a re-extraction under the same run_id, before any write: an
    append would add the failed attempt's rows to the sealed count."""
    raw = RawZone(spark, str(tmp_path / "raw"))
    key = PartitionKey("google_ads", "3", "campaign_stats", DAY)
    rows = _source(spark).where(F.col("campaign.customer") == 3)
    flatten = QDEF.flat_name
    rows.select(*[F.col(f).alias(flatten(f)) for f in QDEF.fields]).write.json(
        raw.partition_path(key, "run-a"))  # the failed attempt's payload

    with pytest.raises(SealedPartitionError):
        extract_partition(rows, raw, QDEF, key, "run-a")
    assert not raw.is_sealed(key, "run-a") and raw.manifest().count() == 0
    assert extract_partition(rows, raw, QDEF, key, "run-b")["record_count"] == 3
