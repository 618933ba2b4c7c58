"""Daily pipeline runner: the reference's `gads-etl daily` end to end.

Orchestrates (reference src/gads_etl/pipeline.py:138-185, cli.py:40-45):

1. one ``run_id`` per execution (fences every write),
2. the planned (query × customer) extractions for the target date
   (``plan_daily_runs``), ONE ``extract_day_bulk`` per (query, day): one
   ``partitionBy`` write for all planned customers, one re-count, one
   seal batch. A source with a top-level ``customer_id`` column is
   scoped to ``customer_id IN (planned customers)`` — each partition
   holds its own customer's rows, as the reference's per-customer API
   call does, and a connector prunes its scan from that pushed filter. A
   source without the column is a single-customer export: every planned
   customer gets the whole day,
3. ONE batch validation for all extracted partitions (the reference
   validates per-partition; see validator.py scale notes),
4. ONE reconcile, whose materialized plan drives curated staging, the
   pointer publish and the reported counts.

The Spark job count of a sync therefore follows the number of queries,
not the number of customers or steps; what stays per customer is file
metadata on the driver (a seal marker each, an empty directory for a
customer without rows). Every control batch (seal rows,
validation requests, outcomes, the plan) is a JVM-local relation.

Failures are contained per extraction batch (partial-failure accounting,
docs/control_plane.md:39-43): an extraction error marks every partition
of that (query, day) failed in the run report and the rest proceed.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field
from datetime import date

from pyspark.sql import DataFrame, SparkSession

from gads_etl_spark.pipeline.config import PipelineConfig, plan_daily_runs
from gads_etl_spark.pipeline.curated_sink import CuratedZone, materialize_plan
from gads_etl_spark.pipeline.extract import extract_day_bulk
from gads_etl_spark.pipeline.keys import PartitionKey, new_run_id
from gads_etl_spark.pipeline.loader import WarehouseLoader
from gads_etl_spark.pipeline.local import local_frame
from gads_etl_spark.pipeline.pointer_store import PointerStore
from gads_etl_spark.pipeline.raw_sink import RawZone
from gads_etl_spark.pipeline.state_store import StateStore
from gads_etl_spark.pipeline.validator import REQUEST_SCHEMA, validate_batch


@dataclass
class RunReport:
    run_id: str
    extracted: list[PartitionKey] = field(default_factory=list)
    extract_errors: dict[PartitionKey, str] = field(default_factory=dict)
    validated_success: int = 0
    validated_failed: int = 0
    staged: int = 0
    published: dict[str, int] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.extract_errors and self.validated_failed == 0


def run_daily(
    spark: SparkSession,
    config: PipelineConfig,
    sources: dict[str, DataFrame],
    raw: RawZone,
    states: StateStore,
    pointers: PointerStore,
    target_date: date,
    curated: CuratedZone | None = None,
    run_id: str | None = None,
    dq_checks: list | None = None,
    lookback_days: int | None = None,
) -> RunReport:
    """One daily sync: extract → validate (one batch) → load → publish.

    ``sources`` maps query entity → source DataFrame (the fixture stand-in
    for the live connector; a real deployment plugs a DataSource here).
    ``dq_checks`` (operators/dq.py constraints) gate each curated staging
    copy — a violating partition stages nothing and fails the run loudly.
    ``lookback_days`` overrides the config's daily lookback — the
    reference's catch-up mode is exactly a daily sync with the lookback
    widened to the catch-up window (pipeline.py:179-185), so
    ``run_daily(..., lookback_days=window)`` IS historical_catch_up.
    """
    report = RunReport(run_id=run_id or new_run_id())
    batches: dict[tuple[str, date], list[str]] = {}
    for r in plan_daily_runs(config, target_date, lookback_days=lookback_days):
        batches.setdefault((r.query_name, r.logical_date), []).append(r.customer_id)

    for (query_name, logical_date), customers in batches.items():
        qdef = config.query(query_name)
        keys = [PartitionKey(config.source, c, query_name, logical_date)
                for c in customers]
        try:
            source = sources[qdef.entity]
            extract_day_bulk(
                source, raw, qdef,
                "customer_id" if "customer_id" in source.columns else None,
                logical_date, report.run_id, source_name=config.source,
                customers=customers,
            )
            report.extracted.extend(keys)
        except Exception as exc:  # partial-failure accounting per batch
            for k in keys:
                report.extract_errors[k] = str(exc)

    if report.extracted:
        requests = local_frame(
            spark,
            [{**k.as_dict(), "run_id": report.run_id, "schema_version": "v1"}
             for k in report.extracted],
            REQUEST_SCHEMA,
        )
        # The outcome is a JVM-local relation: collecting it runs no job.
        statuses = Counter(r["status"] for r in
                           validate_batch(raw, states, requests).collect())
        report.validated_success = statuses["success"]
        report.validated_failed = statuses["failed"]

    loader = WarehouseLoader(states, pointers)
    plan = loader.reconcile()
    if curated is not None:
        report.staged = materialize_plan(raw, curated, plan, checks=dq_checks)
    loader.run(plan)
    report.published = plan.counts()
    return report
