"""Daily runner E2E: config-driven extract → batch validate → publish."""

from __future__ import annotations

import uuid
from datetime import date

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gads_etl_spark.pipeline import PointerStore, RawZone, StateStore
from gads_etl_spark.pipeline.config import load_config
from gads_etl_spark.pipeline.consumer import read_published
from gads_etl_spark.pipeline.curated_sink import CuratedZone
from gads_etl_spark.pipeline.keys import LOGICAL_KEY
from gads_etl_spark.pipeline.loader import WarehouseLoader
from gads_etl_spark.pipeline.runner import run_daily

YAML = """
source: google_ads
customer_ids: "123, 456"
queries:
  - name: campaign_stats
    entity: campaign
    date_column: segments.date
    fields: [campaign.id, segments.date, metrics.clicks]
"""

TARGET = date(2024, 1, 2)


def _campaign_source(spark):
    rows = [
        Row(campaign=Row(id=c), segments=Row(date=d), metrics=Row(clicks=c * 10))
        for d in ("2024-01-01", "2024-01-02")
        for c in (1, 2)
    ]
    return spark.createDataFrame(rows)


@pytest.fixture
def env(spark, tmp_path):
    return dict(
        spark=spark,
        config=load_config(YAML),
        sources={"campaign": _campaign_source(spark)},
        raw=RawZone(spark, str(tmp_path / "raw")),
        states=StateStore(spark, str(tmp_path / "state")),
        pointers=PointerStore(spark, str(tmp_path / "ptr")),
        curated=CuratedZone(spark, str(tmp_path / "curated")),
    )


def test_daily_run_end_to_end(env):
    report = run_daily(**env, target_date=TARGET)

    assert report.ok
    assert len(report.extracted) == 2  # 1 query × 2 customers
    assert report.validated_success == 2
    assert report.staged == 2
    assert report.published == {"load": 2, "replace": 0, "demote": 0}

    visible = read_published(env["curated"], env["pointers"])
    # Each customer partition holds the target date's rows only.
    assert visible.count() == 4
    assert visible.select("segments_date").distinct().collect()[0][0] == "2024-01-02"


def test_rerun_same_day_replaces_with_new_run(env):
    first = run_daily(**env, target_date=TARGET, run_id="2024-01-02T01:00:00.000Z")
    second = run_daily(**env, target_date=TARGET, run_id="2024-01-02T02:00:00.000Z")

    assert first.ok and second.ok
    assert second.published == {"load": 0, "replace": 2, "demote": 0}
    ptr_runs = {r.run_id for r in env["pointers"].read().collect()}
    assert ptr_runs == {"2024-01-02T02:00:00.000Z"}


def test_missing_entity_is_partial_failure(env):
    env = dict(env)
    env["sources"] = {}  # connector down for every partition
    report = run_daily(**env, target_date=TARGET)
    assert not report.ok
    assert len(report.extract_errors) == 2
    assert report.published == {"load": 0, "replace": 0, "demote": 0}


def _export_source(spark, rows_per_customer):
    """A multi-customer export: a top-level ``customer_id`` column, the
    target day's rows per customer as given, plus a row of the day before
    for each."""
    rows = [
        Row(customer_id=c, campaign=Row(id=i), segments=Row(date=d),
            metrics=Row(clicks=i))
        for c, n in rows_per_customer.items()
        for d, k in (("2024-01-02", n), ("2024-01-01", 1))
        for i in range(k)
    ]
    return spark.createDataFrame(rows)


def _manifest_counts(raw):
    return {r["customer_id"]: r["record_count"] for r in raw.manifest().collect()}


def test_export_source_scopes_each_partition_to_its_customer(env):
    """A source with a top-level customer_id column is filtered to the
    planned customers: each partition holds only its customer's rows (the
    reference's per-customer API call), and rows of unplanned customers
    are never extracted."""
    env = dict(env, sources={"campaign": _export_source(
        env["spark"], {"123": 3, "456": 2, "789": 4})})
    report = run_daily(**env, target_date=TARGET)

    assert report.ok and report.published["load"] == 2
    assert _manifest_counts(env["raw"]) == {"123": 3, "456": 2}
    visible = read_published(env["raw"], env["pointers"])
    assert visible.count() == 5


def test_planned_customer_without_rows_is_sealed_empty_and_published(env):
    """Zero-row parity: a planned customer with no rows for the day gets a
    sealed zero-count partition that validates, is staged to the curated
    zone and is published."""
    env = dict(env, sources={"campaign": _export_source(
        env["spark"], {"123": 3, "456": 0})})
    report = run_daily(**env, target_date=TARGET)

    assert report.ok and report.validated_success == 2 and report.staged == 2
    assert report.published == {"load": 2, "replace": 0, "demote": 0}
    assert _manifest_counts(env["raw"]) == {"123": 3, "456": 0}
    assert env["states"].read().where(F.col("status") == "success").count() == 2
    assert {r["customer_id"] for r in env["pointers"].read().collect()} == {"123", "456"}
    assert read_published(env["curated"], env["pointers"]).count() == 3


def test_curated_sync_reconciles_once(env, monkeypatch):
    """Curated staging and the pointer publish share ONE reconcile: the
    staged partitions are exactly the published load+replace targets."""
    calls = []
    reconcile = WarehouseLoader.reconcile

    def counting_reconcile(self):
        calls.append(1)
        return reconcile(self)

    monkeypatch.setattr(WarehouseLoader, "reconcile", counting_reconcile)
    run_daily(**env, target_date=TARGET, run_id="2024-01-02T01:00:00.000Z")
    report = run_daily(**env, target_date=TARGET, run_id="2024-01-02T02:00:00.000Z")

    assert len(calls) == 2  # one per sync
    assert report.staged == report.published["load"] + report.published["replace"] == 2

    def runs(df, run_col):
        return {(*(r[c] for c in LOGICAL_KEY), r[run_col]) for r in df.collect()}

    staged = runs(env["curated"].manifest().where(
        F.col("run_id") == report.run_id), "run_id")
    assert staged == runs(env["pointers"].read(), "run_id")


def _next_day_sync_jobs(spark, root, rows_per_customer):
    """Spark jobs of one next-day sync, after a set-up load, of the given
    customers (an export source; a customer mapped to 0 has no rows for
    the day)."""
    ids = ", ".join(rows_per_customer)
    env = dict(
        spark=spark,
        config=load_config(YAML.replace('"123, 456"', f'"{ids}"')),
        sources={"campaign": _export_source(spark, rows_per_customer)},
        raw=RawZone(spark, str(root / "raw")),
        states=StateStore(spark, str(root / "state")),
        pointers=PointerStore(spark, str(root / "ptr")),
        curated=None,
    )
    run_daily(**env, target_date=date(2024, 1, 1))  # set-up load
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "next-day sync")
    try:
        report = run_daily(**env, target_date=TARGET)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert report.ok and report.published["load"] == len(rows_per_customer)
    day = env["raw"].manifest().where(F.col("logical_date") == TARGET)
    assert {r["customer_id"]: r["record_count"] for r in day.collect()} == rows_per_customer
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_next_day_sync_job_budget(spark, tmp_path):
    """A steady next-day sync of 2 customers costs a fixed handful of
    Spark jobs, and more customers — some without rows for the day — cost
    no more. A change that brings back per-partition jobs (a write,
    re-read or seal per customer, an empty write per row-less customer)
    or re-runs reconcile joins fails this."""
    two = _next_day_sync_jobs(spark, tmp_path / "two", {"123": 2, "456": 1})
    assert 0 < two <= 35, two
    many = {str(c): c % 3 for c in range(101, 109)}  # 3 customers without rows
    assert _next_day_sync_jobs(spark, tmp_path / "many", many) <= two
