"""Warehouse loader: reconcile state→pointers, publish, demote.

Contract parity (reference src/gads_etl/warehouse/loader.py:44-132,
docs/warehouse_semantics.md):

- Reconcile (J1, loader.py:51-91): LEFT join of ``status=success`` states
  (with a non-null ``current_run_id`` — loader.py:61-63) against warehouse
  pointers on the 4-part logical key; classify each state row as
  ``load`` (no pointer), ``replace`` (pointer at a different run_id) or
  no-op (pointer already current).
- Demote (J2, loader.py:92-107): pointers whose key is NOT in the success
  set are deleted — an anti-join, not a per-row lookup.
- Publish (loader.py:109-123): upsert one pointer row per load/replace
  target with ``loaded_at = now``; the pointer swap is the consumer-visible
  atomic publish point (docs/warehouse_semantics.md:18-25,62).

Scale notes: the reference loops state rows one pointer lookup at a time;
here reconciliation is ONE left join + ONE anti-join regardless of
partition count. Both control tables are tiny relative to data (~1 row per
logical partition), so at 10M partitions this is still a single small
shuffle — or a broadcast join if one side fits. The joins run ONCE per
reconcile: the plan's load/replace/demote rows (a Δ-sized batch) are
collected in one action and held as JVM-local relations, so publishing,
demoting and counting never re-run them.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gads_etl_spark.pipeline.keys import LOGICAL_KEY
from gads_etl_spark.pipeline.local import local_frame
from gads_etl_spark.pipeline.pointer_store import POINTER_SCHEMA, PointerStore
from gads_etl_spark.pipeline.state_store import STATE_SCHEMA, StateStore

#: A load/replace target: the logical key and the run to publish.
TARGET_SCHEMA = T.StructType([
    f for f in STATE_SCHEMA.fields
    if f.name in (*LOGICAL_KEY, "current_run_id", "schema_version")
])


@dataclass(frozen=True)
class ReconciliationPlan:
    """Immutable reconciliation outcome (reference loader.py:23-29).

    ``load``/``replace`` carry the logical key + target run_id/schema_version;
    ``demote`` carries the stale pointer rows. A plan from
    ``WarehouseLoader.reconcile`` is materialized: its frames are
    JVM-local rows of the pre-mutation snapshot and ``sizes`` holds their
    row counts. A plan built from lazy frames leaves ``sizes`` unset.
    """

    load: DataFrame
    replace: DataFrame
    demote: DataFrame
    sizes: dict[str, int] | None = field(default=None, compare=False)

    def counts(self) -> dict[str, int]:
        if self.sizes is not None:
            return dict(self.sizes)
        return {
            "load": self.load.count(),
            "replace": self.replace.count(),
            "demote": self.demote.count(),
        }


def classify_targets(success_states: DataFrame, pointers: DataFrame) -> DataFrame:
    """J1: left-join classify success states against pointers.

    Returns the state columns + pointer run_id + an ``action`` column in
    {'load', 'replace', 'noop'} (reference loader.py:86-91).
    """
    states = success_states.where(F.col("current_run_id").isNotNull())
    ptr = pointers.select(
        *LOGICAL_KEY, F.col("run_id").alias("pointer_run_id")
    )
    joined = states.join(ptr, list(LOGICAL_KEY), "left")
    return joined.withColumn(
        "action",
        F.when(F.col("pointer_run_id").isNull(), F.lit("load"))
        .when(F.col("pointer_run_id") != F.col("current_run_id"), F.lit("replace"))
        .otherwise(F.lit("noop")),
    )


def demotion_targets(success_states: DataFrame, pointers: DataFrame) -> DataFrame:
    """J2: pointers whose logical key has no successful state (anti-join)."""
    success_keys = (
        success_states.where(F.col("current_run_id").isNotNull())
        .select(*LOGICAL_KEY)
        .distinct()
    )
    return pointers.join(success_keys, list(LOGICAL_KEY), "left_anti")


class WarehouseLoader:
    """Reconcile → publish → demote (reference loader.py:32-132)."""

    def __init__(self, states: StateStore, pointers: PointerStore):
        self._states = states
        self._pointers = pointers

    def reconcile(self) -> ReconciliationPlan:
        """Build the plan without mutating anything (dry-run friendly).

        The classify and demote joins run in ONE action whose rows (the
        Δ, not the tables) come back to the driver and are held as
        JVM-local relations: the plan is a snapshot of the state and
        pointers as they were, whatever is published afterwards."""
        success = self._states.read().where(F.col("status") == "success")
        ptrs = self._pointers.read()
        targets = (
            classify_targets(success, ptrs)
            .where(F.col("action") != "noop")
            .select("action", *TARGET_SCHEMA.fieldNames(), F.lit(None).alias("loaded_at"))
        )
        stale = demotion_targets(success, ptrs).select(
            F.lit("demote").alias("action"), *LOGICAL_KEY,
            F.col("run_id").alias("current_run_id"), "schema_version", "loaded_at",
        )
        rows: dict[str, list] = {"load": [], "replace": [], "demote": []}
        for r in targets.unionByName(stale).collect():
            rows[r["action"]].append(r)
        spark = self._states.spark
        return ReconciliationPlan(
            load=local_frame(spark, rows["load"], TARGET_SCHEMA),
            replace=local_frame(spark, rows["replace"], TARGET_SCHEMA),
            demote=local_frame(
                spark, [{**r.asDict(), "run_id": r["current_run_id"]} for r in rows["demote"]],
                POINTER_SCHEMA),
            sizes={k: len(v) for k, v in rows.items()},
        )

    def run(self, plan: ReconciliationPlan | None = None) -> ReconciliationPlan:
        """Reconcile, then publish load+replace targets and demote stale
        pointers (reference loader.py:44-49). Plan DataFrames are computed
        against the pre-mutation snapshot, mirroring the reference.
        Pass ``plan`` to publish a plan already reconciled (and staged)
        by the caller instead of recomputing it."""
        plan = plan or self.reconcile()
        sizes = plan.counts()
        # Skip a commit when there is nothing to publish or demote: a
        # pointer-table rewrite is cheap but not free, and no-op loads are
        # the common case in steady state.
        if sizes["load"] or sizes["replace"]:
            self._publish(plan)
        if sizes["demote"]:
            self._pointers.delete(plan.demote.select(*LOGICAL_KEY))
        return plan

    def _publish(self, plan: ReconciliationPlan) -> None:
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        targets = plan.load.unionByName(plan.replace)
        self._pointers.upsert(targets.select(
            *LOGICAL_KEY,
            F.col("current_run_id").alias("run_id"),
            F.coalesce(F.col("schema_version"), F.lit("")).alias("schema_version"),
            F.lit(now).alias("loaded_at"),
        ))
