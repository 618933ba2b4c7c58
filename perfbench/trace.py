"""Traced mode: per-layer spans with Spark job and task attribution.

Each layer's public entry points are wrapped by swapping module and class
attributes for timing wrappers (for the traced run only; ``uninstall``
puts the originals back). A span records its layer, entry point, start,
end, parent and op id. Every span runs its Spark jobs under its own job
group, so the status store attributes each job to the innermost span that
was open when the job was launched.

A call into a layer whose innermost open span already belongs to that
layer does not open a new span: calls, self time and jobs of a layer are
counted once per entry from another layer.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import time

#: Every layer the traced mode reports, in report order.
LAYERS = (
    "session",
    "cli",
    "pipeline.runner",
    "pipeline.extract",
    "pipeline.raw_sink",
    "pipeline.validator",
    "pipeline.state_store",
    "pipeline.pointer_store",
    "pipeline.loader",
    "pipeline.curated_sink",
    "pipeline.consumer",
    "pipeline.control_plane",
    "queries.relational",
    "queries.events_suite",
    "queries.extension_suite",
    "operators.dedup",
    "operators.similarity",
    "operators.quality",
    "operators.vocab",
)

OPERATOR_MODULES = ("dedup", "similarity", "quality", "vocab")


class NullTracer:
    """Untraced runs: same API, no wrappers, no spans."""

    op = "setup"

    def span(self, layer: str, name: str):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op = "setup"

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if self._stack and self._stack[-1]["layer"] == layer:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "layer": layer, "name": name,
             "parent": parent["id"] if parent else None, "op": self.op}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"perfbench-span-{s['id']}", name)
        s["start"] = time.perf_counter()
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-span-{parent['id']}", parent["name"])
            else:
                self.sc.setJobGroup("perfbench-untraced", "outside any span")

    # -- wrappers ----------------------------------------------------------

    def _swap(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap_function(self, module, attr: str, layer: str) -> None:
        orig = getattr(module, attr)
        name = f"{module.__name__}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(layer, name):
                return orig(*args, **kwargs)

        # Rebind every module-level alias (``from x import f`` copies).
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("gads_etl_spark"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    self._swap(mod, k, wrapper)

    def wrap_method(self, cls, attr: str, layer_of) -> None:
        orig = cls.__dict__[attr]
        name = f"{cls.__module__}.{cls.__name__}.{attr}"

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            with self.span(layer_of(obj), name):
                return orig(obj, *args, **kwargs)

        self._swap(cls, attr, wrapper)

    def install(self) -> None:
        import importlib

        from gads_etl_spark import cli, session
        from gads_etl_spark.pipeline import (
            consumer,
            control_plane,
            curated_sink,
            extract,
            loader,
            pointer_store,
            raw_sink,
            runner,
            state_store,
            validator,
        )

        self.wrap_function(session, "get_session", "session")
        self.wrap_function(cli, "main", "cli")
        self.wrap_function(runner, "run_daily", "pipeline.runner")
        for f in ("extract_partition", "extract_day_bulk"):
            self.wrap_function(extract, f, "pipeline.extract")
        for f in ("validate_batch", "validate_partition"):
            self.wrap_function(validator, f, "pipeline.validator")
        for f in ("materialize_plan", "stage_partition"):
            self.wrap_function(curated_sink, f, "pipeline.curated_sink")
        for f in ("read_published", "preview"):
            self.wrap_function(consumer, f, "pipeline.consumer")

        # The curated zone IS a RawZone subclass: its writes and reads are
        # attributed to the curated layer, not the raw sink.
        def zone_layer(z):
            if isinstance(z, curated_sink.CuratedZone):
                return "pipeline.curated_sink"
            return "pipeline.raw_sink"

        for m in ("write_partition", "seal_many", "manifest", "is_sealed",
                  "read_partition", "read_all", "list_run_ids",
                  "run_id_index", "compact_manifest"):
            self.wrap_method(raw_sink.RawZone, m, zone_layer)
        for m in ("read", "upsert", "commit", "get", "list_states"):
            self.wrap_method(state_store.StateStore, m,
                             lambda _: "pipeline.state_store")
        for m in ("read", "upsert", "delete", "get"):
            self.wrap_method(pointer_store.PointerStore, m,
                             lambda _: "pipeline.pointer_store")
        for m in ("reconcile", "run"):
            self.wrap_method(loader.WarehouseLoader, m, lambda _: "pipeline.loader")
        self.wrap_method(loader.ReconciliationPlan, "counts",
                         lambda _: "pipeline.loader")
        for m in ("retry", "mark_terminal", "backfill"):
            self.wrap_method(control_plane.ControlPlane, m,
                             lambda _: "pipeline.control_plane")

        for short in OPERATOR_MODULES:
            mod = importlib.import_module(f"gads_etl_spark.operators.{short}")
            for attr, v in list(vars(mod).items()):
                # Plain public functions only: UDF objects keep their
                # own call protocol and are left alone.
                if (inspect.isfunction(v) and not attr.startswith("_")
                        and v.__module__ == mod.__name__
                        and not hasattr(v, "evalType")):
                    self.wrap_function(mod, attr, f"operators.{short}")
        self.sc.setJobGroup("perfbench-untraced", "outside any span")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- aggregation -------------------------------------------------------

    def _job_stats(self, span_id: int):
        """(jobs, tasks, stage ids) launched under one span's job group."""
        store = self.sc._jsc.sc().statusStore()
        jobs = self.sc.statusTracker().getJobIdsForGroup(f"perfbench-span-{span_id}")
        tasks, stages = 0, set()
        for j in jobs:
            jd = store.job(j)
            tasks += jd.numTasks() - jd.numSkippedTasks()
            ids = jd.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        return len(jobs), tasks, stages

    def input_records(self, stage_ids) -> int:
        store = self.sc._jsc.sc().statusStore()
        total = 0
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) != "SKIPPED":
                total += sd.inputRecords()
        return total

    def finish(self) -> None:
        """Self times and job/task counts of every span (after the run)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                           + s["end"] - s["start"])
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - child_time.get(s["id"], 0.0)
            s["jobs"], s["tasks"], stages = self._job_stats(s["id"])
            s["stages"] = sorted(stages)

    def layer_totals(self) -> dict[str, dict]:
        """Per-layer sums over the measured ops' spans."""
        out = {l: {"calls": 0, "self_s": 0.0, "jobs": 0, "tasks": 0} for l in LAYERS}
        for s in self.spans:
            if not isinstance(s["op"], int):
                continue
            t = out[s["layer"]]
            t["calls"] += 1
            t["self_s"] += s["self_s"]
            t["jobs"] += s["jobs"]
            t["tasks"] += s["tasks"]
        return out

    def subtree_stages(self, layer: str) -> set[int]:
        """Stage ids of every op-phase job launched inside ``layer`` spans,
        nested spans included."""
        by_id = {s["id"]: s for s in self.spans}
        out: set[int] = set()
        for s in self.spans:
            if not isinstance(s["op"], int):
                continue
            a = s
            while a is not None and a["layer"] != layer:
                a = by_id.get(a["parent"]) if a["parent"] is not None else None
            if a is not None:
                out.update(s["stages"])
        return out

    def records(self) -> list[dict]:
        keep = ("id", "layer", "name", "parent", "op", "start", "end",
                "self_s", "jobs", "tasks")
        return [{k: s[k] for k in keep} for s in self.spans]
