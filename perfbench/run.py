"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload daily_sync --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Set-up (session start, input generation,
the lake's first load or build) happens once and is timed as ``setup_s``;
ops then run in whole rounds, closed loop with one client, until
``--seconds`` have elapsed (at least one round); correctness checks run
after the timed region. The last stdout line is the JSON result:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Lines starting with ``#`` before it are the human-readable
report; the full record (provenance, every metric, spans, the host probe
and the JVM's GC time) goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("daily_sync", "read_mix")

#: End-to-end metrics (BENCHMARK.json ``end_to_end``), name → unit.
END_TO_END = {"setup_s": "s", "op_s.p50": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB"}

#: Layer-specific per-layer metrics beyond calls/self_s/jobs/tasks.
LAYER_EXTRA = {
    "session.start_s": "s",
    "pipeline.raw_sink.files_written": "count",
    "pipeline.raw_sink.bytes_written": "bytes",
    "pipeline.raw_sink.rows_written_per_source_row": "ratio",
    "pipeline.validator.partitions_checked": "count",
    "pipeline.validator.partitions_failed": "count",
    "pipeline.state_store.versions_committed": "count",
    "pipeline.state_store.bytes_written": "bytes",
    "pipeline.pointer_store.versions_committed": "count",
    "pipeline.loader.load": "count",
    "pipeline.loader.replace": "count",
    "pipeline.loader.demote": "count",
    "pipeline.curated_sink.partitions_staged": "count",
    "pipeline.curated_sink.bytes_written": "bytes",
    "pipeline.consumer.rows_scanned_per_row_returned": "ratio",
    "pipeline.stored_bytes_per_input_byte": "ratio",
}


class Context:
    def __init__(self, args, work, spark, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.spark = spark
        self.tracer = tracer
        self.inputs: dict = {}


def per_layer_units() -> dict[str, str]:
    from perfbench.trace import LAYERS

    units = {}
    for layer in LAYERS:
        units.update({f"{layer}.calls": "count", f"{layer}.self_s": "s",
                      f"{layer}.jobs": "count", f"{layer}.tasks": "count"})
    units.update(LAYER_EXTRA)
    return units


def run_ops(ctx, wl, st) -> list[dict]:
    """Whole rounds until --seconds have elapsed (at least one round)."""
    ops = []
    t0 = time.perf_counter()
    for rnd in wl.rounds(ctx, st):
        for kind, fn in rnd:
            op = {"i": len(ops), "kind": kind, "failed": False}
            ctx.tracer.op = op["i"]
            start = time.perf_counter()
            try:
                op["result"] = fn()
            except Exception as exc:  # noqa: BLE001 — counted, run continues
                op["failed"] = True
                op["error"] = f"{type(exc).__name__}: {exc}"[:2000]
            op["dur_s"] = time.perf_counter() - start
            ops.append(op)
        if time.perf_counter() - t0 >= ctx.seconds:
            break
    ctx.tracer.op = "check"
    return ops


def fs_written(roots: dict, before: dict, after: dict) -> dict:
    """Per-layer file counts from the trees the ops grew."""
    out = {}
    new = {k: common.new_files(before[k], after[k]) for k in roots}
    raw = new.get("raw", {})
    out["pipeline.raw_sink.files_written"] = len(raw)
    out["pipeline.raw_sink.bytes_written"] = sum(raw.values())
    for k, layer in (("state", "state_store"), ("pointers", "pointer_store")):
        files = new.get(k, {})
        out[f"pipeline.{layer}.versions_committed"] = sum(
            1 for p in files if p.startswith("_versions/") and p.endswith(".json")
            and "/." not in p and ".tmp" not in p)
        if layer == "state_store":
            out["pipeline.state_store.bytes_written"] = sum(files.values())
    out["pipeline.curated_sink.bytes_written"] = sum(new.get("curated", {}).values())
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not common.program_present():
        print("perfbench: gads_etl_spark is not in this checkout; nothing to measure",
              file=sys.stderr)
        return 2

    work = common.make_workdir(args.workload, args.seed)
    common.configure_env(work)
    import importlib

    from perfbench.trace import NullTracer, Tracer

    wl = importlib.import_module(f"perfbench.{args.workload}")
    spark = None
    try:
        spark, start_s = common.start_session(work)
        tracer = Tracer(spark) if args.trace else NullTracer()
        ctx = Context(args, work, spark, tracer)
        if args.trace:
            tracer.install()
        st = wl.setup(ctx)
        setup_s = time.perf_counter() - T_PROCESS

        roots = st.get("roots", {})
        before = {k: common.tree(r) for k, r in roots.items()}
        cpu0 = common.cpu_times()
        ops = run_ops(ctx, wl, st)
        steal = common.steal_share(cpu0, common.cpu_times())
        # Before the checks: their oracle queries and reads are not the
        # program's memory.
        rss = common.peak_rss_mb()
        gc_s = common.jvm_gc_s(spark)
        after = {k: common.tree(r) for k, r in roots.items()}
        failures = [f"op {op['i']} ({op['kind']}): {op['error']}"
                    for op in ops if op.get("error")]
        try:
            failures += wl.check(ctx, st, ops)
        except Exception:  # noqa: BLE001 — a crashing check fails every op
            failures.append("check raised: " + traceback.format_exc(limit=5))
            for op in ops:
                op["failed"] = True

        durs = [op["dur_s"] for op in ops]
        steady = [op["dur_s"] for op in ops
                  if wl.STEADY_KINDS is None or op["kind"] in wl.STEADY_KINDS]
        units = sum(op.get("result", {}).get("units", 1) if not op.get("error") else 0
                    for op in ops)
        n_failed = sum(1 for op in ops if op["failed"])
        e2e = {
            "setup_s": setup_s,
            "op_s.p50": statistics.median(steady),
            "ops_per_s": units / sum(durs),
            "peak_rss_mb": rss,
        }
        extra = {"failed_share": n_failed / len(ops)}
        if len(steady) >= 100:  # p90 only with >= 10 ops beyond it
            extra["op_s.p90"] = statistics.quantiles(steady, n=10, method="inclusive")[8]

        counts = {**fs_written(roots, before, after), **wl.layer_counts(ctx, st, ops, after)}
        counts["session.start_s"] = start_s
        record = {
            "provenance": common.provenance(spark, args.seed, args.workload, ctx.inputs),
            "host_probe_s": common.host_probe_s(),
            "host_steal_share": steal,
            "jvm_gc_s": gc_s,
            "trace": args.trace,
            "seconds": args.seconds,
            "end_to_end": e2e,
            "extra": extra,
            "layer_counts": counts,
            "ops": [{"i": o["i"], "kind": o["kind"], "dur_s": o["dur_s"],
                     "failed": o["failed"], "error": o.get("error")} for o in ops],
            "failures": failures,
        }
        if args.trace:
            tracer.uninstall()
            tracer.finish()
            totals = tracer.layer_totals()
            per_layer = {}
            for layer, t in totals.items():
                for k, v in t.items():
                    per_layer[f"{layer}.{k}"] = v
            for k in LAYER_EXTRA:
                per_layer[k] = counts.get(k, 0)
            if hasattr(wl, "rows_returned"):
                returned = wl.rows_returned(ctx, st, ops)
                scanned = tracer.input_records(tracer.subtree_stages("pipeline.consumer"))
                per_layer["pipeline.consumer.rows_scanned_per_row_returned"] = (
                    scanned / returned if returned else 0.0)
            record["per_layer"] = per_layer
            record["spans"] = tracer.records()
            units_of = per_layer_units()
            metrics = {k: {"value": v, "unit": units_of[k]} for k, v in per_layer.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        path = common.write_record(
            f"{args.workload}-s{args.seed}-t{args.trace}.json", record)

        for k, v in {**e2e, **extra}.items():
            print(f"# {args.workload} {k} = {v:.6g} {END_TO_END.get(k, '')}".rstrip())
        if "pipeline.stored_bytes_per_input_byte" in counts and roots:
            print(f"# {args.workload} stored_bytes_per_input_byte = "
                  f"{counts['pipeline.stored_bytes_per_input_byte']:.6g}")
        print(f"# {args.workload} ops={len(ops)} failed={n_failed} record={path}")
        for f in failures[:20]:
            print(f"# FAILURE {f}")
        result = {"correct": not failures and n_failed == 0, "attempted": len(ops),
                  "failed": n_failed, "metrics": metrics}
    finally:
        if spark is not None:
            common.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
