"""Spread and tracing-overhead report over several seeds.

    python3 perfbench/stability.py --workloads daily_sync,read_mix --seeds 1-10
    python3 perfbench/stability.py --workloads read_mix --seeds 1-3 --overhead

Runs ``perfbench/run.py`` once per (workload, seed), sequentially, from
the checkout root. For each end-to-end metric it prints the median and
the interquartile range as a share of the median
(``statistics.quantiles(values, n=4)``), plus the wall time of the runs
and the same statistics of the host probe each run records (a fixed
pure-Python loop, the control for the host's own speed), and the share of
CPU time the hypervisor stole during the ops.
``--overhead`` also makes a traced run per seed and prints traced minus
untraced ``op_s.p50`` per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, float, dict]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=False)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"{workload}-s{seed}-t{trace}.json")) as fh:
        record = json.load(fh)
    return result, wall, record


def seeds_of(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--overhead", action="store_true")
    args = p.parse_args()
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        walls, probes, steals, traced_p50 = [], [], [], []
        for seed in seeds_of(args.seeds):
            result, wall, record = run(wl, seed, args.seconds, 0)
            walls.append(wall)
            probes.append(record["host_probe_s"])
            steals.append(record["host_steal_share"])
            if not result["correct"] or result["failed"]:
                print(f"{wl} seed {seed}: NOT CORRECT {result}")
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{wl} seed {seed}: wall {wall:.1f}s probe {probes[-1]:.4f}s "
                  f"steal {steals[-1]:.3f} "
                  + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
                  flush=True)
            if args.overhead:
                _, twall, rec = run(wl, seed, args.seconds, 1)
                traced_p50.append(rec["end_to_end"]["op_s.p50"])
        print(f"== {wl}: {len(walls)} runs, wall median {statistics.median(walls):.1f}s "
              f"max {max(walls):.1f}s total {sum(walls):.0f}s")
        print(f"   host steal share during the ops: median {statistics.median(steals):.4f} "
              f"max {max(steals):.4f}")
        for k, vs in {**values, "host_probe_s": probes}.items():
            sp = spread(vs) if len(vs) >= 2 else float("nan")
            print(f"   {k:12s} median {statistics.median(vs):.5g}  IQR/median {sp:.4f}")
        if traced_p50:
            base = statistics.median(values["op_s.p50"])
            tr = statistics.median(traced_p50)
            print(f"   tracing overhead: op_s.p50 traced {tr:.4g}s - untraced {base:.4g}s "
                  f"= {tr - base:+.4g}s ({(tr - base) / base:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
