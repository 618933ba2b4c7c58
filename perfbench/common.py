"""Shared plumbing: work directory, Spark session, RSS, file trees.

Everything the benchmark writes lives under the checkout: a per-run work
directory (removed at exit) and ``.perfbench_out/`` for the result records.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

#: Fixed driver heap for every run: results stay comparable across hosts
#: of different RAM, the single JVM stays small on a shared machine, and a
#: heap this size is cycled through within one run, so peak RSS repeats.
DRIVER_MEM = "1g"


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "gads_etl_spark", "pipeline", "runner.py"))


def make_workdir(workload: str, seed: int) -> str:
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    return work


def configure_env(work: str) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark at
    the work directory, before the JVM is launched."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Keep every job/stage of a run in the status store: the traced
        # mode reads job, task and input-record counts from it.
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_session(work: str):
    """The engine's own session factory at local[nproc]; returns
    (spark, seconds)."""
    from gads_etl_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session("perfbench", cpus=nproc(), extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    # The first job of a fresh JVM costs seconds of class loading; it is
    # session start-up, not the cost of whichever op happens to run first.
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — already closing
                pass
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits on stdin EOF
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# -- processes ---------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _descendants(pid: int) -> list[int]:
    todo, seen = _children(pid), []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak RSS of this process plus every live descendant (the JVM and
    its Python workers), in MiB."""
    pids = [os.getpid(), *_descendants(os.getpid())]
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def jvm_gc_s(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def host_probe_s(samples: int = 7) -> float:
    """Median time of a fixed pure-Python loop: a control for the host's
    own speed, recorded next to every run so host drift can be told
    apart from a change in the program."""
    times = []
    for _ in range(samples):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return sorted(times)[samples // 2]


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (``/proc/stat``); field 7 is
    steal, time the hypervisor gave this VM's vCPUs to someone else."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


# -- file trees --------------------------------------------------------------

def local_path(uri: str) -> str:
    return uri[len("file://"):] if uri.startswith("file://") else uri


def tree(root: str) -> dict[str, int]:
    """Relative path → size of every regular file under ``root``."""
    root = local_path(root)
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def tree_bytes(root: str) -> int:
    return sum(tree(root).values())


def new_files(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    return {p: s for p, s in after.items() if p not in before}


# -- provenance / output -----------------------------------------------------

def provenance(spark, seed: int, workload: str, inputs: dict) -> dict:
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "nproc": nproc(),
        "spark_master": spark.sparkContext.master,
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "?"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "inputs": inputs,
    }


def write_record(name: str, record: dict) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, name)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=str)
        fh.write("\n")
    return path
