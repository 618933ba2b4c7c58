"""daily_sync: the writer's path, one ``run_daily`` call per op.

Sources are a seeded multi-customer parquet export (2 customers, the
campaign query). Set-up ends with the first load of day 0 into the empty
lake: a fresh JVM's first sync pays seconds of class loading and JIT
warm-up, and the lake a daily sync meets in production already holds
data. The op sequence is then: the next logical day's sync (the op
``op_s.p50`` is taken over), a same-day re-run of it with a new run_id
(the replace path), and one new day per op after that. Runs of the
default length (one round) measure the first new-day sync only; longer
runs reach the re-run. Cost is per-partition control overhead: extract
-> seal -> validate -> MERGE -> reconcile -> publish. The syncs run
without a curated zone, like the ``daily`` CLI without
``--curated-root``: staging would add a third to every sync, which the
run budget does not hold; curated staging is measured by read_mix's
set-up and curated reads.

Known defect kept visible on purpose: ``run_daily`` extracts through
``extract_partition``, which filters on the date only, so each customer's
partition stores every customer's rows of the day. It shows up as
``pipeline.raw_sink.rows_written_per_source_row`` = number of customers and
in ``stored_bytes_per_input_byte``.
"""

from __future__ import annotations

import glob
import os

from gads_etl_spark.pipeline import consumer, runner
from gads_etl_spark.pipeline.config import load_config
from gads_etl_spark.pipeline.keys import LOGICAL_KEY, PartitionKey
from gads_etl_spark.pipeline.pointer_store import PointerStore
from gads_etl_spark.pipeline.raw_sink import RawZone
from gads_etl_spark.pipeline.state_store import StateStore

from perfbench import common, gen_ads

#: Sized to the run budget: every extra logical partition adds ~3 s of
#: Spark jobs to each sync, and a run holds two syncs. Two customers is the
#: fewest that still shows the scoping gap (see the module docstring).
CUSTOMERS = 2
#: Days of source data: bounds the op sequence when --seconds is long.
MAX_DAYS = 8
#: The kind ``op_s.p50`` is taken over: new-day syncs into a lake that
#: already holds data (not the re-run).
STEADY_KINDS = ("sync",)


def setup(ctx) -> dict:
    spark = ctx.spark
    customers = gen_ads.customer_ids(ctx.seed, CUSTOMERS)
    days = [gen_ads.day(i) for i in range(MAX_DAYS)]
    src_dir = os.path.join(ctx.work, "sources")
    src = gen_ads.write_sources(ctx.seed, src_dir, customers, days)
    lake = os.path.join(ctx.work, "lake")
    roots = {k: f"file://{lake}/{k}" for k in ("raw", "state", "pointers")}
    st = {
        "customers": customers,
        "days": days,
        "src": src,
        "roots": roots,
        "config": load_config(gen_ads.config_yaml(customers)),
        "sources": {q.entity: spark.read.parquet(os.path.join(src_dir, f"{q.entity}.parquet"))
                    for q in gen_ads.QUERIES},
        "raw": RawZone(spark, roots["raw"]),
        "states": StateStore(spark, roots["state"]),
        "pointers": PointerStore(spark, roots["pointers"]),
    }
    ctx.inputs.update({
        "customers": CUSTOMERS, "queries": len(gen_ads.QUERIES),
        "rows_per_customer_day": gen_ads.ROWS_PER_CUSTOMER_DAY,
        "source_days": MAX_DAYS, "source_bytes": src["bytes"],
        "raw_format": st["raw"].data_format,
    })
    st["first_load"] = _sync(ctx, st, days[0])
    return st


def _sync(ctx, st, d):
    report = runner.run_daily(
        ctx.spark, st["config"], st["sources"], st["raw"], st["states"],
        st["pointers"], d,
    )
    published = report.published.get("load", 0) + report.published.get("replace", 0)
    return {"report": report, "day": d, "units": published}


def rounds(ctx, st):
    _, d1, *rest = st["days"]
    yield [("sync", lambda: _sync(ctx, st, d1))]
    yield [("rerun", lambda: _sync(ctx, st, d1))]
    for d in rest:
        yield [("sync", lambda d=d: _sync(ctx, st, d))]


def _payload_rows(raw: RawZone, key: PartitionKey, run_id: str) -> int:
    path = common.local_path(raw.partition_path(key, run_id))
    n = 0
    for f in glob.glob(os.path.join(path, "part-*")):
        with open(f, "rb") as fh:
            n += sum(1 for line in fh if line.strip())
    return n


def _day_rows(st, d) -> int:
    """Source rows of one day, every customer and query."""
    return sum(len(v) for parts in st["src"]["rows"].values()
               for (_, day), v in parts.items() if day == d)


def check(ctx, st, ops) -> list[str]:
    """Correctness of every op and of the lake the ops left behind."""
    failures = []
    n_parts = CUSTOMERS * len(gen_ads.QUERIES)
    # The set-up's first load is checked like an op; if it is wrong, so is
    # every op that builds on it.
    first = {"i": "setup", "kind": "load", "result": st["first_load"], "failed": False}
    for op in [first, *ops]:
        rep = op["result"]["report"] if op.get("result") else None
        if rep is None:
            continue
        if not rep.ok:
            op["failed"] = True
            failures.append(f"op {op['i']}: RunReport not ok ({rep.extract_errors})")
        path = "replace" if op["kind"] == "rerun" else "load"
        other = "load" if path == "replace" else "replace"
        if not (rep.published.get(path) == len(rep.extracted) == n_parts
                and rep.published.get(other) == 0):
            op["failed"] = True
            failures.append(f"op {op['i']} ({op['kind']}): published {rep.published}, "
                            f"expected {path}={n_parts}")
    if first["failed"]:
        for op in ops:
            op["failed"] = True

    raw, states, pointers = st["raw"], st["states"], st["pointers"]
    manifest = [r.asDict() for r in raw.manifest().collect()]
    global_fail = []
    newest: dict[tuple, str] = {}
    for m in manifest:
        key = PartitionKey(m["source"], m["customer_id"], m["query_name"], m["logical_date"])
        got = _payload_rows(raw, key, m["run_id"])
        if got != m["record_count"]:
            global_fail.append(f"manifest {key} {m['run_id']}: record_count="
                               f"{m['record_count']} payload rows={got}")
        k = tuple(m[c] for c in LOGICAL_KEY)
        newest[k] = max(newest.get(k, ""), m["run_id"])
    ptr = {tuple(r[c] for c in LOGICAL_KEY): r["run_id"] for r in pointers.read().collect()}
    for s in states.read().collect():
        if s["status"] != "success":
            continue
        k = tuple(s[c] for c in LOGICAL_KEY)
        if not (ptr.get(k) == s["current_run_id"] == newest.get(k)):
            global_fail.append(f"state {k}: pointer={ptr.get(k)} current="
                               f"{s['current_run_id']} newest={newest.get(k)}")
    published_rows = sum(m["record_count"] for m in manifest
                         if ptr.get(tuple(m[c] for c in LOGICAL_KEY)) == m["run_id"])
    visible = consumer.read_published(raw, pointers).count()
    if visible != published_rows:
        global_fail.append(f"consumer-visible rows={visible}, "
                           f"published record_count sum={published_rows}")
    if global_fail:
        for op in ops:
            op["failed"] = True
    st["manifest"] = manifest
    return failures + global_fail


def layer_counts(ctx, st, ops, after) -> dict:
    """Layer-specific counts of the measured ops (``st["manifest"]`` is
    the manifest ``check`` read after them)."""
    reports = [op["result"]["report"] for op in ops if op.get("result")]
    op_runs = {r.run_id for r in reports}
    rows_written = sum(m["record_count"] for m in st.get("manifest", [])
                       if m["run_id"] in op_runs)
    source_rows = sum(_day_rows(st, op["result"]["day"]) for op in ops if op.get("result"))
    counts = {
        "pipeline.raw_sink.rows_written_per_source_row":
            rows_written / source_rows if source_rows else 0.0,
        "pipeline.validator.partitions_checked":
            sum(r.validated_success + r.validated_failed for r in reports),
        "pipeline.validator.partitions_failed": sum(r.validated_failed for r in reports),
        "pipeline.loader.load": sum(r.published.get("load", 0) for r in reports),
        "pipeline.loader.replace": sum(r.published.get("replace", 0) for r in reports),
        "pipeline.loader.demote": sum(r.published.get("demote", 0) for r in reports),
        "pipeline.curated_sink.partitions_staged": sum(r.staged for r in reports),
    }
    # Stored bytes per byte of the source days the lake holds (the set-up
    # load's and the ops'; the export's bytes apportioned by row share).
    total_rows = sum(_day_rows(st, d) for d in st["days"])
    synced = {st["days"][0]} | {op["result"]["day"] for op in ops if op.get("result")}
    input_bytes = st["src"]["bytes"] * sum(_day_rows(st, d) for d in synced) / total_rows
    stored = sum(common.tree_bytes(r) for r in st["roots"].values())
    counts["pipeline.stored_bytes_per_input_byte"] = stored / input_bytes
    return counts
