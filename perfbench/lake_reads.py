"""The reader's half of read_mix: reads over a published lake.

Set-up builds the lake through the pipeline's public bulk path
(``extract_day_bulk`` per query and day -> one ``validate_batch`` ->
curated staging of a few partitions -> ``WarehouseLoader.run``). One
(query, day) is re-extracted from a restated export, so superseded run
directories exist, and a few partitions get a validation attempt for a
run that was never written, so failed ledger rows exist.

Each round runs every read op once, in an order drawn from the seed, with
parameters drawn from the seed: consumer aggregates over the raw and the
curated zone, a consumer preview, the three ``observe-*`` CLI commands, a
``StateStore.list_states`` filter, and dry-run ``ControlPlane`` retry and
backfill. Every result is checked against values computed from the
generator's own rows.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import re
from datetime import date, timedelta

from pyspark.sql import functions as F

from gads_etl_spark import cli
from gads_etl_spark.pipeline import consumer, curated_sink, extract, loader, validator
from gads_etl_spark.pipeline.control_plane import ControlPlane
from gads_etl_spark.pipeline.curated_sink import CuratedZone
from gads_etl_spark.pipeline.pointer_store import PointerStore
from gads_etl_spark.pipeline.raw_sink import RawZone
from gads_etl_spark.pipeline.state_store import StateStore

from perfbench import gen_ads

#: Sized to the run budget: each (query, day) extraction and each curated
#: partition is a handful of Spark jobs in set-up; customers cost less
#: (one bulk job fans out per customer), but a warm build of 24 took ~4 s
#: longer than one of 8.
CUSTOMERS = 8
DAYS = 1
FAILED_KEYS = 3
CURATED_CUSTOMERS = 1

SOURCE = "google_ads"
Q_NAMES = [q.name for q in gen_ads.QUERIES]


def _run_id(d: date, hour: int) -> str:
    """Basic-format ISO run_id (no ':'). Lexicographic order is still time
    order. The extended format with ':' breaks the bulk path: the payload
    lands under a hive-escaped ``run_id=...%3A...`` directory while the
    seal marker lands under the unescaped path, so ``read_partition`` and
    curated staging of bulk-written partitions fail (see NOTES.md)."""
    return f"{d:%Y%m%d}T{hour:02d}0000.000Z"


def setup(ctx) -> dict:
    spark = ctx.spark
    rng = random.Random(f"lake_reads:{ctx.seed}")
    customers = gen_ads.customer_ids(ctx.seed, CUSTOMERS)
    days = [gen_ads.day(i) for i in range(DAYS)]
    restated = (rng.choice(Q_NAMES), rng.choice(days))
    keys = [(c, q, d) for c in customers for q in Q_NAMES for d in days]
    failed = set(rng.sample(keys, FAILED_KEYS))

    src1 = gen_ads.write_sources(ctx.seed, os.path.join(ctx.work, "export_v1"),
                                 customers, days)
    src2 = gen_ads.write_sources(ctx.seed, os.path.join(ctx.work, "export_v2"),
                                 customers, [restated[1]], version_of=lambda q, d: 2)
    lake = os.path.join(ctx.work, "lake")
    roots = {k: f"file://{lake}/{k}" for k in ("raw", "curated", "state", "pointers")}
    raw = RawZone(spark, roots["raw"])
    cur = CuratedZone(spark, roots["curated"])
    states = StateStore(spark, roots["state"])
    pointers = PointerStore(spark, roots["pointers"])

    def export(version):
        root = os.path.join(ctx.work, f"export_v{version}")
        return {q.name: spark.read.parquet(os.path.join(root, f"{q.entity}.parquet"))
                for q in gen_ads.QUERIES}

    v1, v2 = export(1), export(2)
    requests = []
    for q in gen_ads.QUERIES:
        for d in days:
            runs = [(v1, _run_id(d, 1))]
            if (q.name, d) == restated:
                runs.append((v2, _run_id(d, 5)))
            for src, run_id in runs:
                metas = extract.extract_day_bulk(src[q.name], raw, q, gen_ads.CUSTOMER_COL,
                                                 d, run_id, source_name=SOURCE)
                requests += [{"source": SOURCE, "customer_id": m["customer_id"],
                              "query_name": q.name, "logical_date": d, "run_id": run_id,
                              "schema_version": "v1"} for m in metas]
    # A validation attempt for a run that was never written fails the key.
    requests += [{"source": SOURCE, "customer_id": c, "query_name": q, "logical_date": d,
                  "run_id": _run_id(d, 9), "schema_version": "v1"} for c, q, d in sorted(failed)]
    validator.validate_batch(raw, states, spark.createDataFrame(requests))

    wl = loader.WarehouseLoader(states, pointers)
    plan = wl.reconcile()
    cur_q, cur_d = Q_NAMES[0], days[-1]
    staged_cust = [c for c in customers if (c, cur_q, cur_d) not in failed][:CURATED_CUSTOMERS]
    sel = ((F.col("query_name") == cur_q) & (F.col("logical_date") == F.lit(cur_d))
           & F.col("customer_id").isin(staged_cust))
    curated_sink.materialize_plan(raw, cur, loader.ReconciliationPlan(
        load=plan.load.where(sel), replace=plan.replace.where(sel), demote=plan.demote))
    wl.run(plan)

    # -- expected values, from the generator's rows only --------------------
    def version(q, d):
        return 2 if (q, d) == restated else 1

    entity = {q.name: q.entity for q in gen_ads.QUERIES}
    published = {}
    for c, q, d in keys:
        if (c, q, d) in failed:
            continue
        rows = gen_ads.rows(ctx.seed, entity[q], c, d, version(q, d))
        published[(c, q, d)] = {"rows": len(rows), "clicks": sum(r["metrics"]["clicks"] for r in rows),
                                "run_id": _run_id(d, 5 if version(q, d) == 2 else 1)}
    attempts = {k: 1 + (1 if (k[1], k[2]) == restated else 0) + (1 if k in failed else 0)
                for k in keys}
    staged = {k for k in published if k[1] == cur_q and k[2] == cur_d and k[0] in staged_cust}

    ctx.inputs.update({
        "customers": CUSTOMERS, "queries": len(Q_NAMES), "days": DAYS,
        "logical_partitions": len(keys), "restated": [restated[0], restated[1].isoformat()],
        "failed_keys": FAILED_KEYS, "curated_partitions": len(staged),
        "source_bytes": src1["bytes"] + src2["bytes"], "raw_format": raw.data_format,
    })
    return {
        "rng": random.Random(f"lake_reads-ops:{ctx.seed}"),
        "customers": customers, "days": days, "keys": keys, "failed": failed,
        "published": published, "attempts": attempts, "staged": staged,
        "roots": roots, "raw": raw, "curated": cur, "states": states, "pointers": pointers,
        "src_bytes": src1["bytes"] + src2["bytes"],
    }


# -- ops --------------------------------------------------------------------

def _agg(zone, pointers, q):
    rows = (consumer.read_published(zone, pointers)
            .where(F.col("query_name") == q)
            .groupBy("customer_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("metrics_clicks").alias("clicks"))
            .collect())
    return {str(r["customer_id"]): (r["n"], r["clicks"]) for r in rows}


def _cli(st, command: str) -> str:
    buf = io.StringIO()
    argv = ["--state-root", st["roots"]["state"], "--pointer-root", st["roots"]["pointers"],
            "--raw-root", st["roots"]["raw"], command]
    with contextlib.redirect_stdout(buf):
        code = cli.main(argv)
    if code != 0:
        raise RuntimeError(f"cli {command} exited {code}")
    return buf.getvalue()


def _op(ctx, layer, kind, fn):
    def run():
        with ctx.tracer.span(layer, f"lake_reads.{kind}"):
            return fn()
    return kind, run


def rounds(ctx, st):
    rng = st["rng"]
    while True:
        q = rng.choice(Q_NAMES)
        k_preview = rng.randrange(2, 7)
        c_list = rng.choice(st["customers"])
        status = rng.choice(["success", "failed"])
        c_retry = rng.choice(sorted({k[0] for k in st["failed"]}))
        c_bf, q_bf = rng.choice(st["customers"]), rng.choice(Q_NAMES)
        since = st["days"][0] - timedelta(days=rng.randrange(1, 4))
        until = st["days"][-1] + timedelta(days=rng.randrange(0, 3))
        raw, cur, states, ptr = st["raw"], st["curated"], st["states"], st["pointers"]
        ops = [
            _op(ctx, "pipeline.consumer", "raw_agg",
                lambda q=q: {"q": q, "value": _agg(raw, ptr, q)}),
            _op(ctx, "pipeline.consumer", "curated_agg",
                lambda: {"value": _agg(cur, ptr, Q_NAMES[0])}),
            _op(ctx, "pipeline.consumer", "preview",
                lambda k=k_preview: {"k": k, "value": [
                    (str(r["customer_id"]), r["query_name"], r["logical_date"], r["run_id"])
                    for r in consumer.preview(raw, ptr, sample_rows=k).collect()]}),
            _op(ctx, "cli", "observe_state", lambda: {"value": _cli(st, "observe-state")}),
            _op(ctx, "cli", "observe_freshness",
                lambda: {"value": _cli(st, "observe-freshness")}),
            _op(ctx, "cli", "observe_retries", lambda: {"value": _cli(st, "observe-retries")}),
            _op(ctx, "pipeline.state_store", "list_states",
                lambda c=c_list, s=status: {"c": c, "s": s, "value": sorted(
                    (r["customer_id"], r["query_name"], r["logical_date"], r["status"])
                    for r in states.list_states(status=s, customer_id=c,
                                                since=st["days"][0],
                                                until=st["days"][-1]).collect())}),
            _op(ctx, "pipeline.control_plane", "retry_dry",
                lambda c=c_retry: {"c": c, "value": ControlPlane(states).retry(
                    customer_id=c, dry_run=True).as_dict()}),
            _op(ctx, "pipeline.control_plane", "backfill_dry",
                lambda c=c_bf, qq=q_bf, a=since, b=until: {
                    "c": c, "q": qq, "since": a, "until": b,
                    "value": ControlPlane(states).backfill(
                        customer_id=c, query_name=qq, since=a, until=b,
                        dry_run=True).as_dict()}),
        ]
        rng.shuffle(ops)
        yield ops


# -- checks -----------------------------------------------------------------

KINDS = ("raw_agg", "curated_agg", "preview", "observe_state", "observe_freshness",
         "observe_retries", "list_states", "retry_dry", "backfill_dry")


def _expected_agg(st, keys):
    out = {}
    for c, q, d in keys:
        p = st["published"][(c, q, d)]
        n, clicks = out.get(c, (0, 0))
        out[c] = (n + p["rows"], clicks + p["clicks"])
    return out


def _observe_state(st) -> dict:
    att = list(st["attempts"].values())
    return {"total": len(st["keys"]), "pending": 0, "success": len(st["published"]),
            "failed": len(st["failed"]), "min": min(att), "max": max(att),
            "avg": f"{sum(att) / len(att):.2f}"}


def _parse_ints(text: str, labels) -> dict:
    out = {}
    for label in labels:
        m = re.search(rf"{re.escape(label)}\s*[:=]\s*(\S+)", text)
        out[label] = m.group(1) if m else None
    return out


def expected(st, op) -> object:
    r, kind = op["result"], op["kind"]
    pub = st["published"]
    if kind == "raw_agg":
        return _expected_agg(st, [k for k in pub if k[1] == r["q"]])
    if kind == "curated_agg":
        return _expected_agg(st, sorted(st["staged"]))
    if kind == "preview":
        out = []
        for (c, q, d), p in pub.items():
            out += [(c, q, d, p["run_id"])] * min(r["k"], p["rows"])
        return sorted(out)
    if kind == "observe_state":
        e = _observe_state(st)
        return {"Total logical partitions": str(e["total"]), "pending": str(e["pending"]),
                "success": str(e["success"]), "failed": str(e["failed"]),
                "min": str(e["min"]), "max": str(e["max"]), "avg": e["avg"]}
    if kind == "observe_freshness":
        out = {}
        for q in Q_NAMES:
            ds = sorted({d for (c, qq, d) in pub if qq == q})
            if ds:
                out[q] = (ds[0].isoformat(), ds[-1].isoformat(), str(len(ds)))
        return out
    if kind == "observe_retries":
        e = _observe_state(st)
        return {"total partitions": str(e["total"]), "failed partitions": str(e["failed"]),
                "terminal partitions": "0", "retryable failed partitions": str(e["failed"]),
                "min": str(e["min"]), "max": str(e["max"]), "avg": e["avg"]}
    if kind == "list_states":
        keys = st["failed"] if r["s"] == "failed" else pub.keys()
        return sorted((c, q, d, r["s"]) for c, q, d in keys if c == r["c"])
    if kind == "retry_dry":
        n = sum(1 for k in st["failed"] if k[0] == r["c"])
        return {"eligible": n, "skipped": 0, "executed": False}
    if kind == "backfill_dry":
        span = (r["until"] - r["since"]).days + 1
        existing = sum(1 for d in st["days"] if r["since"] <= d <= r["until"])
        return {"eligible": span - existing, "skipped": existing, "executed": False}
    raise KeyError(kind)


def actual(op) -> object:
    r, kind = op["result"], op["kind"]
    v = r["value"]
    if kind == "preview":
        return sorted(v)
    if kind == "observe_state":
        return _parse_ints(v, ["Total logical partitions", "pending", "success", "failed",
                               "min", "max", "avg"])
    if kind == "observe_retries":
        return _parse_ints(v, ["total partitions", "failed partitions", "terminal partitions",
                               "retryable failed partitions", "min", "max", "avg"])
    if kind == "observe_freshness":
        out = {}
        for block in re.findall(r"^\S+ / (\S+)\n((?:  .*\n?)+)", v, re.M):
            f = _parse_ints(block[1], ["earliest", "latest", "total_successful_partitions"])
            out[block[0]] = (f["earliest"], f["latest"], f["total_successful_partitions"])
        return out
    if kind in ("retry_dry", "backfill_dry"):
        return {k: v[k] for k in ("eligible", "skipped", "executed")}
    return v


def check(ctx, st, ops) -> list[str]:
    failures = []
    for op in ops:
        if op["kind"] not in KINDS or not op.get("result"):
            continue
        want, got = expected(st, op), actual(op)
        if want != got:
            op["failed"] = True
            failures.append(f"op {op['i']} {op['kind']}: expected {str(want)[:300]} "
                            f"got {str(got)[:300]}")
    return failures


def rows_returned(ctx, st, ops) -> int:
    """Rows the consumer API handed back to its callers over the ops."""
    n = 0
    for op in ops:
        if op.get("error") or not op.get("result"):
            continue
        if op["kind"] in ("raw_agg", "curated_agg"):
            n += sum(v[0] for v in op["result"]["value"].values())
        elif op["kind"] == "preview":
            n += len(op["result"]["value"])
    return n


def layer_counts(ctx, st, ops, after) -> dict:
    stored = sum(sum(t.values()) for t in after.values())
    return {"pipeline.stored_bytes_per_input_byte": stored / st["src_bytes"]}
