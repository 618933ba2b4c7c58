"""Seeded generator of the engine's fixture tables (analytics_mix).

Same table names, column names, types and value domains as the fixture
catalog (``gads_etl_spark.catalog.TABLES``): a TPC-H-shaped star schema,
an ``events`` stream, a ``documents`` corpus and an ``embeddings`` table.
Money and rates carry two decimals, quantities are whole numbers, dates
sit at midnight, so every registry query and its DuckDB oracle agree
bit for bit. The same seed always yields the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts at the benchmark's scale. The TPC-H-shaped tables are about
#: 0.3x the sf0.1 fixture (orders 45k, lineitem ~180k): q01's warm time
#: grows with them (0.7 s at 1/25 of sf0.1, 1.2 s here, 1.8 s at sf0.1 on
#: a 4-core host). The events, documents and embeddings tables stay small:
#: the queries over them took the same time at 5x these sizes (fixed
#: per-query costs dominate), and the full sf0.1 sizes cost more time per
#: run than the run budget holds (NOTES.md has the measurements).
SIZES = {"customer": 4500, "supplier": 300, "part": 6000, "orders": 45000,
         "events": 6000, "users": 120, "documents": 400, "embeddings": 400}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "steel"]
THINGS = ["widget", "bolt", "ring", "gear", "valve", "plate"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a the data table row column key value part join merge sort scan filter "
         "group agg window stream batch spark query line order customer fast slow "
         "big small hash vector").split()

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    np_ = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(COLORS, np_), rng.choice(THINGS, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)})

    no = n["orders"]
    order_day = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts(EPOCH_1995 + order_day * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    lines = rng.integers(1, 8, no)
    l_order = np.repeat(np.arange(no, dtype=np.int64), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    nl = len(l_order)
    ship = np.minimum(order_day[l_order] + rng.integers(1, 122, nl), 2499)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(EPOCH_1995 + ship * DAY_US)})

    ne = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * DAY_US, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": _money(rng, 0.01, 400, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(8, 90, nd)]
    # A few exact copies, so the dedup operators find duplicates.
    for i in range(0, nd, 37):
        if i + 5 < nd:
            texts[i + 5] = texts[i]
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    nv, dim = n["embeddings"], 64
    vecs = rng.standard_normal((nv, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return out


def write(seed: int, root: str) -> dict:
    """Write every table as ``<root>/<name>.parquet``; returns row counts
    and total bytes."""
    os.makedirs(root, exist_ok=True)
    rows, total = {}, 0
    for name, t in tables(seed).items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(t, path)
        rows[name] = t.num_rows
        total += os.path.getsize(path)
    return {"rows": rows, "bytes": total}
