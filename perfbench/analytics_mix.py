"""The query half of read_mix: the engine's query surface, no pipeline
layer involved.

Each op runs one registry query and collects its (small) result to the
client; a round runs every query of the mix once, in an order drawn from
the seed. The inputs are the fixture tables generated from the seed
(gen_tables.py). After the timed region every op's result is checked
against the query's registry DuckDB oracle under
``scripts/check_queries.py``'s canon / ULP rules. Collecting instead of
writing to the noop sink costs a few milliseconds on these results and
lets the check use the timed execution instead of a second one.
"""

from __future__ import annotations

import importlib.util
import os
import random

from gads_etl_spark.oracle import duckdb_connect
from gads_etl_spark.queries import REGISTRY

from perfbench import common, gen_tables

#: One query per query suite and operator module the mix must cover.
QUERIES = (
    "q01_pricing_summary",      # queries.relational
    "ev_sessionization",        # queries.events_suite: session windows
    "ext_exact_dedup",          # operators.dedup
    "ext_semantic_dedup",       # operators.similarity
    "ext_decontaminate",        # operators.quality
    "ext_build_vocab",          # operators.vocab
)


def layer_of(name: str) -> str:
    return REGISTRY[name].fn.__module__.replace("gads_etl_spark.", "")


def setup(ctx) -> dict:
    sf = os.path.join(ctx.work, "sf")
    gen = gen_tables.write(ctx.seed, sf)
    ctx.inputs.update({"analytics_queries": list(QUERIES), "table_rows": gen["rows"],
                       "table_bytes": gen["bytes"]})
    return {"sf": sf, "rng": random.Random(f"analytics_mix:{ctx.seed}")}


def _op(ctx, st, name):
    def run():
        with ctx.tracer.span(layer_of(name), name):
            result = REGISTRY[name].fn(ctx.spark, st["sf"]).toPandas()
        return {"name": name, "value": result}
    return name, run


def rounds(ctx, st):
    while True:
        names = list(QUERIES)
        st["rng"].shuffle(names)
        yield [_op(ctx, st, n) for n in names]


def _check_rules():
    path = os.path.join(common.ROOT, "scripts", "check_queries.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_queries", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon, mod.ulp_match


def check(ctx, st, ops) -> list[str]:
    canon, ulp_match = _check_rules()
    con = duckdb_connect(st["sf"])
    try:
        oracle = {n: con.execute(REGISTRY[n].oracle).fetchdf() for n in QUERIES}
    finally:
        con.close()
    failures = []
    for op in ops:
        if op["kind"] not in oracle or not op.get("result"):
            continue
        actual, expected = op["result"]["value"], oracle[op["kind"]]
        if len(expected) == 0:
            why = "oracle returned no rows"
        elif canon(actual) == canon(expected) or ulp_match(actual, expected):
            continue
        else:
            why = f"mismatch: spark {len(actual)} rows, oracle {len(expected)} rows"
        op["failed"] = True
        failures.append(f"op {op['i']} {op['kind']}: {why}")
    return failures
