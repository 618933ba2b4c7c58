"""read_mix: the lake_reads ops and the analytics_mix queries in one loop.

Set-up builds both workloads' inputs (the bulk-path lake and the fixture
tables); each round runs every lake read and every query once, in one
order drawn from the seed. It exists for the run budget: one process
measures the reader's path and the engine's query surface, so every layer
the two standalone workloads cover is measured with one JVM start and one
set-up per run. The checks are the two workloads' own.
"""

from __future__ import annotations

import random

from perfbench import analytics_mix, lake_reads

#: ``op_s.p50`` is taken over every op of the mix.
STEADY_KINDS = None


def setup(ctx) -> dict:
    lake = lake_reads.setup(ctx)
    tables = analytics_mix.setup(ctx)
    return {"lake": lake, "tables": tables, "roots": lake["roots"],
            "rng": random.Random(f"read_mix:{ctx.seed}")}


def rounds(ctx, st):
    for lake_ops, query_ops in zip(lake_reads.rounds(ctx, st["lake"]),
                                   analytics_mix.rounds(ctx, st["tables"])):
        ops = lake_ops + query_ops
        st["rng"].shuffle(ops)
        yield ops


def check(ctx, st, ops) -> list[str]:
    return lake_reads.check(ctx, st["lake"], ops) + analytics_mix.check(ctx, st["tables"], ops)


def rows_returned(ctx, st, ops) -> int:
    return lake_reads.rows_returned(ctx, st["lake"], ops)


def layer_counts(ctx, st, ops, after) -> dict:
    return lake_reads.layer_counts(ctx, st["lake"], ops, after)
