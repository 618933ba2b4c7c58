"""Seeded generator of multi-customer ads exports (daily_sync, lake_reads).

Each entity is one parquet file holding every customer's rows for every
day, with a top-level ``customer_id`` column the way a real multi-customer
export has it, plus the nested resource/segments/metrics structs the
pipeline's query definitions flatten. The same (seed, entity, customer,
day, version) always yields the same rows.
"""

from __future__ import annotations

import os
import random
from datetime import date, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from gads_etl_spark.pipeline.extract import QueryDefinition

BASE_DATE = date(2024, 3, 1)

#: Rows per (customer, day): "a few hundred".
ROWS_PER_CUSTOMER_DAY = 200

#: The campaign query: one entity export, one logical partition per
#: (customer, day).
QUERIES = (
    QueryDefinition(
        name="campaign_performance", entity="campaign", date_column="segments.date",
        fields=("campaign.id", "campaign.customer_id", "segments.date",
                "metrics.clicks", "metrics.impressions", "metrics.cost_micros"),
    ),
)

#: Flattened customer column (the bulk path's split key).
CUSTOMER_COL = "campaign_customer_id"


def config_yaml(customers: list[str]) -> str:
    lines = ["source: google_ads", f'customer_ids: "{",".join(customers)}"',
             "queries:"]
    for q in QUERIES:
        lines += [f"  - name: {q.name}", f"    entity: {q.entity}",
                  f"    date_column: {q.date_column}",
                  f"    fields: [{', '.join(q.fields)}]"]
    return "\n".join(lines) + "\n"


def customer_ids(seed: int, n: int) -> list[str]:
    rng = random.Random(f"customers:{seed}")
    out: set[str] = set()
    while len(out) < n:
        out.add(str(rng.randrange(10**9, 10**10)))
    return sorted(out)


def day(i: int) -> date:
    return BASE_DATE + timedelta(days=i)


def rows(seed: int, entity: str, customer: str, d: date, version: int = 1) -> list[dict]:
    """One customer-day of one entity. ``version`` > 1 is a restatement:
    same ids, different metric values."""
    rng = random.Random(f"{seed}:{entity}:{customer}:{d.isoformat()}:{version}")
    out = []
    for i in range(ROWS_PER_CUSTOMER_DAY):
        clicks = rng.randrange(0, 500)
        out.append({
            "customer_id": customer,
            "campaign": {"id": int(customer) * 1000 + i, "name": f"campaign {i}",
                         "customer_id": customer},
            "segments": {"date": d.isoformat()},
            "metrics": {"clicks": clicks,
                        "impressions": clicks * rng.randrange(5, 40) + rng.randrange(0, 100),
                        "cost_micros": rng.randrange(0, 5_000_000)},
        })
    return out


def write_sources(seed: int, root: str, customers: list[str], days: list[date],
                  version_of=lambda q, d: 1) -> dict:
    """Write ``<root>/<entity>.parquet`` for every query's entity.

    ``version_of(query_name, day)`` picks the restatement version of each
    day. Returns {query_name: {(customer, day): rows}} and the total bytes.
    """
    os.makedirs(root, exist_ok=True)
    by_query, total = {}, 0
    for q in QUERIES:
        parts = {(c, d): rows(seed, q.entity, c, d, version_of(q.name, d))
                 for d in days for c in customers}
        path = os.path.join(root, f"{q.entity}.parquet")
        pq.write_table(pa.Table.from_pylist([r for p in parts.values() for r in p]), path)
        total += os.path.getsize(path)
        by_query[q.name] = parts
    return {"rows": by_query, "bytes": total}
