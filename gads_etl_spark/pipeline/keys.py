"""Logical partition key — the unit of idempotency, retry and visibility.

Reference: docs/state_store_contract.md:6-14 — every raw/curated partition,
state row and warehouse pointer is keyed by
``(source, customer_id, query_name, logical_date)``; ``run_id`` fences
individual attempts (reference src/gads_etl/run_context.py:8-26).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, datetime, timezone

LOGICAL_KEY = ("source", "customer_id", "query_name", "logical_date")

#: Characters Spark percent-encodes in hive partition directory names
#: (``ExternalCatalogUtils.escapePathName``): ASCII controls 0x01-0x1F,
#: DEL, and ``"#%'*/:=?\{[]^``.
_PATH_ESCAPED = frozenset(
    [chr(c) for c in range(0x01, 0x20)] + list("\"#%'*/:=?\\\x7f{[]^")
)


def escape_path_name(value: str) -> str:
    """Hive-escape one partition column name or value exactly as Spark's
    ``partitionBy`` writer does, so a directory built here is the one a
    bulk write produced (``run_id=2024-03-01T01%3A00%3A00.000Z``); hive
    partition discovery unescapes it back on read."""
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPED else c for c in value)


@dataclass(frozen=True)
class PartitionKey:
    source: str
    customer_id: str
    query_name: str
    logical_date: date

    def as_dict(self) -> dict:
        return {
            "source": self.source,
            "customer_id": self.customer_id,
            "query_name": self.query_name,
            "logical_date": self.logical_date,
        }

    def relative_path(self) -> str:
        """Hive-style directory path (reference docs/raw_sink_contract.md:15-27),
        values escaped like Spark's ``partitionBy`` writer escapes them."""
        return "/".join(
            f"{col}={escape_path_name(str(v))}"
            for col, v in zip(LOGICAL_KEY, (self.source, self.customer_id,
                                            self.query_name,
                                            self.logical_date.isoformat()))
        )


def new_run_id(now: datetime | None = None) -> str:
    """ISO-8601 UTC millisecond run_id; lexicographic order == time order.

    Reference: src/gads_etl/run_context.py:8-14 (ms precision, ``Z`` suffix,
    compared lexicographically by the validator at validator.py:118-121).
    """
    now = now or datetime.now(timezone.utc)
    return now.strftime("%Y-%m-%dT%H:%M:%S.") + f"{now.microsecond // 1000:03d}Z"
