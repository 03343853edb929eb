"""Query registry: the engine's declared, oracle-checkable surface.

Every operator from SURVEY.md §2 lands here as a named query: a DataFrame
builder (the engine path) plus, where SQL-expressible, the equivalent
DuckDB SQL (the oracle path). The driver executes both at sf=0.01 and
compares row-count + schema + order-insensitive value hash — so builders
MUST alias every computed column to the same name the oracle uses, and
float-producing expressions use the exact-arithmetic helpers in
``mk_kafka_connect_spark.functions`` so both engines produce bit-identical
values.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "QuerySpec",
    "QUERIES",
    "DRIVER_WINDOW",
    "query",
    "spark_queries",
    "oracle_queries",
    "certification_order",
]

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL over the pre-registered views, or None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}

# The driver's correctness gate certifies only the FIRST DRIVER_WINDOW
# entries of the exposed query dict. Everything else stays covered by the
# pytest oracle-parity suite (tests/test_oracle_parity.py), which runs the
# same comparison locally. The rotation history is in COVERAGE.md §"Driver
# certification rotation".
DRIVER_WINDOW = 50


def certification_order(ledger: dict | None = None) -> list[str]:
    """Registry names, the queries that most need a driver row first.

    One sort of QUERIES by: stale before clean (stale = HEAD fingerprint
    differs from the ledgered one, or never ledgered); then ascending
    ledger ``evidence_round``, never-ledgered counting as oldest; then
    registration order. The window is ``certification_order()[:DRIVER_WINDOW]``,
    so it rotates after each ``tools/fingerprints.py refresh`` with no
    edit here. ``ledger`` defaults to QUERY_FINGERPRINTS.json. HEAD's
    fingerprints are traced once per process, on the first call, because
    tracing every query takes seconds.
    """
    from .fingerprints import load_ledger

    ledger = load_ledger() if ledger is None else ledger
    head = _head_fingerprints()

    def key(name: str) -> tuple[bool, int]:
        row = ledger.get(name)
        if row is None:
            return (False, -1)
        return (row["fingerprint"] == head[name], row["evidence_round"])

    return sorted(QUERIES, key=key)


@functools.cache
def _head_fingerprints() -> dict[str, str]:
    from .fingerprints import head_fingerprints

    return head_fingerprints()


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register a (DataFrame builder, oracle SQL) pair under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or "")
        return fn

    return deco


def spark_queries() -> dict[str, QueryFn]:
    return {name: QUERIES[name].fn for name in certification_order()}


def oracle_queries() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in certification_order()
        if QUERIES[name].oracle is not None
    }
