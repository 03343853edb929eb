"""Invariants of the driver-certification rotation.

The driver hash-checks only the first ``DRIVER_WINDOW`` entries of the
exposed query dict per round. ``certification_order()`` derives that
order from the fingerprint ledger (QUERY_FINGERPRINTS.json): stale
queries (drifted or never ledgered) before clean ones, oldest evidence
first, then registration order. These tests pin the rule, not any
particular round's window, so they hold after every ledger refresh.
"""

from __future__ import annotations

import pytest

from mk_kafka_connect_spark.plans import fingerprints as FP
from mk_kafka_connect_spark.plans.registry import (
    DRIVER_WINDOW,
    QUERIES,
    _head_fingerprints,
    certification_order,
)


@pytest.fixture(scope="module")
def ledger():
    return FP.load_ledger()


@pytest.fixture(scope="module")
def stale(ledger):
    return set(FP.drifted(ledger))


def _round(ledger, name):
    row = ledger.get(name)
    return -1 if row is None else row["evidence_round"]


def test_front_fills_driver_window_exactly():
    # A short window silently wastes driver seats; a duplicate or an
    # unregistered name silently drops one.
    window = certification_order()[:DRIVER_WINDOW]
    assert len(window) == DRIVER_WINDOW
    assert len(set(window)) == DRIVER_WINDOW
    dangling = [n for n in window if n not in QUERIES]
    assert not dangling, f"window names not in registry: {dangling}"


def test_stale_overflow_queues_directly_behind_window(stale):
    # Every stale query precedes every clean query, so the stale queries
    # that do not fit the window take the next seats, ahead of any query
    # whose evidence is current.
    order = certification_order()
    assert set(order[: len(stale)]) == stale, (
        "a clean query is ordered ahead of a stale one: "
        f"{sorted(set(order[: len(stale)]) - stale)}"
    )


def test_stale_block_puts_oldest_evidence_first(ledger, stale):
    # Never-ledgered queries have no driver row at all: they count as
    # the oldest evidence and lead the order.
    block = certification_order()[: len(stale)]
    rounds = [_round(ledger, n) for n in block]
    assert rounds == sorted(rounds)


def test_clean_queries_ordered_by_evidence_round(ledger, stale):
    clean = certification_order()[len(stale) :]
    rounds = [_round(ledger, n) for n in clean]
    assert rounds == sorted(rounds)


def test_ties_keep_registration_order(ledger, stale):
    position = {n: i for i, n in enumerate(QUERIES)}
    order = certification_order()
    for a, b in zip(order, order[1:]):
        if (a in stale, _round(ledger, a)) == (b in stale, _round(ledger, b)):
            assert position[a] < position[b], (a, b)


def test_window_queries_all_have_oracles():
    # A rows-only driver row would not discharge the certification debt.
    window = certification_order()[:DRIVER_WINDOW]
    missing = [n for n in window if QUERIES[n].oracle is None]
    assert not missing, f"window queries without oracle SQL: {missing}"


def test_window_rotates_after_certification(ledger):
    # Certify the window the way `fingerprints.py refresh` would (HEAD
    # fingerprints at a new evidence round) and re-derive: the next
    # window must not spend a single seat on the queries just certified.
    window = certification_order()[:DRIVER_WINDOW]
    head = _head_fingerprints()
    next_round = max(row["evidence_round"] for row in ledger.values()) + 1
    refreshed = dict(ledger)
    for name in window:
        refreshed[name] = {"fingerprint": head[name], "evidence_round": next_round}
    nxt = certification_order(refreshed)[:DRIVER_WINDOW]
    assert len(nxt) == DRIVER_WINDOW
    repeats = set(window) & set(nxt)
    assert not repeats, f"next window repeats certified queries: {sorted(repeats)}"
