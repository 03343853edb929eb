"""Mechanical stale-by-code guard (ADVICE r16, medium).

Round 16's hand-typed recert list both included a query the diff never
touched and omitted one it did. This test makes that class of error
impossible going forward: ``QUERY_FINGERPRINTS.json`` holds, for every
registered query, the SHA-256 of its source closure (the query
function, its ``@query`` decorator text — hence oracle SQL and tags —
and transitively every in-package function/class it references, so a
shared-helper edit like round 16's ``materialize_result`` swap is
caught even when the query body is untouched).

The ledger was bootstrapped at commit 22a1fc2 — the exact code the r16
driver certified — and re-stamped each round from the new CORRECTNESS
artifact. Any query whose HEAD fingerprint differs from its ledgered
one has certification evidence from older code and MUST be ordered in
the stale block at the head of ``certification_order()``, ahead of
every clean query, so it takes a driver seat before any query whose
evidence is current.

End-of-round, ``python tools/fingerprints.py refresh`` re-stamps the
queries the new CORRECTNESS artifact certified (and the bootstrap rule
re-runs after the round's strict-parity gate).
"""

from __future__ import annotations

import os

import pytest

from mk_kafka_connect_spark.plans import fingerprints
from mk_kafka_connect_spark.plans.registry import QUERIES, certification_order

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def drifted():
    return fingerprints.drifted()


def test_ledger_covers_every_query(drifted):
    ledger = fingerprints.load_ledger()
    assert ledger, "QUERY_FINGERPRINTS.json missing — run fingerprints.py bootstrap"
    stale_block = set(certification_order()[: len(drifted)])
    unledgered = [n for n in QUERIES if n not in ledger and n not in stale_block]
    assert not unledgered, (
        f"queries with no ledgered fingerprint ordered outside the stale "
        f"block: {unledgered}"
    )


def test_drifted_queries_hold_a_pending_recert_seat(drifted):
    # Every drifted() query precedes every non-stale query.
    order = certification_order()
    stranded = {
        name: row["reason"]
        for name, row in drifted.items()
        if order.index(name) >= len(drifted)
    }
    assert not stranded, (
        "stale-by-code queries ordered behind a clean query in "
        f"certification_order(): {sorted(stranded)}"
    )


def test_local_imports_join_the_closure():
    # ADVICE r18 (low): `from ..operators.multimodal import
    # ahash_near_dups` INSIDE the query body was invisible to the
    # round-18 tracer (it resolved names only through module globals
    # and closure cells), so tests here silently passed while r18
    # changed that operator. The upgraded tracer walks Import/
    # ImportFrom nodes in the function body; this pins the fix with the
    # exact query that slipped through.
    import inspect

    from mk_kafka_connect_spark.operators import multimodal

    srcs = fingerprints._closure_sources(QUERIES["multimodal_ahash_neardup"].fn)
    blob = "\n".join(srcs.values())
    assert inspect.getsource(multimodal.ahash_near_dups) in blob, (
        "function-local import not traced into the fingerprint closure"
    )


def test_qq_registry_alias_is_chased():
    # ADVICE r18 (medium): composed queries that index the registry via
    # the body-local `_QQ` alias (docs_neardup_overlap_matrix →
    # dedup_minhash_lsh) never had their components folded into the
    # fingerprint because _REGISTRY_REF only matched `_Q[`/`QUERIES[`.
    name = "docs_neardup_overlap_matrix"
    blob = "\n".join(
        fingerprints._fingerprint_inputs(name, QUERIES[name], QUERIES)
    )
    assert "def dedup_minhash_lsh" in blob, (
        "_QQ[...] component reference not chased into the fingerprint"
    )


def test_registry_ref_regex_covers_every_alias_in_package():
    # Mechanical guard for the alias set itself: find every
    # `<alias>["name"].fn / .oracle` indexing expression in the package
    # source and assert _REGISTRY_REF matches it, so a NEW alias
    # (tomorrow's `_QQQ`) cannot silently reopen the hole.
    import re

    pkg_dir = os.path.join(REPO, "mk_kafka_connect_spark")
    idx = re.compile(
        r"([A-Za-z_][A-Za-z0-9_]*)\[\s*['\"][A-Za-z0-9_]+['\"]\s*\]\s*\.\s*(?:fn|oracle)"
    )
    uncovered = set()
    for root, _dirs, files in os.walk(pkg_dir):
        for f in files:
            if not f.endswith(".py"):
                continue
            src = open(os.path.join(root, f)).read()
            for m in idx.finditer(src):
                if not fingerprints._REGISTRY_REF.match(m.group(0)):
                    uncovered.add(m.group(1))
    assert not uncovered, (
        f"registry-indexing aliases invisible to _REGISTRY_REF: {uncovered}"
    )
