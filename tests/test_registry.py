"""Registry integrity: the driver window must be real queries.

Round 3 shipped 12 hand-pinned front names with no implementation —
``certification_order()`` silently dropped them, so the intended first-50
pinning was partly a no-op and nobody noticed until the driver ran. The
window is now derived from the registry itself; these tests keep it a
window of distinct, registered queries."""

from __future__ import annotations

from mk_kafka_connect_spark.plans import (
    DRIVER_WINDOW,
    QUERIES,
    certification_order,
    oracle_queries,
    spark_queries,
)
from mk_kafka_connect_spark.plans.fingerprints import load_ledger


def test_front_names_all_registered():
    window = certification_order()[:DRIVER_WINDOW]
    missing = set(window) - set(QUERIES)
    assert not missing, f"window entries not in registry: {sorted(missing)}"


def test_front_has_no_duplicates():
    window = certification_order()[:DRIVER_WINDOW]
    assert len(window) == len(set(window))


def test_certification_order_is_a_permutation_of_registry():
    order = certification_order()
    assert sorted(order) == sorted(QUERIES)


def test_driver_window_covers_all_tpch_queries():
    """A TPC-H query with no driver evidence yet must sit inside the
    driver's certification window to get its first driver row."""
    window = set(certification_order()[:DRIVER_WINDOW])
    ledger = load_ledger()
    tpch = {n for n in QUERIES if n.startswith("q") and "_" in n}
    uncertified_tpch = {n for n in tpch if n not in ledger}
    assert uncertified_tpch <= window


def test_exposed_dicts_follow_certification_order():
    assert list(spark_queries()) == certification_order()
    oracle_names = [n for n in certification_order() if QUERIES[n].oracle is not None]
    assert list(oracle_queries()) == oracle_names


def test_scale_probe_set_is_registered():
    """Every query the scaling probe reports on must exist in the
    registry — keeps SCALING.md's tool from silently probing nothing."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "scale_probe",
        os.path.join(os.path.dirname(__file__), "..", "tools", "scale_probe.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from mk_kafka_connect_spark.plans import QUERIES

    missing = [n for n in mod.PROBE_SET if n not in QUERIES]
    assert not missing, f"probe set names not registered: {missing}"
