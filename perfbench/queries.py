"""The ``query_relational`` workload: a registry query mix run pass after
pass, each query built and then collected to the client, each result
checked against its DuckDB oracle digest outside the timed region.

An op is one query: the ``plans`` registry function, then ``toPandas()`` —
the full result a Python caller receives, so Catalyst cannot prune what a
``count()`` would skip. A pass runs every query of the mix once, in an order the run's
seed permutes. A run makes at least ``PASSES`` passes and goes on until
``--seconds`` have elapsed; each pass is the same work, so the per-pass
figures repeat from run to run.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time

import datagen
import harness
from digest import digest, fingerprint
from mk_kafka_connect_spark import catalog
from mk_kafka_connect_spark.plans import spark_queries

HERE = os.path.dirname(os.path.abspath(__file__))

# Fixtures the mix reads: sf0.1 from a fixed data seed (the run seed only
# permutes the order), and a tiny set for the warm-up op and round, outside
# the timed data.
DATA_SF, DATA_SEED = 0.1, 42
WARM_SF, WARM_SEED = 0.001, 7
WARMUP_QUERY = "q1_pricing_summary"
# The queries' latencies spread over 0.3-2.5 s and single ones jump by up to
# half from run to run, so with one pass a run's median and tail op moved
# with whichever query landed there; a second pass gives each query two
# samples.
PASSES = 2

MIX = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q7_volume_shipping", "q9_product_type_profit",
    "q14_promo_effect", "q19_discount_revenue", "cdc_merge_upsert",
    "cdc_scd2_history", "dedup_latest_wins", "window_running_agg",
    "sessionize_events", "events_dau_wau", "join_asof", "agg_stats",
]

ORACLE_PATH = os.path.join(HERE, "oracle.json")


def load_oracle() -> dict:
    with open(ORACLE_PATH) as f:
        return json.load(f)


def fixtures(work: str) -> tuple[str, dict[str, str], str]:
    root = os.path.join(work, "fixtures")
    sf_dir, hashes = datagen.ensure(root, DATA_SF, DATA_SEED)
    warm_dir, _ = datagen.ensure(root, WARM_SF, WARM_SEED)
    return sf_dir, hashes, warm_dir


def _trace_load_table(tracer) -> None:
    """Route every ``catalog.load_table`` call the plans make through a span.
    The plans bind the function at import (``from ..catalog import
    load_table``), so each binding is replaced."""
    orig = catalog.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("catalog.load_table", table=name):
            return orig(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "") or "").startswith("mk_kafka_connect_spark") \
                and getattr(mod, "load_table", None) is orig:
            mod.load_table = load_table


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    names = MIX
    oracle = load_oracle()
    marks = [time.perf_counter()]
    sf_dir, hashes, warm_dir = fixtures(work)
    fixture_ok = hashes == oracle["fixtures"]["hashes"]
    fns = spark_queries()

    def warmup(spark):
        fns[WARMUP_QUERY](spark, warm_dir).toPandas()

    marks.append(time.perf_counter())
    spark, setups, starts = harness.setup_sessions(work, warmup)
    marks.append(time.perf_counter())
    # Warm-up round: every query of the mix once on the tiny fixtures, so the
    # timed passes start from a JVM that has planned and compiled each one.
    for name in names:
        fns[name](spark, warm_dir).toPandas()
    marks.append(time.perf_counter())
    tracer = harness.Tracer(spark.sparkContext, trace)
    status = harness.Status(spark)
    if trace:
        _trace_load_table(tracer)
    rng = random.Random(seed)
    layer: dict[str, float] = {}
    ops: list[tuple[str, float]] = []  # (query, seconds); NaN when it raised
    results: list[tuple[str, object]] = []  # (query, pandas result or None)
    errors: list[str] = []
    walls: list[float] = []
    t_start = time.perf_counter()
    while len(walls) < PASSES or time.perf_counter() - t_start < seconds:
        order = list(names)
        rng.shuffle(order)
        p0 = time.perf_counter()
        for name in order:
            op = len(ops)
            try:
                with tracer.op_span(op):
                    t0 = time.perf_counter()
                    with tracer.span("plans.build", query=name):
                        df = fns[name](spark, sf_dir)
                    if trace:
                        with tracer.span("plans.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec.collect"):
                        pdf = df.toPandas()
                    dt = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001  # a failed op is counted, not fatal
                errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
                ops.append((name, float("nan")))
                results.append((name, None))
                continue
            ops.append((name, dt))
            results.append((name, pdf))
            if trace:
                _account(layer, tracer, status, op, df)
        walls.append(time.perf_counter() - p0)
    marks.append(time.perf_counter())
    heap_mb = harness.live_heap_mb(spark) if trace else None
    spark.stop()
    marks.append(time.perf_counter())

    # Correctness of every op, outside the timed region.
    # A result is correct when its canonical digest equals the oracle's.
    # The digest is slow on large results, so each result's cheap
    # fingerprint is compared first with the fingerprints of results already
    # verified against the oracle, in this run or an earlier one in this
    # work directory.
    seen_path = os.path.join(work, "verified_fingerprints.json")
    seen: dict[str, list[str]] = {}
    if fixture_ok and os.path.exists(seen_path):
        with open(seen_path) as f:
            seen = json.load(f)
    mismatched = []
    for name, pdf in results:
        if pdf is None or not fixture_ok:
            mismatched.append(name)
            continue
        fp = fingerprint(pdf)
        if fp in seen.get(name, []):
            continue
        if digest(pdf) == oracle["digests"][name]:
            seen.setdefault(name, []).append(fp)
        else:
            mismatched.append(name)
    if fixture_ok:
        with open(seen_path, "w") as f:
            json.dump(seen, f)
    marks.append(time.perf_counter())
    lat = [dt for _, dt in ops if dt == dt]
    per_query: dict[str, list[float]] = {}
    for name, dt in ops:
        if dt == dt:
            per_query.setdefault(name, []).append(dt)
    rows = sum(len(pdf) for _, pdf in results if pdf is not None)
    q, tail_s = harness.tail(lat)
    passes = len(walls)
    e2e = {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(walls),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_s,
        "query_geomean_s": statistics.geometric_mean([statistics.median(v) for v in per_query.values()]),
        "ingest_rows_per_s": rows / sum(walls),
        "success_frac": 1 - len(mismatched) / len(results),
    }
    per_layer = {k: v / passes for k, v in layer.items()}
    per_layer["session.start_s"] = statistics.median(starts)
    per_layer["session.jvm_live_heap_mb"] = heap_mb
    info = {
        "passes": passes,
        "ops_per_pass": len(names),
        "op_tail_percentile": q,
        "setups_s": setups,
        "phases_s": dict(zip(("prep", "setup", "warmround", "timed", "stop", "check"),
                             [b - a for a, b in zip(marks, marks[1:])])),
        "fixture_hashes_match_oracle": fixture_ok,
        "mismatched": mismatched,
        "errors": errors,
        "per_query_median_s": {k: statistics.median(v) for k, v in per_query.items()},
        "ops": ops,
        "pass_walls_s": walls,
    }
    if trace:
        per_layer["trace.overhead_frac"] = tracer.overhead_frac()
        info["traced_real_op_p50_s"] = statistics.median(lat)
        info["trace_self_sum_max_err_s"] = tracer.check_self_sums()
    return {
        "attempted": len(results),
        "failed": len(mismatched),
        "e2e": e2e,
        "per_layer": per_layer,
        "info": info,
        "spans": tracer.dump(),
    }


def _account(layer: dict, tracer, status, op: int, df) -> None:
    """Add one traced op's spans, job groups and Catalyst phases to the
    per-layer totals."""

    def add(key: str, v: float) -> None:
        layer[key] = layer.get(key, 0.0) + v

    for sp, self_s in zip(tracer.spans, tracer.self_times()):
        if sp.op != op:
            continue
        if sp.name == "catalog.load_table":
            add("catalog.load_s", sp.end - sp.start)
            add("catalog.jobs", status.group(sp.group)["jobs"])
        elif sp.name == "plans.build":
            add("plans.build_s", self_s)
            add("plans.build_jobs", status.group(sp.group)["jobs"])
        elif sp.name in ("plans.plan", "exec.collect"):
            # executedPlan() plans (and may run subquery or AQE jobs); the
            # collect runs the plan. Both are the execution layer's jobs.
            st = status.group(sp.group)
            if sp.name == "exec.collect":
                add("exec.run_s", sp.end - sp.start)
            for key in harness.EXEC_KEYS:
                add(f"exec.{key}", st[key])
    ph = harness.phases(df)
    add("plans.analysis_s", ph["analysis"])
    add("plans.optimization_s", ph["optimization"])
    add("plans.planning_s", ph["planning"])
