"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads: ``cdc_sync`` and
``query_relational`` (see README.md in this directory and BENCHMARK.json).
With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics from a run with spans. Either
way the line is one JSON object with keys ``correct``, ``attempted``,
``failed`` and ``metrics``. Everything a run writes (fixtures, Spark
scratch, sink output, the full run record with spans and host-noise
evidence) stays under ``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("cdc_sync", "query_relational")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mk_kafka_connect_spark", "__init__.py")):
        print("perfbench: run from the repository root; mk_kafka_connect_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import harness

    work = os.path.join(root, ".perfbench_work")
    harness.configure_env(work)
    harness.become_subreaper()
    # A SIGTERM unwinds through the clean-up below instead of orphaning the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    before = harness.host_snapshot()
    t0 = time.perf_counter()
    try:
        if a.workload == "cdc_sync":
            import cdc as wl
        else:
            import queries as wl
        res = wl.run(a.workload, a.seed, a.seconds, bool(a.trace), work)
    finally:
        harness.stop_descendants()
    noise = harness.host_noise(before, harness.host_snapshot())

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        # A workload that does not touch a layer reports 0 for it.
        metrics = {m["name"]: {"value": res["per_layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "run_s": time.perf_counter() - t0, "host": noise, "result": out,
        "e2e": res["e2e"], "per_layer": res["per_layer"], "info": res["info"],
        "spans": res["spans"],
    }
    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)
    path = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    plain = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace0.json")
    if a.trace and os.path.exists(plain):
        # The gap between this traced run and the untraced run of the same
        # workload and seed, op for op (a traced cdc cycle without its replay).
        with open(plain) as f:
            p50 = json.load(f)["e2e"]["op_p50_s"]
        record["info"]["gap_vs_untraced_op_p50"] = res["info"]["traced_real_op_p50_s"] / p50 - 1
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"host": noise, "info": res["info"], "record": path}, default=str),
          file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
