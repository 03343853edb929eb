"""The ``cdc_sync`` workload: the reference connector's job run by the
engine's own incremental driver against a paginated REST API.

A pass is one sync from empty state: one INITIAL_LOAD cycle over the
backlog, then ``CYCLES`` INCREMENTAL cycles over 10-minute windows, driven
by ``IncrementalDriver`` with an injected clock. fetch is
``CdcPipeline(window options, StringCast chain).read_batch``; sink is
``operators.cdc.write_entity_partitioned`` in append mode. An op is one
incremental cycle (all four entities). Passes repeat until ``--seconds``
have elapsed.

Every window is checked after the timed phase: the rows landed must be the
keyed rows served, with no duplicate key, and an order-insensitive digest
of (entity, key, payload) must equal the generator's.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request
from bisect import bisect_right
from datetime import datetime

import harness
import pagesrv
from mk_kafka_connect_spark.operators.cdc import write_entity_partitioned
from mk_kafka_connect_spark.pipeline import CdcPipeline
from mk_kafka_connect_spark.sources.rest_client import RestClient
from mk_kafka_connect_spark.sources.rest_source import register
from mk_kafka_connect_spark.streaming.incremental import IncrementalDriver, StateStore

HERE = os.path.dirname(os.path.abspath(__file__))
CYCLES = 5
CRON = "0 */10 * * * ?"
CHAIN = [{"name": "string_cast", "fields": ["_ingestion_timestamp"]}]
FMT = pagesrv.DATETIME_FMT


def landed(spark, path: str) -> dict[tuple[str, int], tuple[int, int, int]]:
    """(entity, window index) → (rows, distinct keys, digest) in the sink."""
    starts = pagesrv.window_starts(CYCLES)
    tbl = spark.read.parquet(path).select("_entity_type", "key", "payload", "_event_datetime").toArrow()
    out: dict[tuple[str, int], list] = {}
    for e, k, p, ts in zip(*(tbl.column(i).to_pylist() for i in range(4))):
        acc = out.setdefault((e, bisect_right(starts, ts) - 1), [0, set(), 0])
        acc[0] += 1
        acc[1].add(k)
        acc[2] = (acc[2] + pagesrv.row_hash(e, k, p)) % (1 << 64)
    return {w: (v[0], len(v[1]), v[2]) for w, v in out.items()}


class PageServerProcess:
    """The load generator in its own process; stopped by closing its stdin."""

    def __init__(self, cfg: pagesrv.Config):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "pagesrv.py"), *cfg.argv()],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.url = ""

    def wait_ready(self) -> None:
        if self.url:
            return
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "READY":
            raise RuntimeError("page server did not start")
        self.url = f"http://127.0.0.1:{line[1]}"

    def _get(self, path: str) -> dict:
        with urllib.request.urlopen(f"{self.url}{path}", timeout=10) as r:
            return json.loads(r.read())

    def stats(self) -> dict:
        return self._get("/__stats")

    def expected(self) -> dict[tuple[str, int], tuple[int, int]]:
        """(entity, window index) → (keyed rows, digest), from the generator."""
        return {(k.split("/")[0], int(k.split("/")[1])): (v[0], v[1])
                for k, v in self._get("/__expected").items()}

    def close(self) -> None:
        if self.proc.stdin:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def source_options(url: str, entity: str, start: str, end: str) -> dict[str, str]:
    return {
        "url": f"{url}/api",
        "entities": entity,
        "batch.size": "500",
        "entity.id.fields": ",".join(f"{e}:{f}" for e, f in pagesrv.ID_FIELDS.items()),
        "initial.datetimes": f"{entity}:{start}",
        "end_datetime": end,
    }


class Clock:
    def __init__(self, now: datetime):
        self.now = now

    def __call__(self) -> datetime:
        return self.now


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    marks = [time.perf_counter()]
    cfg = pagesrv.Config(seed, windows=CYCLES)
    base = os.path.join(work, "cdc")
    shutil.rmtree(base, ignore_errors=True)
    server = PageServerProcess(cfg)
    try:
        entities = list(pagesrv.ID_FIELDS)
        spark = None
        op_ids = itertools.count()

        def sync(path: str, tr, start: datetime, end: datetime, cycles: int,
                 lat: list, win_lat: list, ents: list[str]) -> tuple[float, str | None]:
            """One sync into ``path``; returns (INITIAL_LOAD seconds, error)."""
            def fetch(e: str, lo: str, hi: str):
                opts = source_options(server.url, e, lo, hi)
                with tr.span("pipeline.fetch", entity=e):
                    if tr.enabled and cycle[0] <= REPLAY_LAST_CYCLE:
                        _replay(tr, spark, server, opts, e, lo, hi)
                    t_fetch[e] = time.perf_counter()
                    return CdcPipeline(opts, CHAIN, "mk.chargeover").read_batch(spark)

            def sink(df, e, window):
                with tr.span("operators.cdc.write", entity=e):
                    write_entity_partitioned(df, os.path.join(path, "out"), mode="append")
                win_lat.append((cycle[0], e, time.perf_counter() - t_fetch[e]))

            t_fetch: dict[str, float] = {}
            cycle = [0]
            clock = Clock(end)
            drv = IncrementalDriver(
                StateStore(os.path.join(path, "state.json")), ents, fetch, sink,
                cron=CRON, initial_datetimes={e: start.strftime(FMT) for e in ents},
                clock=clock,
            )
            initial_s = 0.0
            for k in range(cycles + 1):
                clock.now = end + k * pagesrv.WINDOW
                cycle[0] = k
                try:
                    with tr.op_span(next(op_ids), "op"):
                        t0 = time.perf_counter()
                        with tr.span("streaming.incremental.run_once"):
                            done = drv.run_once()
                        dt = time.perf_counter() - t0
                except Exception as e:  # noqa: BLE001  # a failed op is counted, not fatal
                    return initial_s, f"cycle {k}: {type(e).__name__}: {e}"[:300]
                if len(done) != len(ents):
                    return initial_s, f"cycle {k}: {len(done)} windows"
                if k == 0:
                    initial_s = dt
                else:
                    lat.append(dt)
            return initial_s, None

        def warmup(s):
            """One INITIAL_LOAD cycle of one entity over the warm-up window,
            which no timed pass reads."""
            nonlocal spark
            spark = s
            server.wait_ready()  # the first set-up overlaps its start-up
            path = os.path.join(base, "warmup")
            shutil.rmtree(path, ignore_errors=True)
            sync(path, harness.Tracer(None, False), pagesrv.WARMUP_START,
                 pagesrv.BACKLOG_START, 0, [], [], entities[:1])

        marks.append(time.perf_counter())
        spark, setups, starts = harness.setup_sessions(work, warmup)
        marks.append(time.perf_counter())
        want = server.expected()
        # Warm-up round: the four-entity cycle over the warm-up window, so
        # the timed syncs start with every entity's fetch and sink path warm.
        sync(os.path.join(base, "warmround"), harness.Tracer(None, False),
             pagesrv.WARMUP_START, pagesrv.BACKLOG_START, 0, [], [], entities)
        marks.append(time.perf_counter())
        tracer = harness.Tracer(spark.sparkContext, trace)
        status = harness.Status(spark)
        passes: list[dict] = []
        stats0 = server.stats()
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < seconds:
            path = os.path.join(base, f"pass{len(passes)}")
            p = {"path": path, "lat": [], "win_lat": []}
            t0 = time.perf_counter()
            p["initial_s"], p["error"] = sync(
                path, tracer, pagesrv.BACKLOG_START, pagesrv.SYNC_START, CYCLES,
                p["lat"], p["win_lat"], entities)
            p["wall"] = time.perf_counter() - t0
            passes.append(p)
        stats1 = server.stats()
        marks.append(time.perf_counter())
        heap_mb = harness.live_heap_mb(spark) if trace else None

        # Correctness of every cycle, outside the timed region.
        failed = attempted = 0
        mismatched: list[str] = []
        for p in passes:
            got = landed(spark, os.path.join(p["path"], "out")) if p["error"] is None else {}
            for k in range(CYCLES + 1):
                attempted += 1
                bad = [
                    e for e in entities
                    if p["error"] is not None or (e, k) not in want
                    or got.get((e, k)) != (want[(e, k)][0], want[(e, k)][0], want[(e, k)][1])
                ]
                if bad:
                    failed += 1
                    mismatched.append(f"{os.path.basename(p['path'])} cycle {k}: {bad}")
        if trace:
            layer = _layers(tracer, status, len(passes), {k: stats1[k] - stats0[k] for k in stats1})
        marks.append(time.perf_counter())
        spark.stop()
        spark = None
    finally:
        if spark is not None:
            spark.stop()
        server.close()
    marks.append(time.perf_counter())

    lat = [x for p in passes for x in p["lat"]]
    rows_initial = sum(n for (e, k), (n, _) in want.items() if k == 0)
    per_entity: dict[str, list[float]] = {}
    for p in passes:
        for k, e, dt in p["win_lat"]:
            if k > 0:  # incremental windows only
                per_entity.setdefault(e, []).append(dt)
    q, tail_s = harness.tail(lat)
    e2e = {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median([p["wall"] for p in passes]),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_s,
        "query_geomean_s": statistics.geometric_mean([statistics.median(v) for v in per_entity.values()]),
        "ingest_rows_per_s": rows_initial / statistics.median([p["initial_s"] for p in passes]),
        "success_frac": 1 - failed / attempted,
    }
    per_layer: dict[str, float] = {}
    info = {
        "passes": len(passes),
        "cycles_per_pass": CYCLES,
        "op_tail_percentile": q,
        "setups_s": setups,
        "phases_s": dict(zip(("prep", "setup", "warmround", "timed", "check", "stop"),
                             [b - a for a, b in zip(marks, marks[1:])])),
        "mismatched": mismatched,
        "errors": [p["error"] for p in passes if p["error"]],
        "initial_rows": rows_initial,
        "pass_detail": [{k: p[k] for k in ("wall", "initial_s", "lat", "win_lat")} for p in passes],
        "pagesrv": {k: stats1[k] - stats0[k] for k in stats0},
    }
    if trace:
        per_layer = layer
        per_layer["session.start_s"] = statistics.median(starts)
        per_layer["session.jvm_live_heap_mb"] = heap_mb
        per_layer["trace.overhead_frac"] = tracer.overhead_frac()
        # A traced cycle also replays each window layer by layer; its real
        # fetch-and-sink part is what compares with an untraced cycle.
        info["traced_real_op_p50_s"] = statistics.median(_real_cycle_s(tracer))
        info["trace_self_sum_max_err_s"] = tracer.check_self_sums()
    return {
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "per_layer": per_layer,
        "info": info,
        "spans": tracer.dump(),
    }


def _real_cycle_s(tracer) -> list[float]:
    """Each traced cycle's duration without its replay spans."""
    out: dict[int, float] = {}
    for sp in tracer.spans:
        if sp.name == "streaming.incremental.run_once":
            out[sp.op] = out.get(sp.op, 0.0) + sp.end - sp.start
        elif sp.name in REPLAY_SPANS:
            out[sp.op] = out.get(sp.op, 0.0) - (sp.end - sp.start)
    return list(out.values())


# A traced run replays the windows of the INITIAL_LOAD cycle (bulk) and of the
# first INCREMENTAL cycle (fixed cost per window). Replaying every cycle
# triples a traced pass, and on a contended host a traced run then comes
# near the 180 s a run may take.
REPLAY_LAST_CYCLE = 1

REPLAY_SPANS = (
    "sources.rest_client.fetch_all", "sources.rest_source.plan",
    "sources.rest_source.read", "pipeline.read_batch.noop",
)


def _replay(tr, spark, server, opts, e, lo, hi) -> None:
    """The window again, one layer at a time: the REST client alone, the
    source to a noop sink, the source plus the transform chain to a noop
    sink. Only traced runs do this, for cycles up to REPLAY_LAST_CYCLE."""
    s0 = server.stats()
    with tr.span("sources.rest_client.fetch_all") as sp:
        pages = sum(1 for _ in RestClient(opts["url"]).fetch_all(e, pagesrv.DT_FIELD, lo, hi, 500))
    s1 = server.stats()
    sp.attrs.update(pages=pages, bytes=s1["bytes"] - s0["bytes"])
    with tr.span("sources.rest_source.plan"):
        register(spark)
        raw = spark.read.format("paginated_rest").options(**opts).load()
    with tr.span("sources.rest_source.read"):
        raw.write.format("noop").mode("overwrite").save()
    with tr.span("pipeline.read_batch.noop"):
        CdcPipeline(opts, CHAIN, "mk.chargeover").read_batch(spark) \
            .write.format("noop").mode("overwrite").save()


def _layers(tracer, status, passes: int, pagesrv_delta: dict) -> dict:
    """Per-pass layer totals of the traced passes. ``transforms.self_s`` is
    the replayed source-plus-chain read minus the replayed source read."""
    acc: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        acc[key] = acc.get(key, 0.0) + v

    for sp, self_s in zip(tracer.spans, tracer.self_times()):
        dur = sp.end - sp.start
        if sp.name == "sources.rest_client.fetch_all":
            add("sources.rest_client.fetch_s", dur)
            add("sources.rest_client.pages", sp.attrs["pages"])
            add("sources.rest_client.bytes", sp.attrs["bytes"])
        elif sp.name == "sources.rest_source.plan":
            add("sources.rest_source.plan_s", dur)
            add("transforms.self_s", -dur)
        elif sp.name == "sources.rest_source.read":
            add("sources.rest_source.read_s", dur)
            add("transforms.self_s", -dur)
        elif sp.name == "pipeline.read_batch.noop":
            add("transforms.self_s", dur)
        elif sp.name == "operators.cdc.write":
            add("operators.cdc.write_s", dur)
            add("exec.run_s", dur)
            st = status.group(sp.group)
            for key in harness.EXEC_KEYS:
                add(f"exec.{key}", st[key])
        elif sp.name == "streaming.incremental.run_once":
            add("streaming.incremental.self_s", self_s)
        elif sp.name == "pipeline.fetch":
            add("streaming.incremental.windows", 1)
    for k, v in pagesrv_delta.items():
        add(f"pagesrv.{k}", v)
    return {k: v / passes for k, v in acc.items()}
