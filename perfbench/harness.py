"""Shared machinery of the benchmark: session set-up, spans, Spark status
reads, host-noise evidence and the statistics every workload reports.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into the package's public functions, and job, stage
and task figures come from Spark's status APIs (``statusTracker`` per job
group, ``AppStatusStore.lastStageAttempt`` per stage).
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# -- processes ----------------------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt every orphaned descendant (Python workers whose JVM has exited,
    say), so ``stop_descendants`` can wait for each one."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    out: list[int] = []
    for tid in os.listdir("/proc/self/task"):
        try:
            with open(f"/proc/self/task/{tid}/children") as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            continue
    return out


def stop_descendants(grace: float = 30.0) -> None:
    """End the Spark JVM and wait until no process this one started (or
    adopted) is left, zombies included. The JVM's gateway server exits when
    its stdin closes; anything still running after ``grace`` seconds gets
    SIGTERM, and SIGKILL ten seconds later."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + grace
    sig = None
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left, running or zombie
        if pid:
            continue
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig is not None else signal.SIGTERM
            for p in _children():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10.0
        time.sleep(0.05)


def host_snapshot() -> dict:
    """Load average and the cumulative CPU steal ticks, for noise evidence."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    steal = 0
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                cols = line.split()
                steal = int(cols[8]) if len(cols) > 8 else 0
                break
    return {"loadavg": load, "steal_ticks": steal}


def host_noise(before: dict, after: dict) -> dict:
    return {
        "cpus": os.cpu_count(),
        "loadavg_before": before["loadavg"],
        "loadavg_after": after["loadavg"],
        "steal_delta_s": (after["steal_ticks"] - before["steal_ticks"]) / os.sysconf("SC_CLK_TCK"),
    }


def driver_memory_gb() -> int:
    """A quarter of physical memory, between 1 and 8 GB: the package default
    (48g) is sized for a large host and is not what a shared box can give."""
    pages = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return max(1, min(8, pages // (4 << 30)))


def configure_env(work: str) -> None:
    """Keep every scratch file of Spark and its Python workers in ``work``."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def start_session(work: str):
    """``get_spark`` on ``local[cpus]`` with a host-sized driver."""
    from mk_kafka_connect_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{os.cpu_count()}]",
        extra_conf={
            "spark.driver.memory": f"{driver_memory_gb()}g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def setup_sessions(work: str, warmup, n: int = 3):
    """Set up ``n`` times — stop the previous session, start one, run the
    warm-up op — and keep the last session. Returns (spark, set-up seconds,
    session-start seconds); the first set-up also launches the JVM."""
    spark, setups, starts = None, [], []
    for _ in range(n):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work)
        t1 = time.perf_counter()
        warmup(spark)
        setups.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
    return spark, setups, starts


def live_heap_mb(spark) -> float:
    """JVM heap in use after a forced full GC."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / (1 << 20)


# Stage figures summed per job group into the exec.* per-layer metrics.
EXEC_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


# -- statistics ---------------------------------------------------------


def tail(xs: list[float]) -> tuple[float, float]:
    """(q, value): the highest percentile q with at least ten samples above
    it. Below twenty samples no such percentile lies above the median, so
    the maximum is reported instead (q = 100)."""
    n = len(xs)
    srt = sorted(xs)
    if n < 20:
        return 100.0, srt[-1]
    q = 100.0 * (n - 10) / n
    return q, srt[n - 11]


# -- spans --------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    group: str | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory; each span tags the Spark jobs started inside it
    with a job group of its own, so jobs are attributed to the innermost
    span. Disabled, every method is a no-op apart from running the body."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.cost = 0.0  # seconds of span bookkeeping inside ops
        self.op_time = 0.0  # seconds of traced ops

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, 0.0, parent, self.op, f"pb{os.getpid()}-{sid}", attrs)
        self.spans.append(sp)
        self._stack.append(sid)
        self._set_group(sp.group)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].group if self._stack else None)
            if self.op is not None and parent is not None:
                self.cost += (sp.start - t_in) + (time.perf_counter() - sp.end)

    @contextmanager
    def op_span(self, op: int, name: str = "op"):
        self.op = op
        sp = None
        try:
            with self.span(name) as sp:
                yield sp
        finally:
            self.op = None
            if sp is not None:
                self.op_time += sp.end - sp.start

    def overhead_frac(self) -> float:
        """Share of traced op time spent on the tracer's own bookkeeping
        (span records and job-group calls) inside the ops."""
        return self.cost / self.op_time if self.op_time else 0.0

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        return [sp.end - sp.start - c for sp, c in zip(self.spans, child)]

    def check_self_sums(self) -> float:
        """Largest gap, over ops, between an op's duration and the sum of the
        self times of the spans inside it (zero up to rounding)."""
        selfs = self.self_times()
        per_op: dict[int, float] = {}
        roots: dict[int, float] = {}
        for sp, s in zip(self.spans, selfs):
            if sp.op is None:
                continue
            per_op[sp.op] = per_op.get(sp.op, 0.0) + s
            if sp.parent is None or self.spans[sp.parent].op != sp.op:
                roots[sp.op] = roots.get(sp.op, 0.0) + sp.end - sp.start
        return max((abs(per_op[o] - roots[o]) for o in roots), default=0.0)

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "self_s": self_s,
             "parent": s.parent, "op": s.op, **s.attrs}
            for s, self_s in zip(self.spans, self.self_times())
        ]


# -- Spark status -------------------------------------------------------

STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "memoryBytesSpilled", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)


class Status:
    """Jobs, stages, tasks and stage metrics of the jobs in a job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.tracker = sc._jsc.sc().statusTracker()
        self.store = sc._jsc.sc().statusStore()

    def group(self, group: str) -> dict:
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        for key, _, _ in STAGE_FIELDS:
            out[key] = 0.0
        for job in self.tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self.tracker.getJobInfo(job)
            if info.isEmpty():
                continue
            for sid in info.get().stageIds():
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001  # stage never submitted (skipped)
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                for key, attr, scale in STAGE_FIELDS:
                    out[key] += getattr(st, attr)() * scale
        return out


def phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) from ``QueryExecution.tracker()``."""
    ph = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = ph.get(name)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out
