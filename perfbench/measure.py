"""Measurement helpers the workloads share: the stream-progress listener,
in-memory spans around calls into the package's public functions, Spark
status-store totals, and memory readings.

Everything here observes the package from outside.  Wrappers rebind a
module attribute for the length of a traced run and restore it after;
nothing inside the package is edited.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import statistics
import threading
import time
from datetime import datetime

from pyspark.sql.streaming.listener import StreamingQueryListener


@functools.cache
def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc (Linux)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 overall: starttime
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder.  A span carries the unit it belongs to
    (batch id or pass number), its parent span and its layer name; the
    records are only aggregated after the run ends."""

    def __init__(self) -> None:
        self.unit: int | None = None
        self.enabled = True  # wrappers record spans only while set
        self.spans: list[tuple] = []  # (id, parent, unit, name, t0, t1)
        self.counts: dict[tuple, int] = {}  # (unit, name) -> calls
        self._local = threading.local()
        self._ids = itertools.count()
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        unit = self.unit
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((sid, parent, unit, name, t0, t1))
            key = (unit, name)
            self.counts[key] = self.counts.get(key, 0) + 1

    def wrap(self, module, attr: str, name: str) -> None:
        """Rebind ``module.attr`` with a spanning wrapper until
        :meth:`unwrap`.  Callers that look the name up on the module at
        call time (function-body imports, module-global calls) see it."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def unwrap(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    def self_ms_by_unit(self) -> dict[tuple, float]:
        """(unit, name) -> summed self time in ms: each span's duration
        minus the part covered by its direct children."""
        child_ms: dict = {}
        for _sid, parent, _u, _n, t0, t1 in self.spans:
            if parent is not None:
                child_ms[parent] = child_ms.get(parent, 0.0) + (t1 - t0) * 1e3
        out: dict[tuple, float] = {}
        for sid, _p, unit, name, t0, t1 in self.spans:
            key = (unit, name)
            out[key] = out.get(key, 0.0) + (t1 - t0) * 1e3 - child_ms.get(sid, 0.0)
        return out

    def per_unit(self, name: str, units) -> list[float]:
        """Summed self ms of one span name in each of ``units`` (0 when
        the unit made no such call)."""
        selfs = self.self_ms_by_unit()
        return [selfs.get((u, name), 0.0) for u in units]

    def calls(self, name: str, units) -> list[float]:
        """Number of ``name`` spans in each of ``units``."""
        return [float(self.counts.get((u, name), 0)) for u in units]


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

def _opt(o):
    return o.get() if o.isDefined() else None


def _stage_totals(spark, store, stage_ids) -> dict[str, float]:
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    no_status = jvm.java.util.ArrayList()
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    out = dict.fromkeys(("stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                         "spill_bytes", "executor_cpu_ms", "executor_run_ms"), 0.0)
    for sid in stage_ids:
        try:
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        except Py4JJavaError:  # stage no longer retained
            continue
        for i in range(attempts.size()):
            s = attempts.apply(i)
            if s.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_read_bytes"] += s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["executor_cpu_ms"] += s.executorCpuTime() / 1e6
            out["executor_run_ms"] += s.executorRunTime()
    return out


def spark_totals(spark, t0: float, t1: float) -> dict[str, float]:
    """Totals over the jobs submitted in ``[t0, t1]`` (epoch seconds),
    read from the status store (present with the UI off)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    n_jobs = 0
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub = _opt(j.submissionTime())
        if sub is not None and t0 <= sub.getTime() / 1e3 <= t1:
            n_jobs += 1
            stage_ids.update(int(x) for x in _scala_seq(j.stageIds()))
    out = _stage_totals(spark, store, sorted(stage_ids))
    out["jobs"] = float(n_jobs)
    return out


def _scala_seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag the Spark jobs this thread starts inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------


def heap_live_mb(spark, rounds: int = 3) -> float:
    """Driver JVM heap in use after a forced full GC, the smallest of
    ``rounds`` readings so an object still in flight at one GC does not
    count as live (local mode: the driver JVM is also the executor)."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(rounds):
        jvm.java.lang.System.gc()
        used.append(bean.getHeapMemoryUsage().getUsed())
        time.sleep(0.1)
    return min(used) / 2**20


def py_rss_mb() -> float:
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def _tree_rss_kb(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid, ppid = int(d), int(rest[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = int(rest[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled every ``period`` s."""

    def __init__(self, period: float = 0.25) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._period = period
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------

PHASES = ("addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit",
          "commitOffsets")


def parse_ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Records each non-empty micro-batch's progress and hands it to
    ``on_batch`` (on Spark's listener thread)."""

    def __init__(self, on_batch) -> None:
        self.on_batch = on_batch

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows > 0:
            self.on_batch(
                {
                    "batch": p.batchId,
                    "start": parse_ts(p.timestamp),
                    "ms": float(p.durationMs.get("triggerExecution", 0)),
                    "phases": {k: float(p.durationMs.get(k, 0)) for k in PHASES},
                    "rows": int(p.numInputRows),
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
