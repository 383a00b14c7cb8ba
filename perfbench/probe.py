"""Measurement from outside the engine: spans with Spark counters, a
/proc RSS sampler and the host's parallel ceiling.

Spans wrap calls into the engine's public functions.  Each span runs
under its own Spark job group, so after it ends the jobs it launched
are read back from ``statusTracker()``, their stages from the JVM
status store (tasks, shuffle bytes, task times) and their SQL
executions from the SQL status store (time spent in Python workers).
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
RSS_PERIOD_S = 0.1      # RSS sampling period
RSS_RESCAN_S = 1.0      # process-tree re-walk period
BURN_ROUNDS = 120       # numpy passes per thread in host_ceiling


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM and its Python
    workers, for the benchmark's own pid)."""
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * PAGE_MB


class RssSampler:
    """Samples the summed RSS of this process's descendants every
    ``RSS_PERIOD_S`` on a daemon thread.  ``peak`` is the run's
    maximum; ``window()`` returns and restarts a per-span maximum.
    The process tree is re-walked only every ``RSS_RESCAN_S``, so the
    sampler costs the measured Spark driver little interpreter time."""

    def __init__(self):
        self.peak = 0.0
        self._win = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        pids, scanned = [], float("-inf")
        while not self._stop.wait(RSS_PERIOD_S):
            if time.monotonic() - scanned >= RSS_RESCAN_S:
                pids, scanned = descendants(me), time.monotonic()
            mb = _rss_mb(pids)
            with self._lock:
                self.peak = max(self.peak, mb)
                self._win = max(self._win, mb)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def window(self) -> float:
        with self._lock:
            w, self._win = self._win, 0.0
        return w


def _sql_seconds(text: str) -> float:
    """Parse a formatted Spark timing metric ('2.4 s', '150 ms', or the
    'total (min, med, max ...)' form whose second line leads with the
    total) into seconds."""
    num, unit = text.strip().split("\n")[-1].split()[:2]
    scale = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}[unit]
    return float(num.replace(",", "")) * scale


class SparkCounters:
    """Reads job/stage/task/shuffle/Python counters for a job group."""

    PYTHON_METRIC = "time to run Python workers"

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def for_group(self, group: str) -> dict:
        jobs = sorted(self.tracker.getJobIdsForGroup(group))
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "failed_tasks": 0, "shuffle_write_bytes": 0,
               "shuffle_read_bytes": 0, "task_skew": 0.0,
               "python_s": self._python_s(set(jobs))}
        busiest = (-1, None, None)
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in (info.stageIds if info else []):
                sd = self.store.lastStageAttempt(s)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                if sd.executorRunTime() > busiest[0]:
                    busiest = (sd.executorRunTime(), s, sd.attemptId())
        if busiest[1] is not None:
            out["task_skew"] = self._skew(busiest[1], busiest[2])
        return out

    def _skew(self, stage: int, attempt: int) -> float:
        """max / median task time of one stage (0 below two tasks)."""
        tl = self.store.taskList(stage, attempt, 1 << 30)
        d = []
        for i in range(tl.size()):
            dur = tl.apply(i).duration()
            if dur.isDefined():
                d.append(float(dur.get()))
        med = statistics.median(d) if len(d) >= 2 else 0.0
        return max(d) / med if med > 0 else 0.0

    def _python_s(self, jobs: set) -> float:
        if not jobs:
            return 0.0
        total = 0.0
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            ks = e.jobs().keySet().toSeq()
            if not any(ks.apply(k) in jobs for k in range(ks.size())):
                continue
            values = self.sql.executionMetrics(e.executionId())
            ms = e.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                if m.name() != self.PYTHON_METRIC:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    total += _sql_seconds(v.get())
        return total


class Tracer:
    """Spans around calls into the engine.  Disabled, ``span`` only
    yields a dict (no job group, no counters).  Enabled, each span gets
    its own job group, its counters and the peak RSS seen while it ran;
    spans of one run share ``run_id`` and are kept in memory."""

    def __init__(self, spark, run_id: str, sampler: RssSampler,
                 enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.sampler = sampler
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0
        self.counters = SparkCounters(spark) if enabled else None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "run": self.run_id, **attrs}
        if not self.enabled:
            yield rec
            return
        sc = self.spark.sparkContext
        self._n += 1
        rec["id"] = f"{self.run_id}/{self._n}"
        rec["parent"] = self._stack[-1]["id"] if self._stack else None
        self._stack.append(rec)
        sc.setJobGroup(rec["id"], name)
        self.sampler.window()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["peak_rss_mb"] = self.sampler.window()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self.counters.for_group(rec["id"]))
            self.spans.append(rec)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the union of its children's
    intervals."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


def _burn(n: int) -> None:
    # element-wise ufuncs release the interpreter lock and use no BLAS
    # threads of their own, so each thread is one core's worth of work
    a = np.linspace(0.0, 1.0, 1 << 18)
    for _ in range(n):
        a = np.sin(a) + 0.5


def host_ceiling(threads: int) -> float:
    """How many single-thread units of numpy work the host delivers with
    ``threads`` threads busy at once (1.0 per thread is the ideal): the
    ceiling a weak-scaling efficiency should be read against."""
    t0 = time.perf_counter()
    _burn(BURN_ROUNDS)
    one = time.perf_counter() - t0
    ts = [threading.Thread(target=_burn, args=(BURN_ROUNDS,))
          for _ in range(threads)]
    t0 = time.perf_counter()
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    many = time.perf_counter() - t0
    return threads * one / many
