"""Measurement helpers: spans, self time, percentiles, host and Spark counters.

The pure helpers (``Tracer``, ``self_times``, ``percentile``,
``check_metric_name``) have no Spark dependency and are unit-tested in
``sparkbench/tests``.  The Spark counters are read from outside the
program: job ids come from the status tracker by job group, per-stage
numbers from the status store (which works with ``spark.ui.enabled=false``).
"""

from __future__ import annotations

import functools
import math
import os
import re
import threading
import time
from statistics import median

METRIC_NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def check_metric_name(name: str) -> str:
    if not METRIC_NAME_RE.fullmatch(name) or len(name) > 64:
        raise ValueError(f"bad metric name {name!r}")
    return name


def percentile(values: list[float], q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile and the sample count it rests on.
    The value is trustworthy as a tail figure only when at least ten
    samples lie beyond it, i.e. ``n * (1 - q / 100) >= 10``."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(s)))
    return s[rank - 1], len(s)


class Tracer:
    """In-memory spans ``(name, start, end, parent, run_id)``; written out
    once, by the caller, when the run ends."""

    def __init__(self, run_id: str, clock=time.perf_counter):
        self.run_id = run_id
        self.clock = clock
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, name: str, fn):
        """Pass-through wrapper recording one span per call."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        self.idx = len(t.spans)
        t.spans.append({
            "name": self.name, "start": t.clock(), "end": None,
            "parent": t._stack[-1] if t._stack else None, "run_id": t.run_id,
        })
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.idx]["end"] = t.clock()
        t._stack.pop()
        return False

    @property
    def seconds(self) -> float:
        s = self.tracer.spans[self.idx]
        return s["end"] - s["start"]


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of it its children cover.
    Children of one parent may overlap (threads); the covered part is the
    union of their intervals, clipped to the parent."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out.append((s["end"] - s["start"]) - covered)
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, st in zip(spans, self_times(spans)):
        out[s["name"]] = out.get(s["name"], 0.0) + st
    return out


# ---------------------------------------------------------------------------
# host context
# ---------------------------------------------------------------------------


def _cpu_jiffies() -> tuple[int, int, int]:
    """(steal, busy, total) jiffies from the first line of /proc/stat; busy
    is every non-idle state, steal included (guest time is already inside
    user and nice)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    vals += [0] * (8 - len(vals))
    total = sum(vals)
    return vals[7], total - vals[3] - vals[4], total


class HostMeter:
    """nproc, load average and the hypervisor's steal over a span of time.

    ``steal_pct`` is steal as a share of all CPU time.  ``steal_busy_frac``
    is steal as a share of the non-idle time: a hypervisor steals only from
    a vCPU that has work, so this is the share of its CPU time a busy
    workload lost."""

    def __enter__(self):
        self.s0, self.b0, self.t0 = _cpu_jiffies()
        return self

    def __exit__(self, *exc):
        s1, b1, t1 = _cpu_jiffies()
        steal, busy, total = s1 - self.s0, b1 - self.b0, t1 - self.t0
        self.steal_pct = 100.0 * steal / total if total > 0 else 0.0
        self.steal_busy_frac = steal / busy if busy > 0 else 0.0
        with open("/proc/loadavg") as f:
            self.loadavg = [float(x) for x in f.read().split()[:3]]
        self.nproc = os.cpu_count()
        return False

    def record(self) -> dict:
        return {"nproc": self.nproc, "loadavg": self.loadavg,
                "steal_pct": self.steal_pct, "steal_busy_frac": self.steal_busy_frac}


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak summed RSS of a process tree (the driver JVM and the Python
    workers it forks), sampled on a background thread."""

    def __init__(self, pid: int, interval: float = 0.05):
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.pid))
        return False


# ---------------------------------------------------------------------------
# Spark counters, read from the status store by job group
# ---------------------------------------------------------------------------


def stage_records(spark, group: str) -> list[dict]:
    """One dict per executed stage of every job in ``group``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = spark._jsc.sc().statusStore()  # noqa: SLF001
    to_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava  # noqa: SLF001
    out = []
    for job in sorted(tracker.getJobIdsForGroup(group)):
        info = tracker.getJobInfo(job)
        for sid in (info.stageIds if info else []):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 -- skipped or evicted stage
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            tasks = to_java(store.taskList(sid, sd.attemptId(), 1 << 30))
            durs = [t.duration().get() / 1000.0 for t in tasks
                    if t.duration().isDefined()]
            out.append({
                "stage": sid, "tasks": sd.numTasks(),
                "failed_tasks": sd.numFailedTasks(),
                "run_s": sd.executorRunTime() / 1000.0,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1000.0,
                "input_bytes": sd.inputBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "shuffle_write_records": sd.shuffleWriteRecords(),
                "task_s": durs,
            })
    return out


def summarize_stages(stages: list[dict]) -> dict:
    durs = [d for s in stages for d in s["task_s"]]
    p50 = median(durs) if durs else 0.0
    return {
        "stages": len(stages),
        "scan_stages": sum(1 for s in stages if s["input_bytes"] > 0),
        "tasks": sum(s["tasks"] for s in stages),
        "failed_tasks": sum(s["failed_tasks"] for s in stages),
        "executor_run_s": sum(s["run_s"] for s in stages),
        "cpu_s": sum(s["cpu_s"] for s in stages),
        "gc_s": sum(s["gc_s"] for s in stages),
        "input_mb": sum(s["input_bytes"] for s in stages) / 1e6,
        "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1e6,
        "task_max_over_p50": (max(durs) / p50) if p50 > 0 else 0.0,
    }


_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                 "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                 "AggregateInPandas", "WindowInPandas", "PythonMapInArrow")


def plan_counts(plan: str) -> dict:
    """File scans and Python-boundary nodes in a formatted physical plan."""
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, flags=re.MULTILINE)
    return {
        "file_scans": sum(1 for n in nodes if n == "Scan"),
        "python_nodes": sum(1 for n in nodes if n in _PYTHON_NODES),
    }
