"""Spans, Spark status-store counters and process-tree RSS for the benchmark.

Spans are recorded from the benchmark's own files around each call into a
library layer; the library itself is not instrumented. In a traced run each
span runs its Spark jobs under a job group of its own, and at span end the
group's jobs, executor CPU, shuffle write and GC time are read from the
in-process status store, which Spark keeps with the UI disabled.

``cpu_s`` is the executors' JVM CPU time. Time spent in Python workers
(pandas UDFs, ``mapInPandas``) is not in it; it shows as ``wall_s`` that
``cpu_s`` does not explain.
"""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    """One timed call. ``parent`` indexes the enclosing span in
    ``Tracer.spans``; ``counters`` holds status-store and workload counts."""

    name: str
    start: float
    parent: int | None
    group: str | None = None
    built: float | None = None
    end: float | None = None
    counters: dict = field(default_factory=dict)

    def mark_built(self) -> None:
        """The layer call returned; what follows is materialization."""
        self.built = time.perf_counter()

    def count(self, key: str, value: float) -> None:
        self.counters[key] = value


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class StatusReader:
    """Job-group counters from the driver's status store (UI off is fine)."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()

    def set_group(self, group: str | None, name: str = "") -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, name)

    def counters(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        # stage metrics arrive through the listener bus; drain it first
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stages: set = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        cpu_ns = shuffle = gc_ms = 0
        for s in stages:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:  # evicted past spark.ui.retainedStages
                continue
            cpu_ns += sd.executorCpuTime()
            shuffle += sd.shuffleWriteBytes()
            gc_ms += sd.jvmGcTime()
        return {
            "jobs": len(jobs),
            "cpu_s": cpu_ns / 1e9,
            "shuffle_write_mb": shuffle / 1e6,
            "gc_s": gc_ms / 1e3,
        }


class Tracer:
    """Records nested spans in memory. With a ``reader`` it also scopes
    each span's jobs to a job group and reads its counters at span end;
    without one it only times (the untraced mode)."""

    def __init__(self, reader: StatusReader | None = None):
        self.reader = reader
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @property
    def enabled(self) -> bool:
        return self.reader is not None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent)
        if self.reader is not None:
            sp.group = f"perfbench-{next(self._ids)}"
            self.reader.set_group(sp.group, name)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if sp.built is None:
                sp.built = sp.end
            self._stack.pop()
            if self.reader is not None:
                up = self.spans[parent] if parent is not None else None
                self.reader.set_group(up.group if up else None, up.name if up else "")
                sp.counters.update(self.reader.counters(sp.group))

    def stats(self, index: int) -> dict:
        """Every stat of one span, ``self_s`` net of its direct children."""
        sp = self.spans[index]
        kids = [(c.start, c.end) for c in self.spans if c.parent == index]
        wall = sp.end - sp.start
        out = {
            "wall_s": wall,
            "self_s": wall - covered(kids, sp.start, sp.end),
            "build_s": sp.built - sp.start,
        }
        out.update(sp.counters)
        return out

    def walls(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name and s.end is not None]

    def medians(self) -> dict:
        """name -> stat -> median over every finished span of that name."""
        by_name: dict = {}
        for i, sp in enumerate(self.spans):
            if sp.end is not None:
                by_name.setdefault(sp.name, []).append(self.stats(i))
        return {
            name: {k: statistics.median(r[k] for r in rows) for k in rows[0]}
            for name, rows in by_name.items()
        }

    def records(self) -> list[dict]:
        """One JSON-ready record per finished span, in start order."""
        return [
            {"name": sp.name,
             "parent": self.spans[sp.parent].name if sp.parent is not None else None,
             "traced": self.enabled, "start": sp.start, **self.stats(i)}
            for i, sp in enumerate(self.spans) if sp.end is not None
        ]


# -- memory --------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.1


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and all its descendants."""
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
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(kids.get(pid, ()))
    return total


class PeakRss:
    """Samples the process tree's RSS on a background thread."""

    def __init__(self):
        self.peak = 0  # bytes
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
