"""In-memory spans around the benchmark's calls into the engine.

A span has a name, a start, an end and the span that caused it.  Spans
that open with ``group=True`` also set a Spark job group in the calling
thread, so every Spark job submitted inside the span can be attached to it
afterwards through ``SparkContext.statusTracker()`` and the driver's status
store (stages, tasks, task run time, records read, shuffle and spill).
Nothing here reads Spark state while the workload runs; ``attach_spark``
does it once the measured window is over.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float | None = None
    group: str | None = None
    spark: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.t1 if self.t1 is not None else self.t0) - self.t0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of [a, b) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def children(spans: list[Span]) -> dict[int, list[Span]]:
    """Parent span id -> its child spans."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval that its children
    cover (children clipped to the parent; overlapping children count
    once)."""
    kids = children(spans)
    out = {}
    for s in spans:
        covered = [
            (max(c.t0, s.t0), min(c.t1, s.t1))
            for c in kids.get(s.sid, [])
            if min(c.t1, s.t1) > max(c.t0, s.t0)
        ]
        out[s.sid] = s.dur - union_length(covered)
    return out


class Tracer:
    """Records spans; a disabled tracer yields ``None`` and costs nothing
    but the context-manager call."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # perf_counter is the span clock; Spark reports epoch milliseconds
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: Span | None = None, group: bool = True):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        if parent is None and st:
            parent = st[-1]
        with self._lock:
            s = Span(next(self._ids), name,
                     parent.sid if parent is not None else None,
                     time.perf_counter())
            self.spans.append(s)
        prev_group = getattr(self._local, "group", None)
        if group and self.sc is not None:
            s.group = f"perfbench-{s.sid}"
            self.sc.setJobGroup(s.group, name)
            self._local.group = (s.group, name)
        st.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            st.pop()
            if s.group is not None:
                if prev_group is not None:
                    self.sc.setJobGroup(*prev_group)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self._local.group = prev_group

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def attach_spark(self, task_intervals_for: tuple[str, ...] = ()) -> None:
        """Fill ``span.spark`` for every grouped span from the driver's
        status store.  Spans whose name starts with one of
        ``task_intervals_for`` also get their tasks' [launch, end) intervals
        (epoch seconds) for the scheduling-wait computation."""
        if self.sc is None:
            return
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for s in self.spans:
            if s.group is None:
                continue
            m = {"jobs": 0, "stages": 0, "tasks": 0, "task_run_ms": 0,
                 "records_read": 0, "shuffle_bytes": 0, "spill_bytes": 0}
            want_tasks = (bool(task_intervals_for)
                          and s.name.startswith(task_intervals_for))
            intervals = []
            seen = set()
            for jid in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                m["jobs"] += 1
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage never ran
                        continue
                    if sd.numCompleteTasks() == 0:
                        continue  # skipped stage (shuffle output reused)
                    m["stages"] += 1
                    m["tasks"] += sd.numCompleteTasks()
                    m["task_run_ms"] += sd.executorRunTime()
                    m["records_read"] += (sd.inputRecords()
                                          + sd.shuffleReadRecords())
                    m["shuffle_bytes"] += sd.shuffleWriteBytes()
                    m["spill_bytes"] += (sd.memoryBytesSpilled()
                                         + sd.diskBytesSpilled())
                    if want_tasks:
                        tl = store.taskList(sid, sd.attemptId(), 100000)
                        for i in range(tl.size()):
                            t = tl.apply(i)
                            if t.duration().isDefined():
                                a = t.launchTime().getTime() / 1000.0
                                intervals.append(
                                    (a, a + t.duration().get() / 1000.0))
            if want_tasks:
                m["task_intervals"] = intervals
            s.spark = m

    def sched_wait(self, s: Span) -> float:
        """Seconds of the span's wall time that no running task of its own
        jobs covers: driver planning, scheduling and result transfer on the
        blocking path."""
        a = s.t0 + self.epoch_offset
        b = s.t1 + self.epoch_offset
        clipped = [(max(x, a), min(y, b))
                   for x, y in s.spark.get("task_intervals", [])
                   if min(y, b) > max(x, a)]
        return (b - a) - union_length(clipped)
