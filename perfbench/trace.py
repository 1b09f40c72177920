"""Spans, Spark counters and summary statistics for the benchmark.

A :class:`Tracer` keeps spans (name, start, end, parent, op id) in memory
and, when enabled, reads Spark's own counters at the end of each span from
the JVM status store, which answers with ``spark.ui.enabled=false``. Jobs
are attributed to a span by their submission time, not by job group: jobs
submitted from the thread pool of ``pipeline._parallel_writes`` do not
inherit the caller's group. Counters are read after every span because
Spark keeps only the newest 1,000 jobs.

A disabled tracer records nothing and calls into no Spark API, so the
untraced run measures the program alone.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# ------------------------------------------------------------------ stats

def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(
                (max(s.start, spans[s.parent].start),
                 min(s.end, spans[s.parent].end)))
    return [s.end - s.start - union_length(kids.get(i, []))
            for i, s in enumerate(spans)]


def tree_bytes(root: str, since: float | None = None) -> int:
    """Bytes of the files under ``root`` (only those modified at or after
    ``since``, when given)."""
    total = 0
    for dp, _, fs in os.walk(root):
        for f in fs:
            try:
                st = os.stat(os.path.join(dp, f))
            except FileNotFoundError:
                continue
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory (VmHWM) of this process plus the JVM."""
    total_kb = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return total_kb / 1024.0


# ----------------------------------------------------------------- tracing

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    counters: dict = field(default_factory=dict)


@dataclass
class JobStat:
    submit: float
    complete: float
    cpu_s: float
    shuffle_bytes: int
    failed_tasks: int


class SparkCounters:
    """Completed Spark jobs read from the JVM status store, cached by id."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self.jobs: dict[int, JobStat] = {}
        self._seen = -1

    def refresh(self) -> None:
        """Read the jobs submitted since the last call (newest first)."""
        listing = self._store.jobsList(None)
        pending = []
        for i in range(listing.size()):
            j = listing.apply(i)
            jid = j.jobId()
            if jid <= self._seen:
                break
            done = j.completionTime()
            if done.isEmpty():
                pending.append(jid)
                continue
            cpu_ns = shuffle = 0
            stages = j.stageIds()
            for k in range(stages.size()):
                st = self._store.lastStageAttempt(stages.apply(k))
                cpu_ns += st.executorCpuTime()
                shuffle += st.shuffleWriteBytes()
            self.jobs[jid] = JobStat(
                j.submissionTime().get().getTime() / 1000.0,
                done.get().getTime() / 1000.0,
                cpu_ns / 1e9, shuffle, j.numFailedTasks())
        if self.jobs:
            top = max(self.jobs)
            self._seen = min(pending) - 1 if pending else top

    def persistent_rdds(self) -> int:
        return self._sc._jsc.getPersistentRDDs().size()

    def in_window(self, start: float, end: float) -> list[JobStat]:
        # job stamps have millisecond resolution
        return [j for j in self.jobs.values()
                if start - 0.001 <= j.submit <= end + 0.001]


class Tracer:
    """In-memory span recorder; a no-op unless ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0       # time spent reading counters
        self._stack: list[int] = []
        self._counters: SparkCounters | None = None
        self._pins_before: dict[int, int] = {}

    def attach(self, spark) -> None:
        if self.enabled:
            self._counters = SparkCounters(spark)
            self._counters.refresh()

    def record(self, name: str, start: float, end: float, **counters) -> None:
        """Add a finished span measured by the caller."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, start, end, parent,
                                   counters=dict(counters)))

    def begin(self, name: str, op: int | None = None) -> int:
        """Open a span; returns the nesting depth to pass to :meth:`end_to`."""
        if not self.enabled:
            return 0
        depth = len(self._stack)
        t = time.time()
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        self._stack.append(len(self.spans))
        if self._counters is not None:
            self._pins_before[len(self.spans)] = \
                self._counters.persistent_rdds()
        self.overhead_s += time.time() - t
        self.spans.append(Span(name, time.time(), parent=parent, op=op))
        return depth

    def end(self, **counters) -> Span | None:
        if not self.enabled:
            return None
        idx = self._stack.pop()
        s = self.spans[idx]
        s.end = time.time()
        s.counters.update(counters)
        if self._counters is not None:
            self._harvest(idx, s)
        self.overhead_s += time.time() - s.end
        return s

    def end_to(self, depth: int) -> None:
        """Close every open span down to ``depth`` (after an exception left
        inner spans open)."""
        while self.enabled and len(self._stack) > depth:
            self.end()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        self.begin(name, op)
        try:
            yield
        finally:
            self.end()

    def _harvest(self, idx: int, s: Span) -> None:
        c = self._counters
        c.refresh()
        jobs = c.in_window(s.start, s.end)
        busy = union_length([(max(j.submit, s.start), min(j.complete, s.end))
                             for j in jobs if j.complete > s.start])
        s.counters.update(
            jobs=len(jobs),
            driver_s=max(0.0, (s.end - s.start) - busy),
            executor_cpu_s=sum(j.cpu_s for j in jobs),
            shuffle_bytes=sum(j.shuffle_bytes for j in jobs),
            failed_tasks=sum(j.failed_tasks for j in jobs),
            leaked_pins=max(0, c.persistent_rdds()
                            - self._pins_before.pop(idx, 0)))

    def to_json(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "op": s.op,
                 "wall_s": s.end - s.start, "self_s": st, **s.counters}
                for s, st in zip(self.spans, selfs)]
