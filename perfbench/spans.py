"""Spans around the benchmark's calls into the program, and the Spark
event-log counters attributed to them.

A span is one timed call: name, start, end, parent span and the id of
the operation it belongs to.  Spans live in memory and are summarised
when the run ends.  When tracing is on, every span also sets its own
Spark job group, so each job (and every stage and task under it) in the
event log can be attributed to exactly one span.

Nothing here imports pyspark: the tracer only needs an object with
``setJobGroup``/``setLocalProperty`` (a SparkContext), and the event-log
parser reads plain JSON lines, so both are testable without a JVM.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: str
    name: str
    op: str
    parent: str | None
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``jobs`` set (a SparkContext), each span's
    Spark jobs run under a job group named after the span id."""

    def __init__(self, jobs=None):
        self.jobs = jobs
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        self._seq += 1
        s = Span(
            id=f"perfbench-{self._seq}",
            name=name,
            op=op if op is not None else (parent.op if parent else name),
            parent=parent.id if parent else None,
            start=time.time(),
        )
        self._stack.append(s)
        if self.jobs is not None:
            self.jobs.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if self.jobs is not None:
                if parent is not None:
                    self.jobs.setJobGroup(parent.id, parent.name)
                else:
                    self.jobs.setLocalProperty("spark.jobGroup.id", None)
                    self.jobs.setLocalProperty("spark.job.description", None)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered = union_length(
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.id, [])
            if min(b, s.end) > max(a, s.start)
        )
        out[s.id] = s.wall - covered
    return out


@dataclass
class Counters:
    """Spark-side work attributed to one span (times in seconds)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    stage_intervals: list = field(default_factory=list)
    sql_starts: list = field(default_factory=list)


def read_event_log(paths) -> dict[str, Counters]:
    """Parse uncompressed, non-rolling Spark event logs into
    per-job-group counters.  Jobs carry their group in the
    ``spark.jobGroup.id`` property; stages and tasks inherit the group
    of the job that submitted them, and SQL executions carry it in
    ``jobGroupId``."""
    stage_group: dict[int, str] = {}
    by_group: dict[str, Counters] = {}

    def grp(g):
        c = by_group.get(g)
        if c is None:
            c = by_group[g] = Counters()
        return c

    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    grp(g).jobs += 1
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    g = stage_group.get(info["Stage ID"])
                    # stages skipped because their shuffle output already
                    # exists are reported without a submission time
                    if g is None or info.get("Submission Time") is None:
                        continue
                    c = grp(g)
                    c.stages += 1
                    c.stage_intervals.append(
                        (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
                    )
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if g is None or m is None:
                        continue
                    c = grp(g)
                    c.tasks += 1
                    c.task_s += m["Executor Run Time"] / 1000.0
                    c.cpu_s += m["Executor CPU Time"] / 1e9
                    c.gc_s += m["JVM GC Time"] / 1000.0
                    sr = m["Shuffle Read Metrics"]
                    c.shuffle_read_mb += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / MB
                    c.shuffle_write_mb += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                    c.spill_mb += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / MB
                    c.input_mb += m["Input Metrics"]["Bytes Read"] / MB
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    g = e.get("jobGroupId")
                    if g is not None:
                        grp(g).sql_starts.append(e["time"] / 1000.0)
    return by_group


def event_log_files(directory: str) -> list[str]:
    return sorted(
        os.path.join(directory, n)
        for n in os.listdir(directory)
        if not n.startswith(".") and not n.endswith(".inprogress")
    )


def span_counters(spans: list[Span], by_group: dict[str, Counters]) -> dict[str, Counters]:
    """Counters per span, each span's own plus its descendants'."""
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    memo: dict[str, Counters] = {}

    def total(sid: str) -> Counters:
        if sid in memo:
            return memo[sid]
        own = by_group.get(sid, Counters())
        acc = Counters(
            jobs=own.jobs, stages=own.stages, tasks=own.tasks, task_s=own.task_s,
            cpu_s=own.cpu_s, gc_s=own.gc_s, shuffle_read_mb=own.shuffle_read_mb,
            shuffle_write_mb=own.shuffle_write_mb, spill_mb=own.spill_mb,
            input_mb=own.input_mb, stage_intervals=list(own.stage_intervals),
            sql_starts=list(own.sql_starts),
        )
        for k in kids.get(sid, []):
            sub = total(k)
            for f in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                      "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb"):
                setattr(acc, f, getattr(acc, f) + getattr(sub, f))
            acc.stage_intervals += sub.stage_intervals
            acc.sql_starts += sub.sql_starts
        memo[sid] = acc
        return acc

    return {s.id: total(s.id) for s in spans}


def driver_gap(span: Span, c: Counters) -> float:
    """Span wall time during which no stage of the span was running."""
    inside = [
        (max(a, span.start), min(b, span.end))
        for a, b in c.stage_intervals
        if min(b, span.end) > max(a, span.start)
    ]
    return span.wall - union_length(inside)


def plan_time(span: Span, c: Counters) -> float | None:
    """Action call to the first SQL execution start inside the span:
    analysis, optimisation and physical planning of its first query."""
    starts = [t for t in c.sql_starts if t >= span.start - 0.001]
    return (min(starts) - span.start) if starts else None
