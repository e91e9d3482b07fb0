"""Tracing for the benchmark's traced run.

Spans come from wrappers the benchmark installs around public functions of
``cdc_core_spark`` (nothing inside the package is edited); Spark jobs, stages
and tasks come from the uncompressed event log of the benchmark's own
SparkContext. A call's driver-only time is its wall minus the union of the
job intervals inside it.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from dataclasses import dataclass, field


# --------------------------------------------------------------- statistics

def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------ interval math

def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Length covered by the union of ``(start, end)`` intervals, each
    clipped to ``[lo, hi]`` when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_only(start: float, end: float, job_intervals) -> float:
    """Wall of ``[start, end]`` during which no Spark job was running."""
    return (end - start) - union_length(job_intervals, start, end)


# ------------------------------------------------------------------- spans

@dataclass
class Span:
    name: str
    start: float   # epoch seconds, the clock Spark's event log uses
    end: float


class Tracer:
    """Installs timing wrappers on functions and records one ``Span`` per
    call while ``enabled``; ``uninstall`` restores the originals."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._installed: list[tuple[object, str, object]] = []

    def install(self, targets) -> None:
        """``targets``: ``(owner, attribute, span_name)`` triples, where the
        owner is a class or a module."""
        for owner, attr, name in targets:
            orig = vars(owner)[attr]
            setattr(owner, attr, self._wrap(orig, name))
            self._installed.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._installed):
            setattr(owner, attr, orig)
        self._installed.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append(Span(name, t0, time.time()))
        return traced

    def record(self, name: str, start: float, end: float) -> None:
        if self.enabled:
            self.spans.append(Span(name, start, end))

    def within(self, start: float, end: float) -> list[Span]:
        return [s for s in self.spans if s.start >= start and s.end <= end]


# --------------------------------------------------------------- event log

@dataclass
class Job:
    start: float
    end: float | None
    stages: list[int]


@dataclass
class Stage:
    tasks: int = 0
    failed: int = 0
    durations: list[float] = field(default_factory=list)
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    shuffle_read_records: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    def jobs_in(self, start: float, end: float) -> list[Job]:
        """Finished jobs submitted inside ``[start, end]``. Event-log times
        are whole milliseconds, so the window is widened by one."""
        return [j for j in self.jobs.values()
                if j.end is not None
                and start - 0.001 <= j.start <= end + 0.001]

    def failed_tasks(self) -> int:
        return sum(s.failed for s in self.stages.values())


def parse_event_log(lines) -> EventLog:
    """Parse the JSON lines of an uncompressed Spark event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(ev["Submission Time"] / 1000, None,
                                     list(ev.get("Stage IDs") or []))
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], Stage())
            info = ev.get("Task Info") or {}
            st.tasks += 1
            if info.get("Failed"):
                st.failed += 1
            if info.get("Finish Time") and info.get("Launch Time"):
                st.durations.append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000)
            metrics = ev.get("Task Metrics") or {}
            write = metrics.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += write.get("Shuffle Bytes Written", 0)
            st.shuffle_write_records += write.get("Shuffle Records Written", 0)
            read = metrics.get("Shuffle Read Metrics") or {}
            st.shuffle_read_records += read.get("Total Records Read", 0)
    return EventLog(jobs, stages)


def call_stats(log: EventLog, span: Span) -> dict:
    """Wall, job count, task count and driver-only seconds of one call."""
    jobs = log.jobs_in(span.start, span.end)
    tasks = sum(log.stages[s].tasks for j in jobs for s in j.stages
                if s in log.stages)
    return {"wall_s": span.end - span.start, "jobs": len(jobs),
            "tasks": tasks,
            "driver_only_s": driver_only(span.start, span.end,
                                         [(j.start, j.end) for j in jobs])}


def shuffle_stats(log: EventLog, spans: list[Span]) -> dict:
    """Shuffle volume of every stage run by jobs inside ``spans``, and the
    task skew (slowest / median task) of the stages that read a shuffle."""
    seen: set[int] = set()
    for sp in spans:
        for j in log.jobs_in(sp.start, sp.end):
            seen.update(s for s in j.stages if s in log.stages)
    stages = [log.stages[s] for s in sorted(seen)]
    skews = [max(st.durations) / statistics.median(st.durations)
             for st in stages
             if st.shuffle_read_records and len(st.durations) >= 2
             and statistics.median(st.durations) > 0]
    return {"write_bytes": sum(st.shuffle_write_bytes for st in stages),
            "write_records": sum(st.shuffle_write_records for st in stages),
            "skew": median_or_zero(skews)}
