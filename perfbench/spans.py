"""In-memory spans, self time, and Spark event-log counters per span.

A span records one call the benchmark makes into a layer: name, start,
end, parent span and op id. While a span is open its Spark jobs carry
the job group ``span-<id>``, so the task-end events of the run's event
log can be summed per span after the session stops.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP_PREFIX = "span-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; ``sc`` (a SparkContext) tags jobs per span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{JOB_GROUP_PREFIX}{span.id}", span.name)

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, time.perf_counter(), None,
                 parent.id if parent else None, op, dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        return self_time(span, self.children(span))


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover."""
    return span.dur - covered([(c.start, c.end) for c in children],
                              span.start, span.end)


# -- Spark event log -----------------------------------------------------------

COUNTERS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "fetch_wait_s",
    "spill_bytes",
)


@dataclass
class GroupStats:
    """Task-end counters of one job group, plus per-stage task run times
    and the first task launch and last task finish of each stage."""

    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))
    stage_runs: dict = field(default_factory=dict)  # stage id -> [run s]
    stage_bounds: dict = field(default_factory=dict)  # stage id -> [ms, ms]

    def add(self, other: "GroupStats") -> None:
        for k in COUNTERS:
            self.counters[k] += other.counters[k]
        for st, runs in other.stage_runs.items():
            self.stage_runs.setdefault(st, []).extend(runs)
        for st, (lo, hi) in other.stage_bounds.items():
            self._bound(st, lo, hi)

    def _bound(self, stage: int, launch: float, finish: float) -> None:
        lo, hi = self.stage_bounds.get(stage, (launch, finish))
        self.stage_bounds[stage] = [min(lo, launch), max(hi, finish)]

    def first_stage_wall(self) -> float:
        """Seconds from the first task launch to the last task finish of
        the group's first stage (lowest stage id); 0 without stages."""
        if not self.stage_bounds:
            return 0.0
        lo, hi = self.stage_bounds[min(self.stage_bounds)]
        return (hi - lo) / 1e3

    def task_skew(self) -> float:
        """Sum over stages of the slowest task's run time over the sum of
        median task run times: how much stragglers stretch stages.
        Stages with fewer than two tasks are left out."""
        slow = typical = 0.0
        for runs in self.stage_runs.values():
            if len(runs) >= 2:
                slow += max(runs)
                typical += statistics.median(runs)
        return slow / typical if typical > 0 else 1.0

    def metrics(self) -> dict:
        c = self.counters
        return {
            **c,
            "task_skew": self.task_skew(),
            "cpu_busy_ratio": (c["executor_cpu_s"] / c["executor_run_s"]
                               if c["executor_run_s"] > 0 else 0.0),
        }


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Sum task-end counters per job group from Spark event-log lines.

    Tasks are attributed through their stage to the group of the first
    job that listed the stage; jobs without a group fall under ``""``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics")
            if not tm:
                continue
            sid = ev["Stage ID"]
            g = groups.setdefault(stage_group.get(sid, ""), GroupStats())
            c = g.counters
            run_s = tm.get("Executor Run Time", 0) / 1e3
            c["tasks"] += 1
            c["executor_run_s"] += run_s
            c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            c["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0))
            g.stage_runs.setdefault(sid, []).append(run_s)
            info = ev.get("Task Info") or {}
            if "Launch Time" in info and "Finish Time" in info:
                g._bound(sid, info["Launch Time"], info["Finish Time"])
    return groups


def span_stats(tracer: Tracer, groups: dict[str, GroupStats],
               span: Span) -> GroupStats:
    """Event-log counters of ``span`` and every span below it."""
    out = GroupStats()
    todo = [span]
    while todo:
        s = todo.pop()
        g = groups.get(f"{JOB_GROUP_PREFIX}{s.id}")
        if g is not None:
            out.add(g)
        todo.extend(tracer.children(s))
    return out
