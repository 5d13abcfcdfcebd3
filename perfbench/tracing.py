"""Spans kept in memory, and the Spark event-log parser.

A span records its name, start, end and parent. Spans nest by call
order: a span opened while another is open is its child. A span's
self time is its duration minus the part of its interval that its
children cover.

Spark jobs are attributed to the phase that launched them through a
local property (`perfbench.phase`) that the event log copies into each
job's start record.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field

PHASE_PROPERTY = "perfbench.phase"


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None, self.clock())
        self.spans.append(s)
        self._stack.append(s.span_id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self.clock()

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_time(self, span_id: int) -> float:
        return self_time(self.spans[span_id], self.children(span_id))

    def total(self, name: str, what: str = "duration") -> float:
        """Sum over every span called `name` of its duration or self time."""
        out = 0.0
        for s in self.spans:
            if s.name == name:
                out += s.duration if what == "duration" else self.self_time(s.span_id)
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.span_id, "name": s.name, "parent": s.parent,
                "start": s.start, "end": s.end,
                "self_s": self.self_time(s.span_id), "counts": s.counts,
            }
            for s in self.spans
        ]


def self_time(span: Span, children: list[Span]) -> float:
    """Duration of `span` minus the union of its children's intervals,
    clipped to the span (overlapping children are counted once)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end is not None
    ):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_PYTHON_TIME = "time to run Python workers"  # SQL timing metric, ms
_FILES_READ = "size of files read"  # scan-node SQL metric, bytes


def _metric_ids(plan: dict, name: str, out: set[int]) -> set[int]:
    for m in plan.get("metrics", []):
        if m["name"] == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _metric_ids(child, name, out)
    return out


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def phase_metrics(events: list[dict], phase: str) -> dict:
    """Spark's own metrics for the jobs launched under one phase.

    Returns jobs, tasks, shuffle_write_bytes, spill_bytes (disk),
    gc_s, python_s (the Python-worker run time SQL metric), input_rows,
    files_bytes (the scans' "size of files read"), and task_skew: max
    over median task time of the phase's longest stage.
    """
    stage_ids: set[int] = set()
    executions: set[int] = set()
    jobs = 0
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get(PHASE_PROPERTY) == phase:
                jobs += 1
                stage_ids.update(e.get("Stage IDs", []))
                if props.get("spark.sql.execution.id") is not None:
                    executions.add(int(props["spark.sql.execution.id"]))
    out = {
        "jobs": jobs, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "gc_s": 0.0, "python_s": 0.0, "input_rows": 0, "files_bytes": 0,
        "task_skew": 0.0,
    }
    files_ids: set[int] = set()
    files_read: dict[int, int] = {}
    task_times: dict[int, list[float]] = {}
    stage_wall: dict[int, float] = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerTaskEnd" and e["Stage ID"] in stage_ids:
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            out["tasks"] += 1
            out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            out["input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
            for a in info.get("Accumulables", []):
                if a.get("Name") == _PYTHON_TIME:
                    out["python_s"] += float(a.get("Update", 0)) / 1000.0
            task_times.setdefault(e["Stage ID"], []).append(
                (info["Finish Time"] - info["Launch Time"]) / 1000.0
            )
        elif e.get("executionId") in executions and "sparkPlanInfo" in e:
            _metric_ids(e["sparkPlanInfo"], _FILES_READ, files_ids)
        elif e.get("executionId") in executions and "accumUpdates" in e:
            for acc_id, value in e["accumUpdates"]:
                if acc_id in files_ids:
                    files_read[acc_id] = value
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if si["Stage ID"] in stage_ids and "Submission Time" in si:
                stage_wall[si["Stage ID"]] = (si["Completion Time"] - si["Submission Time"]) / 1000.0
    out["files_bytes"] = sum(files_read.values())
    if stage_wall:
        longest = max(stage_wall, key=lambda sid: (stage_wall[sid], sid))
        times = task_times.get(longest, [])
        if times:
            med = statistics.median(times)
            out["task_skew"] = max(times) / med if med > 0 else 1.0
    return out
