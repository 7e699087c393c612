"""Tracing for the traced run: spans kept in memory, Spark work read back
from the event log after the session stops.

A span is (id, name, kind, parent, start, end) in wall-clock seconds. The
benchmark opens one span per refresh or pass, one per pipeline node and
one per query call. Spark jobs and stages come from the event log (it
works with the Spark UI off); each one is attributed to the innermost
span that contains its submission time. This is exact for the pipeline
because its runner executes nodes one after another.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 2**20


@dataclass
class Span:
    id: int
    name: str
    kind: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans of one run, in memory until the run writes them out."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str, kind: str, **attrs) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, kind, parent, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        self._stack.remove(s.id)

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        s = self.open(name, kind, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def as_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` ((start, end) pairs) inside [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, child_intervals) -> float:
    """A span's duration minus the part of it that its children cover."""
    return (end - start) - covered(child_intervals, start, end)


# --- event log ---------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def _json_scan_accums(plan: dict, out: set[int]) -> None:
    """Accumulator ids of 'size of files read' under JSON scan nodes."""
    if "json" in plan.get("nodeName", "").lower():
        for m in plan.get("metrics", []):
            if m["name"] == "size of files read":
                out.add(m["accumulatorId"])
    for ch in plan.get("children", []):
        _json_scan_accums(ch, out)


@dataclass
class EventLog:
    """What the traced run needs from one application's event log."""

    jobs: list[dict] = field(default_factory=list)  # id, start, end
    stages: dict[int, dict] = field(default_factory=dict)  # id -> submit + task sums
    json_reads: list[tuple[float, int]] = field(default_factory=list)  # (time, bytes)

    @classmethod
    def read(cls, log_dir: str) -> EventLog:
        files = [os.path.join(log_dir, f) for f in sorted(os.listdir(log_dir))]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        log = cls()
        jobs: dict[int, dict] = {}
        exec_time: dict[int, float] = {}
        json_accums: dict[int, set[int]] = {}
        with open(files[0]) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {"id": e["Job ID"], "start": e["Submission Time"] / 1e3}
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    log.stages.setdefault(
                        info["Stage ID"],
                        {"submit": info["Submission Time"] / 1e3, "task_s": 0.0,
                         "shuffle_b": 0, "input_b": 0, "output_b": 0},
                    )
                elif kind == "SparkListenerTaskEnd":
                    st = log.stages.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if st is None or not m:
                        continue
                    st["task_s"] += m["Executor Run Time"] / 1e3
                    sr = m["Shuffle Read Metrics"]
                    st["shuffle_b"] += (
                        sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                        + m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    )
                    st["input_b"] += m["Input Metrics"]["Bytes Read"]
                    st["output_b"] += m["Output Metrics"]["Bytes Written"]
                elif kind in (_SQL_START, _SQL_ADAPTIVE):
                    if kind == _SQL_START:
                        exec_time[e["executionId"]] = e["time"] / 1e3
                    _json_scan_accums(
                        e["sparkPlanInfo"], json_accums.setdefault(e["executionId"], set())
                    )
                elif kind == _DRIVER_ACCUM:
                    ids = json_accums.get(e["executionId"], ())
                    n = sum(v for k, v in e["accumUpdates"] if k in ids)
                    if n:
                        log.json_reads.append((exec_time[e["executionId"]], n))
        log.jobs = [j for j in jobs.values() if "end" in j]
        return log

    def job_intervals(self, lo: float, hi: float) -> list[tuple[float, float]]:
        return [(j["start"], j["end"]) for j in self.jobs if lo <= j["start"] < hi]

    def stage_totals(self, lo: float, hi: float) -> dict:
        """Sums over the stages submitted in [lo, hi)."""
        sts = [s for s in self.stages.values() if lo <= s["submit"] < hi]
        return {
            "stages": len(sts),
            "task_s": sum(s["task_s"] for s in sts),
            "shuffle_mb": sum(s["shuffle_b"] for s in sts) / MB,
            "input_mb": sum(s["input_b"] for s in sts) / MB,
            "output_mb": sum(s["output_b"] for s in sts) / MB,
        }
