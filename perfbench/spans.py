"""Spans, Spark event-log parsing and the arithmetic that joins them.

The benchmark records spans from its single client thread around each
call into a layer, so spans nest but never overlap. A traced run also
has Spark's event log; every Spark job goes to the innermost span whose
interval holds the job's submission time. Job groups cannot do this:
streaming micro-batch jobs run on other threads and lose the group.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Physical operators that hand rows to a Python worker.
PYTHON_SCOPE = re.compile(r"InPandas|InArrow|EvalPython")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans and point marks from one thread, in epoch seconds
    (the clock Spark's event log uses)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.marks: list[tuple[str, float]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def mark(self, name: str) -> None:
        self.marks.append((name, time.time()))


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals; overlaps count once."""
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


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that fall inside ``[lo, hi]``."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def self_time(spans: list[Span], i: int) -> float:
    """Span ``i``'s wall minus the part of it its child spans cover."""
    s = spans[i]
    kids = [(c.start, c.end) for c in spans if c.parent == i]
    return s.wall - union_length(clip(kids, s.start, s.end))


def innermost_span(spans: list[Span], t: float) -> int | None:
    """Index of the deepest span whose ``[start, end)`` holds time ``t``.

    Spans come from one thread, so those that hold ``t`` form a single
    chain and the one that started last is the deepest."""
    best = None
    for i, s in enumerate(spans):
        if s.start <= t < s.end and (best is None or s.start >= spans[best].start):
            best = i
    return best


def ancestors(spans: list[Span], i: int | None):
    """``i`` and every span above it, innermost first."""
    while i is not None:
        yield i
        i = spans[i].parent


def percentiles(samples) -> dict:
    """Median of ``samples``, plus p90 only when at least ten samples lie
    beyond it (100 or more in all), with the sample count."""
    xs = sorted(samples)
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else None}
    if len(xs) >= 100:
        out["p90"] = statistics.quantiles(xs, n=10, method="inclusive")[8]
    return out


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float = 0.0
    stages: set = field(default_factory=set)
    tasks: int = 0
    python_tasks: int = 0
    python_task_s: float = 0.0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


def read_event_log(log_dir: str) -> dict[int, Job]:
    """Jobs of the one application logged under ``log_dir``, with their
    stages and summed task metrics (plain or rolling, uncompressed)."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    )
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    python_stages: set[int] = set()
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0)
                    jobs[job.id] = job
                    for sid in ev["Stage IDs"]:
                        # a stage runs in the first job that lists it;
                        # later jobs list it again as skipped
                        stage_job.setdefault(sid, job.id)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    scopes = (json.loads(r.get("Scope") or "{}") for r in info["RDD Info"])
                    if any(PYTHON_SCOPE.search(sc.get("name", "")) for sc in scopes):
                        python_stages.add(info["Stage ID"])
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    jobs[stage_job[sid]].stages.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    _add_task(jobs[stage_job[sid]], ev, sid in python_stages)
    return jobs


def _add_task(job: Job, ev: dict, python: bool) -> None:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    job.tasks += 1
    if python:
        job.python_tasks += 1
        job.python_task_s += (info["Finish Time"] - info["Launch Time"]) / 1e3
    job.run_s += m.get("Executor Run Time", 0) / 1e3
    job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    job.gc_s += m.get("JVM GC Time", 0) / 1e3
    sr = m.get("Shuffle Read Metrics", {})
    job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    job.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    job.spill_bytes += m.get("Disk Bytes Spilled", 0)
    job.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    job.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
