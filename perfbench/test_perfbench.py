"""Tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import attribute_jobs, iteration_walls, self_seconds  # noqa: E402
from spans import (  # noqa: E402
    Job, Span, Tracer, clip, innermost_span, percentiles, read_event_log,
    self_time, union_length,
)
from workloads import numpy_lloyd  # noqa: E402


def test_union_counts_overlaps_once():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(1, 3), (0, 10), (4, 5)]) == 10.0
    assert union_length([(0, 1), (1, 2)]) == 2.0  # touching, not overlapping


def test_clip_keeps_only_the_window():
    assert clip([(0, 5), (6, 8), (9, 12)], 4, 10) == [(4, 5), (6, 8), (9, 10)]
    assert clip([(0, 1)], 2, 3) == []


def _tree():
    # op [0, 10) > build [1, 4) > load [2, 3); op > sink [5, 9)
    return [
        Span("op", 0.0, 10.0),
        Span("plans.build", 1.0, 4.0, parent=0),
        Span("sources.load", 2.0, 3.0, parent=1),
        Span("sink", 5.0, 9.0, parent=0),
        Span("op", 10.0, 12.0),
    ]


def test_self_time_subtracts_children_only():
    spans = _tree()
    assert self_time(spans, 0) == pytest.approx(10 - 3 - 4)
    assert self_time(spans, 1) == pytest.approx(3 - 1)
    assert self_time(spans, 2) == pytest.approx(1)


def test_self_seconds_sum_per_name_over_timed_ops_only():
    spans = _tree()
    spans[0].attrs["pass_no"] = 0
    spans[4].attrs["pass_no"] = -1  # a warm-up op
    assert self_seconds(spans) == pytest.approx(
        {"op": 3.0, "plans.build": 2.0, "sources.load": 1.0, "sink": 4.0}
    )


def test_innermost_span_picks_the_deepest():
    spans = _tree()
    assert innermost_span(spans, 2.5) == 2
    assert innermost_span(spans, 1.5) == 1
    assert innermost_span(spans, 4.5) == 0
    assert innermost_span(spans, 10.0) == 4  # end is exclusive
    assert innermost_span(spans, 13.0) is None


def test_jobs_go_to_the_op_and_build_span_they_start_in():
    spans = _tree()
    jobs = [Job(0, 2.5), Job(1, 3.5), Job(2, 6.0), Job(3, 11.0), Job(4, 20.0)]
    per_op, build_jobs = attribute_jobs(spans, jobs, ops={0, 4})
    assert [j.id for j in per_op[0]] == [0, 1, 2]
    assert [j.id for j in per_op[4]] == [3]
    assert build_jobs == 2
    # an op left out of the timed set (the warm-up) gets none of its jobs
    per_op, build_jobs = attribute_jobs(spans, jobs, ops={4})
    assert per_op == {4: per_op[4]} and [j.id for j in per_op[4]] == [3]
    assert build_jobs == 0


def test_iterations_run_mark_to_mark_and_the_last_to_fit_end():
    t = Tracer()
    t.spans = [Span("operators.kmeans.fit", 0.0, 10.0), Span("operators.kmeans.fit", 20.0, 23.0)]
    t.marks = [("operators.kmeans.iter", x) for x in (1.0, 4.0, 8.0, 21.0)]
    assert iteration_walls(t, [0, 1]) == [3.0, 4.0, 2.0, 2.0]


def test_p90_only_with_ten_samples_beyond_it():
    small = percentiles(range(99))
    assert small == {"n": 99, "p50": 49}
    big = percentiles(range(1, 101))
    assert big["n"] == 100 and big["p50"] == 50.5
    assert big["p90"] == pytest.approx(90.1)
    assert sum(x > big["p90"] for x in range(1, 101)) == 10


def test_event_log_sums_tasks_into_the_job_that_ran_the_stage(tmp_path):
    def rdd(scope):
        return {"Scope": json.dumps({"id": "1", "name": scope})}

    def task(stage, run_ms, launch, finish, shuffle_read=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": 2e9,
                "JVM GC Time": 100, "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                "Input Metrics": {"Bytes Read": 5}, "Output Metrics": {"Bytes Written": 0},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "RDD Info": [rdd("Exchange")]}},
        task(0, 300, 1000, 1400),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "RDD Info": [rdd("MapInPandas")]}},
        task(1, 500, 1500, 2100, shuffle_read=11),
        task(1, 500, 1500, 2000, shuffle_read=11),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
        # job 1 reuses stage 1 (skipped) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2, "RDD Info": [rdd("Scan parquet ")]}},
        task(2, 100, 3000, 3100),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3200},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = read_event_log(str(tmp_path))
    j0, j1 = jobs[0], jobs[1]
    assert (j0.submit, j0.end) == (1.0, 2.5)
    assert j0.stages == {0, 1} and j1.stages == {2}
    assert (j0.tasks, j1.tasks) == (3, 1)
    assert j0.python_tasks == 2 and j0.python_task_s == pytest.approx(1.1)
    assert j1.python_tasks == 0
    assert j0.run_s == pytest.approx(1.3) and j0.cpu_s == pytest.approx(6.0)
    assert j0.gc_s == pytest.approx(0.3)
    assert j0.shuffle_read_bytes == 22 and j0.shuffle_write_bytes == 21
    assert j1.input_bytes == 5


def test_numpy_lloyd_matches_a_plain_loop():
    rng = np.random.default_rng(0)
    pts = np.concatenate([rng.normal(c, 0.3, (40, 3)) for c in (0.0, 5.0, 10.0)])
    rng.shuffle(pts)
    cents = [list(p) for p in pts[:3]]
    for _ in range(5):
        groups = {c: [] for c in range(3)}
        for p in pts:
            d = [sum((a - b) ** 2 for a, b in zip(p, c)) for c in cents]
            groups[d.index(min(d))].append(p)
        cents = [list(np.mean(g, axis=0)) if g else cents[c] for c, g in groups.items()]
    assert np.allclose(numpy_lloyd(pts, 3, 5), np.array(cents), atol=1e-12)
