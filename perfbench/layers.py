"""Per-layer metrics of a traced run: the benchmark's spans joined with
the Spark jobs of the event log. Each value is per timed op unless its
name says otherwise (see ``run.py``)."""

from __future__ import annotations

from spans import (
    Tracer, ancestors, clip, innermost_span, read_event_log, self_time, union_length,
)

SPARK_SUMS = {  # metric -> (Job field, unit)
    "spark.tasks": ("tasks", "count"),
    "spark.python_tasks": ("python_tasks", "count"),
    "spark.python_task_s": ("python_task_s", "s"),
    "spark.executor_run_s": ("run_s", "s"),
    "spark.executor_cpu_s": ("cpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "spark.spill_bytes": ("spill_bytes", "bytes"),
    "spark.input_bytes": ("input_bytes", "bytes"),
    "spark.output_bytes": ("output_bytes", "bytes"),
}


def _mean(total: float, n: int) -> float:
    return total / n if n else 0.0


def iteration_walls(tracer: Tracer, fit_spans: list[int]) -> list[float]:
    """Lloyd's iterations of each fit: from one iteration mark to the
    next, the last one ending with the fit."""
    walls = []
    for i in fit_spans:
        s = tracer.spans[i]
        marks = [t for name, t in tracer.marks
                 if name == "operators.kmeans.iter" and s.start <= t < s.end]
        bounds = marks + [s.end]
        walls += [b - a for a, b in zip(bounds, bounds[1:])]
    return walls


def attribute_jobs(spans, jobs, ops: set[int]) -> tuple[dict[int, list], int]:
    """Jobs per timed op span, and how many of them started inside a
    ``plans.build`` span. Jobs outside every timed op are dropped."""
    per_op: dict[int, list] = {i: [] for i in ops}
    build_jobs = 0
    for job in jobs:
        chain = list(ancestors(spans, innermost_span(spans, job.submit)))
        op = next((i for i in chain if i in ops), None)
        if op is not None:
            per_op[op].append(job)
            build_jobs += any(spans[i].name == "plans.build" for i in chain)
    return per_op, build_jobs


def timed_ops(spans) -> tuple[set[int], dict[int, int | None]]:
    """The timed op spans, and the timed op each span belongs to."""
    ops = {i for i, s in enumerate(spans) if s.name == "op" and s.attrs["pass_no"] >= 0}
    op_of = {i: next((j for j in ancestors(spans, i) if j in ops), None) for i in range(len(spans))}
    return ops, op_of


def self_seconds(spans) -> dict[str, float]:
    """Self time per span name, summed over the timed ops."""
    _, op_of = timed_ops(spans)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if op_of[i] is not None:
            out[s.name] = out.get(s.name, 0.0) + self_time(spans, i)
    return out


def per_layer(tracer: Tracer, log_dir: str, records: list[dict], session_start_s: float) -> dict:
    spans = tracer.spans
    ops, op_of = timed_ops(spans)
    n = len(ops)

    def walls(name):
        return [s.wall for i, s in enumerate(spans) if s.name == name and op_of[i] is not None]

    jobs = list(read_event_log(log_dir).values())
    per_op, build_jobs = attribute_jobs(spans, jobs, ops)
    in_job = sum(
        union_length(clip([(j.submit, j.end or j.submit) for j in per_op[i]],
                          spans[i].start, spans[i].end))
        for i in ops
    )
    op_wall = sum(spans[i].wall for i in ops)
    mine = [j for js in per_op.values() for j in js]
    fits = [i for i, s in enumerate(spans) if s.name == "operators.kmeans.fit" and op_of[i] is not None]
    inits, iters = walls("operators.kmeans.init"), iteration_walls(tracer, fits)
    assigns = [r["wall_s"] for r in records if r["kind"] == "assign"]

    def phase(key):
        return sum(v.get(key, 0.0) for r in records for v in r["phase"].values())

    out = {
        "session.start_s": (session_start_s, "s"),
        "sources.load_s": (_mean(sum(walls("sources.load")), n), "s"),
        "sources.load_calls": (_mean(len(walls("sources.load")), n), "count"),
        "plans.build_s": (_mean(sum(walls("plans.build")), n), "s"),
        "plans.build_jobs": (_mean(build_jobs, n), "count"),
        "operators.kmeans.init_s": (_mean(sum(inits), len(inits)), "s"),
        "operators.kmeans.iter_s": (_mean(sum(iters), len(iters)), "s"),
        "operators.kmeans.assign_s": (_mean(sum(assigns), len(assigns)), "s"),
        "streaming.scaffold_s": (_mean(phase("scaffold_s"), n), "s"),
        "streaming.drain_s": (_mean(phase("drain_s"), n), "s"),
        "index.files": (_mean(sum(r["index_files"] for r in records), n), "count"),
        "spark.jobs": (_mean(len(mine), n), "count"),
        "spark.stages": (_mean(sum(len(j.stages) for j in mine), n), "count"),
        "spark.in_job_s": (_mean(in_job, n), "s"),
        "spark.outside_job_s": (_mean(op_wall - in_job, n), "s"),
    }
    for name, (attr, unit) in SPARK_SUMS.items():
        out[name] = (_mean(sum(getattr(j, attr) for j in mine), n), unit)
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
