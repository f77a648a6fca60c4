"""Benchmark of the flink_kmeans_spark engine, measured from outside.

    python3 perfbench/run.py --workload lloyd --seed 1 --seconds 1 --trace 0

Run from the repository root. One client thread calls the public
functions of each layer on ``local[min(4, cpus)]`` in a closed loop:

1. set-up: start the session, generate the inputs from ``--seed``
   (``datagen.py``) and run the workload's untimed warm-up passes;
2. the reference outputs (DuckDB oracles, NumPy Lloyd's), untimed;
3. the workload's timed passes over its ops, each pass in an order the
   seed shuffles, and more whole passes while less than ``--seconds`` of
   op time has been measured. Every op's output is checked after its
   timer stops. Every timed op is a sample: none is dropped, retried or
   filtered, and the load average and host steal time are recorded next
   to the samples only.

Each run starts from the same state: the index directories the engine
keeps under ``.index/`` for this run's input directory are removed
before and after the run, and what the run adds to ``.scratch/`` is
removed after it. Inputs, event logs and Spark's and Python's
temporary files live under ``.perfbench/<workload>-<seed>/``, which is
removed after the run. The benchmark waits for every process it starts
to end before it exits: the JVM, the Python workers and launcher shell
it leaves behind, and the fresh processes of ``--trace 1``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
workload twice in fresh processes, without and then with Spark's event
log (enabled by launch configuration), and prints the per-layer metrics
of the traced process, each averaged per timed op unless noted:

- ``session.start_s``: session start (once per run);
- ``sources.load_s``/``sources.load_calls``: ``load_table`` calls;
- ``plans.build_s``/``plans.build_jobs``: the registry callable, and
  the Spark jobs it starts before the sink;
- ``operators.kmeans.init_s`` per fit, ``.iter_s`` per Lloyd's
  iteration, ``.assign_s`` per ``assign_arrow`` op;
- ``streaming.scaffold_s``/``streaming.drain_s``: ``PHASE_WALLS``;
- ``index.files``: parquet files under this run's ``.index/`` dirs;
- ``spark.*``: jobs, stages and task metrics from the event log, each
  job attributed to the op running when it was submitted;
  ``spark.in_job_s`` is the union of the op's job intervals and
  ``spark.outside_job_s`` the rest of the op's wall;
- ``trace.overhead_ratio``: traced over untraced ``pass_s``;
- ``fit_s``, ``assign_rows_per_s``, ``fixture_fit_s`` (``lloyd``) and
  ``read_p50_s``, ``write_p50_s`` (``llm_ingest``); 0 elsewhere.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the detail of every sample
goes to ``.perfbench/<workload>-<seed>-trace<n>.json``.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"
YOUNG_GEN = "512m"


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _index_dirs(tag: str) -> list[str]:
    base = os.path.join(ROOT, ".index")
    if not os.path.isdir(base):
        return []
    return [os.path.join(base, n) for n in os.listdir(base) if tag in n]


def _index_files(tag: str) -> int:
    return sum(
        f.endswith(".parquet")
        for d in _index_dirs(tag)
        for _, _, files in os.walk(d)
        for f in files
    )


def _reset_state(work: str, tag: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    for d in _index_dirs(tag):
        shutil.rmtree(d, ignore_errors=True)


def _start_spark(work: str, log_dir: str | None):
    """Start the engine's session with the benchmark's launch settings;
    Spark's and Python's temporary files go under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # A fixed heap and young generation: the JVM's peak RSS then follows
    # what the engine keeps live, not where G1's adaptive sizing landed
    # (1.3-2.0 GB over seeds of llm_ingest without them).
    jvm_opts = f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}"
    confs = [f"spark.driver.extraJavaOptions={jvm_opts}"]
    if log_dir is not None:
        os.makedirs(log_dir, exist_ok=True)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(c)}" for c in confs] + ["pyspark-shell"]
    )
    from flink_kmeans_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _install_layer_spans(tracer) -> None:
    """Time ``load_table`` and the K-Means steps from outside the package
    by rebinding the module attributes its callers look up."""
    import flink_kmeans_spark.operators.kmeans as km
    import flink_kmeans_spark.sources.tables as tables

    def spanned(name, fn):
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    load = tables.load_table
    wrapped_load = spanned("sources.load", load)
    for name, mod in list(sys.modules.items()):
        if name.startswith("flink_kmeans_spark") and getattr(mod, "load_table", None) is load:
            mod.load_table = wrapped_load
    km.fit = spanned("operators.kmeans.fit", km.fit)
    km.init_centroids = spanned("operators.kmeans.init", km.init_centroids)
    partial_sums = km._partial_sums_df

    def iteration(*args, **kwargs):
        tracer.mark("operators.kmeans.iter")
        return partial_sums(*args, **kwargs)

    km._partial_sums_df = iteration


def _run_op(runner, tracer, op, pass_no: int) -> dict:
    from flink_kmeans_spark.session import PHASE_WALLS

    PHASE_WALLS.clear()
    out, error = None, None
    with tracer.span("op", key=op.name, pass_no=pass_no):
        t0 = time.perf_counter()
        try:
            out = runner.run(op)
        except Exception as e:  # a failed op is a sample, not a crash
            error = f"{type(e).__name__}: {str(e)[:300]}"
        wall = time.perf_counter() - t0
    rec = {"key": op.name, "kind": op.kind, "pass": pass_no, "wall_s": wall,
           "load_1m": os.getloadavg()[0], "error": error}
    rec["phase"] = {k: dict(v) for k, v in PHASE_WALLS.items()}
    if pass_no >= 0:
        problems = [error] if error else runner.check(op, out)
        rec["problems"] = problems
    return rec


def _importable() -> None:
    """Put the benchmark's modules and the engine on the import path."""
    for path in (ROOT, HERE):
        if path not in sys.path:
            sys.path.insert(0, path)


def measure(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    """One run of ``workload`` in this process; returns its samples,
    metrics and checks."""
    _importable()
    import datagen
    import pyarrow as pa
    import pyarrow.parquet as pq
    from spans import Tracer
    from workloads import BLOBS_DIM, BLOBS_K, BLOBS_N, WORKLOADS, Runner

    wl = WORKLOADS[workload]
    ops = wl.ops
    work = os.path.join(WORK, f"{workload}-{seed}")
    sf_dir = os.path.join(work, "data")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    scratch = os.path.join(ROOT, ".scratch")
    scratch_before = set(os.listdir(scratch)) if os.path.isdir(scratch) else set()
    _reset_state(work, tag)
    log_dir = os.path.join(work, "eventlog") if traced else None
    rng = random.Random(seed)
    tracer = Tracer()
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = _start_spark(work, log_dir)
        session_start_s = time.perf_counter() - t_setup
        datagen.write_tables(seed, sf_dir)
        blobs, centers = datagen.blobs(seed, BLOBS_N, BLOBS_K, BLOBS_DIM)
        blobs_path = os.path.join(work, "blobs.parquet")
        pq.write_table(
            pa.table({"vec_id": pa.array(range(BLOBS_N), pa.int64()),
                      "embedding": list(blobs)}),
            blobs_path,
        )
        runner = Runner(spark, ROOT, sf_dir, blobs_path, blobs, centers, tracer)
        if traced:
            _install_layer_spans(tracer)
        warmup = [
            _run_op(runner, tracer, op, -1)
            for _ in range(wl.warmup_passes)
            for op in rng.sample(ops, len(ops))
        ]
        setup_s = time.perf_counter() - t_setup

        runner.prepare_expected(ops)
        steal0 = _host_steal_s()
        records, measured = [], 0.0
        while len(records) < wl.timed_passes * len(ops) or measured < seconds:
            pass_no = len(records) // len(ops)
            for op in rng.sample(ops, len(ops)):
                rec = _run_op(runner, tracer, op, pass_no)
                rec["index_files"] = _index_files(tag)
                records.append(rec)
                measured += rec["wall_s"]
        steal_s = _host_steal_s() - steal0
        from pyspark import SparkContext

        rss_parts = {"python_kb": _vm_hwm_kb(os.getpid()),
                     "jvm_kb": _vm_hwm_kb(SparkContext._gateway.proc.pid)}
        rss_kb = sum(rss_parts.values())
    finally:
        if spark is not None:
            _stop_spark(spark)
    result = _summarize(records, setup_s, session_start_s, rss_kb)
    result["warmup"] = warmup
    result["peak_rss"] = rss_parts
    result["host_steal_s"] = steal_s  # recorded next to the samples, never used to filter
    if traced:
        from layers import per_layer, self_seconds

        result["per_layer"] = per_layer(tracer, log_dir, records, session_start_s)
        result["self_s"] = self_seconds(tracer.spans)
    _reset_state(work, tag)
    if os.path.isdir(scratch):
        for name in set(os.listdir(scratch)) - scratch_before:
            shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)
    return result


def _summarize(records, setup_s, session_start_s, rss_kb) -> dict:
    from spans import percentiles

    walls = [r["wall_s"] for r in records]
    passes: dict[int, float] = {}
    for r in records:
        passes[r["pass"]] = passes.get(r["pass"], 0.0) + r["wall_s"]

    def walls_of(pred):
        return [r["wall_s"] for r in records if pred(r)]

    from workloads import BLOBS_N

    assign = _median(walls_of(lambda r: r["key"] == "blobs_assign"))
    failed = sum(bool(r["problems"]) for r in records)
    return {
        "attempted": len(records),
        "failed": failed,
        "records": records,
        "op_latency": percentiles(walls),
        "end_to_end": {
            "setup_s": _metric(setup_s, "s"),
            "pass_s": _metric(_median(list(passes.values())), "s"),
            "op_p50_s": _metric(_median(walls), "s"),
            "ops_per_s": _metric(len(walls) / sum(walls), "1/s"),
            "peak_rss_mb": _metric(rss_kb / 1024.0, "MB"),
        },
        "workload": {
            "fit_s": _metric(_median(walls_of(lambda r: r["kind"] == "fit")), "s"),
            "assign_rows_per_s": _metric(BLOBS_N / assign if assign else 0.0, "rows/s"),
            "fixture_fit_s": _metric(
                _median(walls_of(lambda r: r["kind"] == "fixture_fit")), "s"
            ),
            "read_p50_s": _metric(_median(walls_of(lambda r: r["kind"] == "read")), "s"),
            "write_p50_s": _metric(_median(walls_of(lambda r: r["kind"] == "write")), "s"),
        },
        "session_start_s": session_start_s,
    }


def _in_fresh_process(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    """``measure`` in a child interpreter; its output goes to stderr."""
    os.makedirs(WORK, exist_ok=True)
    out = os.path.join(WORK, f"{workload}-{seed}-measure{int(traced)}.json")
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--measure-into", out]
    if traced:
        cmd.append("--traced")
    subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=sys.stderr, check=True)
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    return res


def _become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (the JVM
    leaves its launcher's exited subshell and Python workers behind), so
    ``_reap_descendants`` can wait for each of them."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            kids.append(int(d))
    return kids


def _reap_descendants(grace_s: float = 20.0) -> None:
    """Wait for every child and orphaned descendant to end; after
    ``grace_s`` terminate, then kill, the ones still running."""
    deadline, sig = time.monotonic() + grace_s, signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.monotonic() + 5.0, signal.SIGKILL
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Internal: one ``measure`` in this process, its result written to a file.
    ap.add_argument("--measure-into", help=argparse.SUPPRESS)
    ap.add_argument("--traced", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    _become_subreaper()
    try:
        return _main(args)
    finally:
        _reap_descendants()


def _main(args) -> int:
    _importable()
    try:
        import flink_kmeans_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    if args.measure_into:
        res = measure(args.workload, args.seed, args.seconds, args.traced)
        with open(args.measure_into, "w") as f:
            json.dump(res, f)
        return 0
    if args.trace:
        base = _in_fresh_process(args.workload, args.seed, args.seconds, False)
        res = _in_fresh_process(args.workload, args.seed, args.seconds, True)
        metrics = {**res["per_layer"], **res["workload"]}
        overhead = res["end_to_end"]["pass_s"]["value"] / base["end_to_end"]["pass_s"]["value"]
        metrics["trace.overhead_ratio"] = _metric(overhead, "ratio")
        runs = [base, res]
    else:
        res = measure(args.workload, args.seed, args.seconds, False)
        metrics = res["end_to_end"]
        runs = [res]

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    os.makedirs(WORK, exist_ok=True)
    detail = os.path.join(WORK, f"{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(detail, "w") as f:
        json.dump({"args": vars(args), "runs": runs, "metrics": metrics}, f, indent=1)
    for r in runs:
        for rec in r["warmup"]:
            if rec["error"]:
                print(f"perfbench: warm-up {rec['key']}: {rec['error']}", file=sys.stderr)
        for rec in r["records"]:
            if rec["problems"]:
                print(f"perfbench: {rec['key']} pass {rec['pass']}: {rec['problems']}",
                      file=sys.stderr)
        summary = {**r["end_to_end"], **r["workload"]}
        print("perfbench: " + ", ".join(
            f"{k}={v['value']:.4g} {v['unit']}" for k, v in summary.items()
        ) + f"; failed {r['failed']}/{r['attempted']}; op latency {r['op_latency']}",
            file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
