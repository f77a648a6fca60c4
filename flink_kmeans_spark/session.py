"""SparkSession construction and required runtime configuration.

Two entry paths exist: our own tests/bench build a session via
:func:`get_spark`, while the driver passes us *its* session. Both paths
funnel through :func:`ensure_conf`, which applies the runtime-settable
confs every operator relies on:

- ``spark.sql.legacy.parquet.nanosAsLong`` — ``events.ts`` is Parquet
  TIMESTAMP(NANOS); Spark 4 hard-errors on read without this conf
  (yields int64 nanoseconds, normalized in ``sources.tables``).
- ``spark.sql.session.timeZone=UTC`` — keeps timestamp values identical
  to DuckDB's naive reading when results are compared.
- AQE on — runtime coalescing / skew-join handling; at 100 TB this is
  what turns a mis-sized shuffle into a survivable one.

Sessions built by :func:`get_spark` also run their Python workers under
``pyworker/graft_daemon.py`` (``spark.python.daemon.module``). Every
Python task (``mapInPandas``, pandas UDFs, ``applyInPandas``) starts
with pyspark calling ``importlib.invalidate_caches()``, and on CPython
3.10-3.12 that makes every cached ``zipimporter`` re-read its whole
archive: pyspark.zip once per imported sub-package, py4j and the
spark-core jar. Measured on a 4-core host, the call took 0.16-0.20 s of
each task and a trivial ``mapInPandas`` job 0.20-0.31 s; under the
daemon the call takes 0.2 ms and the job 0.13-0.22 s. The daemon drops
the importers of Spark's own archives before each task, so nothing is
re-read; CPython 3.13 re-reads lazily, and there the daemon changes
nothing. A session handed to :func:`ensure_conf` keeps the stock
daemon, because launch confs cannot be set on a running session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Only the daemon module is put on the workers' path, not the package
# root: the engine package stays unimportable there (see graft_daemon).
_PYWORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pyworker")

# Confs that are safe (and required) to set on an already-running session.
# SPARK_GRAFT_AQE=false runs the whole engine without adaptive execution —
# the gate-battery perturbation class proving every plan property the
# operators rely on (broadcasts, bucket pruning, WindowGroupLimit, DPP)
# holds without runtime re-planning.
_AQE_RAW = os.environ.get("SPARK_GRAFT_AQE", "true")
_AQE = _AQE_RAW.strip().lower()
if _AQE not in ("true", "false"):
    # fail at import with a clear message, not later inside Spark's
    # conf reader with an IllegalArgumentException far from the cause;
    # report the env var's RAW contents, not the normalized form
    raise ValueError(
        f"SPARK_GRAFT_AQE must be 'true' or 'false', got {_AQE_RAW!r}"
    )
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": _AQE,
    "spark.sql.adaptive.coalescePartitions.enabled": _AQE,
    # test-scale shuffle sizing for sessions we didn't build (the
    # driver's default 200 costs ~10× task overhead at sf≤0.1; AQE
    # coalesces results either way, and a real cluster deployment sets
    # this per data volume)
    "spark.sql.shuffle.partitions": "16",
}


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not build (driver's)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if k == "spark.sql.shuffle.partitions":
                # only rescue the untouched 200-partition default; never
                # override a deliberately-sized session (ours or theirs)
                if spark.conf.get(k, "200") != "200":
                    continue
            spark.conf.set(k, v)
        except Exception:
            # Conf not runtime-settable in this build — reads that need it
            # will surface a clear error instead.
            pass
    return spark


def get_spark(app_name: str = "flink-kmeans-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build the local session used by tests and bench.

    ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``). Shuffle
    partitions default to the core count — sized for the local bench;
    a real cluster deployment would size this to data volume
    (~128 MB-per-partition rule) and lean on AQE coalescing.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        # local-bench sizing (BASELINE.md methodology used 8): small fixed
        # count + AQE coalescing. A cluster deployment sizes this to data
        # volume (~128 MB per partition) instead.
        env = os.environ.get("SPARK_GRAFT_SHUFFLE")
        shuffle_partitions = int(env) if env else 8
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "graft_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PYWORKER_DIR)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # explicit bench sizing wins over the RUNTIME_CONFS default
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return builder.getOrCreate()


# Scratch dirs the LIVE process still holds lazy DataFrame handles over
# (e.g. run_available_now returns spark.read.parquet over a staged sink).
# prune_scratch never deletes these, however old they get — a handle
# returned early in a long session must not start failing mid-session
# because a later call GC'd its files (ADVICE r7).
_LIVE_SCRATCH: set = set()

# Per-key phase walls for the streaming operators (VERDICT r8 item 3):
# the landing-dir build is TEST SCAFFOLDING (``streaming.jobs.
# land_arrivals``: one partitionBy pass whose files are moved in to
# simulate arrival) while the drain is the operator under measurement.
# ``streaming.jobs.drain`` records {"scaffold_s", "drain_s", "batches"}
# here on every run — ``batches`` counts the micro-batches that read
# input rows — so the scale probe can grade the drain ratio separately
# from the plumbing.
PHASE_WALLS: dict = {}

_SCRATCH_BASE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def scratch_dir(name: str) -> str:
    """A fresh ``<name>_*`` dir under the repo's gitignored .scratch.

    Sibling dirs older than 2 h are pruned first; the new dir is
    protected for the life of the process, because callers return lazy
    reads over it (ADVICE r7)."""
    import tempfile

    os.makedirs(_SCRATCH_BASE, exist_ok=True)
    prune_scratch(_SCRATCH_BASE)
    path = tempfile.mkdtemp(prefix=f"{name}_", dir=_SCRATCH_BASE)
    protect_scratch(path)
    return path


def protect_scratch(path: str) -> None:
    """Mark a .scratch subdir as referenced by a live returned handle."""
    _LIVE_SCRATCH.add(os.path.abspath(path))


def prune_scratch(base: str, max_age_s: int = 7200) -> None:
    """Best-effort GC for .scratch temp dirs (sinks, stream checkpoints):
    every creation call prunes siblings older than ``max_age_s`` so
    repeated gate/bench runs don't accumulate unbounded spill. Errors
    are swallowed — a concurrent run may own a dir we try to delete.
    Dirs registered via :func:`protect_scratch` (this process still
    holds lazy handles over them) are never pruned."""
    import shutil
    import time

    try:
        cutoff = time.time() - max_age_s
        for name in os.listdir(base):
            p = os.path.join(base, name)
            if os.path.abspath(p) in _LIVE_SCRATCH:
                continue
            try:
                if os.path.isdir(p) and os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    except OSError:
        pass
