"""Structured Streaming variants of the event-time operators
(SURVEY.md §2B Phase 5 stretch; the reference is batch-only).

The batch queries in ``plans/eventtime.py`` already use the
streaming-identical primitives (``F.window`` / ``F.session_window``),
so these jobs are a SOURCE swap: ``readStream`` over the same parquet
(file-source), watermarks for state cleanup, ``availableNow`` trigger
to drain the backlog and stop — the cluster pattern for incremental
ingestion of a landing directory.

Tests assert the streaming results EQUAL the batch results on the same
input — the strongest available oracle for streaming semantics.

Every streaming path here and in ``plans/`` is built from three
primitives:

- ``session.scratch_dir(name)`` — a fresh, prune-protected dir under
  the repo's ``.scratch`` for landing, checkpoint and sink files;
- :func:`land_arrivals` — one ``partitionBy`` pass that lands a frame
  as one file per arrival value, in order (:func:`stamp_arrival` gives
  driver-written files the same mtime ordering);
- :func:`drain` — one availableNow query under
  ``$SPARK_GRAFT_STREAM_TIMEOUT``, recording ``session.PHASE_WALLS``.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager, nullcontext
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..session import PHASE_WALLS, ensure_conf, scratch_dir

_ROCKSDB = (
    "spark.sql.streaming.stateStore.providerClass",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
)
_NO_DATA_BATCHES = ("spark.sql.streaming.noDataMicroBatches.enabled", "false")


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over one parquet table, layout-agnostic.

    The file-source basePath must be a DIRECTORY, and two table
    layouts exist: driver testdata ships ONE FILE named
    ``<name>.parquet`` (select it out of the landing dir with a leaf
    glob), while replicas / production lakes ship a DIRECTORY
    ``<name>.parquet/`` of part files — there the stream reads the
    dir itself, because a leaf-name glob matches NO part file and the
    source silently streams EMPTY (caught by the r6 scale probe:
    streaming_session_window returned 0 rows on the 10× replica).
    File streams require an explicit schema — taken from a static
    read.

    Layout detection goes through the Hadoop FileSystem API so it
    works for ANY scheme the session can read (s3a://, hdfs://, …) —
    ``os.path.isdir`` is always False off the local filesystem, which
    would route object-store directory tables into the glob branch and
    silently stream zero rows (ADVICE r6). Local-path fallback only if
    the JVM call is unavailable."""
    schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    p = f"{sf_dir}/{name}.parquet"
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        is_dir = fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory()
    except Exception:
        is_dir = os.path.isdir(p.removeprefix("file:"))
    if is_dir:
        return spark.readStream.schema(schema).parquet(p)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, with the same
    ns-timestamp normalization as the batch reader (sources/tables.py).
    File streams require an explicit schema — taken from a static read."""
    ensure_conf(spark)
    raw = stream_table(spark, sf_dir, "events")
    from ..sources.tables import _normalize_event_ts

    return _normalize_event_ts(raw)


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``window_tumbling``: watermarked 10-min
    event-time counts. The 1h watermark bounds state: windows older
    than (max event time − 1h) are finalized and evicted."""
    ev = stream_events(spark, sf_dir)
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros("w.start").alias("w_start"), "event_type", "n")
    )


def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``window_sliding``: 10-min windows every 5 min."""
    ev = stream_events(spark, sf_dir)
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros("w.start").alias("w_start"), "n")
    )


def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``window_session``: 15-min-gap session windows
    per user with watermark-bounded session state."""
    ev = stream_events(spark, sf_dir)
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "15 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
    )


def streaming_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` with a DYNAMIC per-event gap (the
    capability the fixed-gap ``streaming_session_counts`` twin doesn't
    exercise): purchases hold the session open 30 min, everything else
    15 min. Spark merges overlapping [ts, ts+gap) intervals per user;
    the session end is MAX(ts+gap) over the merged events, and an event
    landing EXACTLY on the previous session end starts a new session.
    Watermark bounds session state exactly as in the fixed-gap job."""
    ev = stream_events(spark, sf_dir)
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("15 minutes")
    )
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )


def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on event_id:
    ``dropDuplicatesWithinWatermark`` keeps dedup state only inside the
    watermark horizon — bounded memory on an unbounded stream (the
    at-least-once-ingestion cleanup pattern)."""
    ev = stream_events(spark, sf_dir)
    return ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    ).select("event_id", "user_id", "event_type")


def streaming_user_counter_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL operator via ``applyInPandasWithState`` — the
    arbitrary-state extension point (Flink's KeyedProcessFunction
    analogue; SURVEY §2B udf/streaming surface): per-user GroupState
    accumulating (event_count, total_value) across micro-batches,
    emitting one row per user per batch with the running totals.

    State is a plain tuple in the state store (HDFS-backed RocksDB/
    memory at scale); the watermark bounds how long idle users' state
    survives via the state timeout."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the unbounded event stream enriched against
    a bounded dimension table — the canonical streaming-ETL shape
    (facts arrive, dims sit in the lake). The static side broadcasts
    per micro-batch; no streaming state is needed for the join itself
    (unlike stream-stream joins, which buffer within the watermark).
    The demo key maps user_id into the 25-row nation dim."""
    from ..sources import load_table

    ev = stream_events(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        ev.withColumn("nk", (F.col("user_id") % 25).cast("int"))
        .join(F.broadcast(nation), F.col("nk") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join with event-time bounds — the attribution
    shape (signup stream ⋈ purchase stream per user within 1 h). Unlike
    the stream-static join, BOTH sides are unbounded: Spark buffers each
    side in the state store and the watermark + time-bound condition
    define exactly how long a row can wait for its match — without the
    bound, state would grow forever on a 100 TB/day stream. The join
    emits pairs as matches arrive (append mode; inner joins need no
    end-of-window wait)."""
    s = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
            F.col("event_id").alias("s_event_id"),
        )
    )
    p = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event_id"),
            F.col("value"),
        )
    )
    return (
        s.withWatermark("s_ts", "1 hour")
        .join(
            p.withWatermark("p_ts", "1 hour"),
            (F.col("s_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
            "inner",
        )
        .select("s_event_id", "p_event_id", F.round("value", 4).alias("purchase_value"))
    )


def streaming_late_data_stream(spark: SparkSession) -> DataFrame:
    """Watermark LATE-DATA semantics, made observable: a two-file
    landing directory processed one file per micro-batch
    (``maxFilesPerTrigger=1``) so the watermark advances BETWEEN
    batches.

    File 1 (on-time): events at 00:01, 00:02 (window [00:00,00:10)),
    00:25, 00:55 → the 10-min watermark advances to 00:45. File 2 is a
    filler (00:56): Spark applies the input-side late filter with the
    watermark as of batch PLANNING, i.e. one batch after it advances —
    the filler batch is what makes the new watermark effective
    (verified empirically via numRowsDroppedByWatermark). File 3: one
    LATE event at 00:03 — now below the effective watermark, REJECTED —
    plus a 02:00 closer that flushes every earlier window.

    Append-mode output therefore counts the 00:00 window as 2, NOT 3:
    the late row is dropped, exactly the bounded-state guarantee that
    makes event-time aggregation feasible on an unbounded 100 TB/day
    stream. The 02:00 window never emits (watermark never passes it) —
    also part of the contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ensure_conf(spark)
    base = scratch_dir("late_landing")

    def _write(name: str, minutes: list, i: int) -> None:
        us = [m * 60_000_000 for m in minutes]  # minutes past 2000-01-01 00:00 UTC
        epoch = 946_684_800_000_000  # 2000-01-01 UTC in µs
        tbl = pa.table(
            {
                "ts": pa.array([epoch + u for u in us], pa.timestamp("us", tz="UTC")),
                "event_id": pa.array(list(range(len(us))), pa.int64()),
            }
        )
        path = os.path.join(base, name)
        pq.write_table(tbl, path)
        stamp_arrival(path, i)

    _write("batch1.parquet", [1, 2, 25, 55], 0)
    _write("batch2.parquet", [56], 1)  # filler: wm takes effect
    _write("batch3.parquet", [3, 120], 2)  # 00:03 is LATE

    stream = (
        spark.readStream.schema("ts timestamp, event_id long")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(base)
    )
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros("w.start").alias("w_start"), "n")
    )


def stamp_arrival(path: str, i: int) -> None:
    """Give the ``i``-th arrival of a landing dir its mtime: 100 s apart
    from 2001-09-09, strictly increasing in ``i``. The file source
    orders new files by mtime, so a ``maxFilesPerTrigger=1`` drain
    reads the arrivals as ordered micro-batches."""
    t = 1_000_000_000.0 + i * 100
    os.utime(path, (t, t))


def land_arrivals(df: DataFrame, col: str, values, landing: str) -> Iterator:
    """Land ``df`` in ``landing`` as one parquet file per value of
    ``col``, in ``values`` order. The returned iterator is lazy: each
    step moves the next value's file in as ``<col><value>.parquet``,
    stamps it with :func:`stamp_arrival`, and yields its path — or
    ``None`` when the value has no rows (ADVICE r12 #1). Callers that
    land every arrival up front take ``list(...)``;
    :func:`run_checkpoint_resume` drains between steps.

    All arrivals are built in ONE pass over ``df``, not one scan per
    arrival: ``repartitionByRange(len(values), col)`` and a
    ``partitionBy(col)`` write to a staging dir beside
    ``landing``, removed after the last arrival. Range partitioning
    typically gives each value its own task — the bounds come from
    sampling — and a value that still wrote more than one part file
    raises, since landing only one of them would be a silent wrong
    answer."""
    values = list(values)
    stage = landing.rstrip("/") + "_stage"
    (
        df.repartitionByRange(len(values), col)
        .write.mode("overwrite")
        .partitionBy(col)
        .parquet(stage)
    )
    os.makedirs(landing, exist_ok=True)
    for i, v in enumerate(values):
        vdir = os.path.join(stage, f"{col}={v}")
        if not os.path.isdir(vdir):
            yield None
            continue
        parts = [f for f in os.listdir(vdir) if f.endswith(".parquet")]
        if len(parts) != 1:
            raise RuntimeError(
                f"land_arrivals: {col}={v} wrote {len(parts)} part files; "
                "expected exactly 1"
            )
        dst = os.path.join(landing, f"{col}{v}.parquet")
        os.replace(os.path.join(vdir, parts[0]), dst)
        stamp_arrival(dst, i)
        yield dst
    shutil.rmtree(stage)


def drain(writer: DataStreamWriter, name: str, ckpt: str, t0: float) -> None:
    """Run ``writer`` — a configured ``foreachBatch`` or file sink — as
    one availableNow query checkpointed at ``ckpt``, and record
    ``PHASE_WALLS[name]``: ``scaffold_s`` from ``t0`` (the caller's
    ``time.perf_counter()`` at its start) to the query start,
    ``drain_s`` for the drain, and ``batches``, the micro-batches that
    read input rows.

    The wait is ``$SPARK_GRAFT_STREAM_TIMEOUT`` seconds (default 120;
    the 100× probe needs more). A query still running then is stopped
    and raises ``TimeoutError``: returning would hand back a PARTIAL
    result, a wrong answer rather than an error.

    No other query may be active on the session: a session conf pinned
    around the drain (:func:`_pinned_conf`) is read by every query that
    starts while it is set (VERDICT r12 #5)."""
    active = writer._spark.streams.active
    if active:
        raise RuntimeError(
            f"stream {name!r}: {len(active)} streaming queries already "
            "active on this session; drains run one at a time"
        )
    t_drain = time.perf_counter()
    q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    timeout = int(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT", 120))
    try:
        if not q.awaitTermination(timeout):
            raise TimeoutError(
                f"stream {name!r} did not drain available data in {timeout}s"
            )
    finally:
        q.stop()
    PHASE_WALLS[name] = {
        "scaffold_s": round(t_drain - t0, 3),
        "drain_s": round(time.perf_counter() - t_drain, 3),
        "batches": sum(p.numInputRows > 0 for p in q.recentProgress),
    }


@contextmanager
def _pinned_conf(spark: SparkSession, key: str, value: str):
    """Set session conf ``key`` for one query start (confs are captured
    at ``.start()``), then restore the caller's value, or unset it."""
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def run_available_now(
    df: DataFrame,
    name: str,
    output_mode: str = "complete",
    skip_no_data_batch: bool = False,
) -> DataFrame:
    """Drain the stream with the availableNow trigger (:func:`drain`)
    and return the result as a DataFrame (test/driver harness helper).

    State runs on RocksDB (r7 100× probe catch): the default
    HDFSBackedStateStoreProvider keeps every partition's state map
    ON-HEAP, and an availableNow drain of a static table processes all
    files in one micro-batch, so the watermark never gets a chance to
    evict — session state for the ENTIRE input materialized at once and
    OOMed the single-JVM 8 g driver at 100× data
    (streaming_session_window, ~100 M events). RocksDB keeps state
    off-heap/on-disk per partition; results are bit-identical.

    ``skip_no_data_batch`` (r12, VERDICT r11 item 6) disables the
    ZERO-ROW no-data batch that follows the data batch only to advance
    the watermark — 0.9–1.4 s per drain, since addBatch over empty
    input still opens/commits every state-store partition. It is
    results-identical only where OUTPUT cannot depend on that batch:
    eager-emitting append operators (dedup, inner joins, stateless
    maps), complete-mode aggregations (each trigger re-emits
    everything), and the update-mode counter (no input ⇒ no changed
    groups, NoTimeout ⇒ no timer fires). NOT for append-mode windowed
    aggregations (streaming_late_data), where the no-data batch is what
    flushes finalized windows.

    The result is staged to PARQUET from inside ``foreachBatch`` — an
    executor-side distributed write. The previous memory-sink harness
    collected the whole drained aggregate into driver heap AND re-served
    it as a driver-local parallelized collection, which OOMed the 8 g
    single-JVM driver the first time a drain outgrew it (r7 100× probe:
    streaming_session_window over ~100 M events — the harness, not the
    plan, was the bottleneck). foreachBatch honours the query's output
    mode, so complete mode still replaces the staged result per trigger
    and the last trigger holds the full aggregate — results are
    bit-identical to the memory sink at every scale that fit it."""
    t0 = time.perf_counter()
    root = scratch_dir(f"sink_{name}")
    out = root + "/result"
    spark = df.sparkSession

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        # complete mode: each trigger carries the FULL updated result —
        # overwrite so the last trigger wins (identical to memory-sink
        # semantics). append/update modes stage their increments into a
        # PER-BATCH subdir with overwrite, so a retried micro-batch
        # (foreachBatch is at-least-once) REPLACES its own batch=N dir
        # instead of double-appending rows (ADVICE r7).
        if output_mode == "complete":
            batch_df.write.mode("overwrite").parquet(out)
        else:
            batch_df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

    with _pinned_conf(spark, *_ROCKSDB), (
        _pinned_conf(spark, *_NO_DATA_BATCHES) if skip_no_data_batch else nullcontext()
    ):
        drain(
            df.writeStream.foreachBatch(stage).outputMode(output_mode),
            name,
            f"{root}/ckpt",
            t0,
        )
    have_files = os.path.isdir(out) and any(
        f.endswith(".parquet")
        for _, _, names in os.walk(out)
        for f in names
    )
    if not have_files:
        # zero triggers fired (empty source): preserve the old memory-sink
        # behavior of an empty frame with the stream's schema
        return spark.createDataFrame([], df.schema)
    if output_mode == "complete":
        return spark.read.parquet(out)
    # append/update staged per-batch subdirs: recursiveFileLookup reads
    # every generation without inferring a batch=N partition column.
    return spark.read.option("recursiveFileLookup", "true").parquet(out)


def run_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` sink — the production pattern for targets with
    no native streaming writer (JDBC upserts, MERGE INTO a lakehouse
    table): each micro-batch is handed to arbitrary BATCH logic with a
    monotonically increasing ``batch_id`` for idempotent retries.

    Here every batch reduces to per-user partials (count, sum, latest
    (ts, value) via ``max_by``) staged to parquet PARTITIONED BY
    batch_id under dynamic partition overwrite — a retried micro-batch
    replaces exactly its own batch_id partition instead of appending a
    second copy, so replays never double-apply. The returned frame is
    the post-drain merge: per-user totals + last-writer-wins latest
    value across batches."""
    t0 = time.perf_counter()
    root = scratch_dir("fbu")
    stage = root + "/partials"
    ev = stream_events(spark, sf_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("value").alias("pv"),
            F.max(F.struct("ts", "event_id", "value")).alias("latest"),
        )
        (
            partial.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(stage)
        )

    drain(
        ev.writeStream.foreachBatch(apply_batch),
        "streaming_foreach_batch",
        f"{root}/ckpt",
        t0,
    )
    staged = spark.read.parquet(stage)
    return staged.groupBy("user_id").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("pv"), 4).alias("total_value"),
        F.max("latest").alias("latest"),
    ).select(
        "user_id",
        "n_events",
        "total_value",
        F.round(F.col("latest.value"), 4).alias("last_value"),
    )


def run_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once incremental ingestion with CHECKPOINT RESUME: the
    landing directory receives files in two arrivals; each arrival is
    drained by a SEPARATE availableNow query sharing one checkpoint
    and one parquet sink. The second run must resume from the
    checkpoint's file log — reprocessing nothing, missing nothing —
    so the sink holds every event exactly once (the crash/restart
    guarantee a 100 TB ingestion pipeline leans on; identity oracle
    over the source proves it)."""
    from ..sources.tables import _normalize_event_ts

    t0 = time.perf_counter()
    root = scratch_dir("ckpt_resume")
    landing, ckpt, sink = f"{root}/landing", f"{root}/ckpt", f"{root}/sink"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    schema = ev.schema
    # two deterministic arrivals (disjoint, exhaustive) built in one
    # pass; arrival 2 stays staged until drain 1 has completed — the
    # resume semantics (drain 1 must not see arrival 2) are enforced by
    # the os-level move, exactly as a real landing directory receives
    # files
    arrivals = land_arrivals(
        ev.withColumn(
            "arrival",
            F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(F.lit(2)),
        ),
        "arrival",
        (1, 2),
        landing,
    )
    for arrival, _ in enumerate(arrivals, 1):
        stream = _normalize_event_ts(
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(landing)
        )
        drain(
            stream.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append"),
            f"streaming_checkpoint_resume_arrival{arrival}",
            ckpt,
            t0,
        )
        t0 = time.perf_counter()
    return spark.read.parquet(sink).select(
        "event_id", "user_id", "event_type", F.round("value", 4).alias("value")
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (same glob-select
    pattern as stream_events) — the landing-directory shape for an
    incremental media-ingest pipeline."""
    ensure_conf(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def streaming_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING media decode: the same executor-side PNG encode +
    REAL decode Arrow kernels (operators/multimodal.py) run unchanged
    over a file-source stream — stateless mapInPandas stages compose
    under Structured Streaming exactly as in batch, so incremental
    media ingest is a source swap, not a rewrite."""
    from ..operators.multimodal import decode_image_media, to_image_table

    docs = stream_documents(spark, sf_dir)
    return decode_image_media(to_image_table(docs))


def streaming_user_counter_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL operator via Spark 4's ``transformWithStateInPandas``
    — the successor API to ``applyInPandasWithState`` (typed composite
    state, timers, TTL; SPARK-40434 arbitrary-state v2). Same contract
    as :func:`streaming_user_counter_stateful`: per-user ValueState
    accumulating (event_count, total_value) across micro-batches,
    emitting the running totals per batch in update mode.

    NOT in the registry: the transformWithState state client speaks a
    protobuf protocol and this build environment's ``google.protobuf``
    is broken (ImportError: cannot import name 'descriptor'), so the
    runner crashes at init. Re-probed every round — still absent
    2026-08-16 (r11, sixth pass): ``import google`` /
    ``import google.protobuf`` raise ModuleNotFoundError, and
    ``spark.read.format("avro")`` still fails with "external data
    source module" (spark-avro jar not deployed), so scan_avro stays
    unregistrable too.
    The job is kept as the API-surface
    demonstration and guarded by a skip-unless-protobuf pytest
    (tests/test_streaming.py); on a normal Spark 4 install it drains
    and matches the batch GROUP BY exactly like the v1 key.

    The processor class is defined INSIDE this function on purpose:
    worker pickling is by-value for closures, so the job survives
    driver sessions whose workers don't have the repo on sys.path
    (the plain-session gotcha documented in the verify skill)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")

    class UserCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, total = self._agg.get() if self._agg.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 4)],
                }
            )

        def close(self) -> None:
            pass

    return ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserCounter(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )
