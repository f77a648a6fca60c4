"""Structured Streaming smoke + batch-equivalence tests.

The batch result over the same files is the oracle: a file-source
stream drained with availableNow must produce exactly the batch answer.
"""

import pandas as pd
import pytest

from flink_kmeans_spark import streaming as S
from flink_kmeans_spark.plans.registry import specs
from conftest import SCRATCH_DIR


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    got = _norm(
        S.run_available_now(
            S.streaming_tumbling_counts(spark, sf_dir), "t_tumbling"
        ).toPandas()
    )
    batch = _norm(
        specs()["window_tumbling"]
        .fn(spark, sf_dir)
        .drop("total_value")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


def test_streaming_session_equals_batch(spark, sf_dir):
    got = _norm(
        S.run_available_now(
            S.streaming_session_counts(spark, sf_dir), "t_session"
        ).toPandas()
    )
    batch = _norm(specs()["window_session"].fn(spark, sf_dir).toPandas())
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


def test_stateful_counter_equals_batch_groupby(spark, sf_dir):
    """applyInPandasWithState final per-user state == batch GROUP BY."""
    from pyspark.sql import functions as F

    from flink_kmeans_spark.sources import load_table

    got = _norm(specs()["streaming_stateful_counter"].fn(spark, sf_dir).toPandas())
    batch = _norm(
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


def test_streaming_dedup_within_watermark(spark, sf_dir):
    out = S.run_available_now(
        S.streaming_dedup_within_watermark(spark, sf_dir),
        "t_dedup",
        output_mode="append",
    ).toPandas()
    # event_id is unique in the source -> dedup is a no-op on counts,
    # and the op must not drop legitimate rows
    from flink_kmeans_spark.sources import load_table

    n = load_table(spark, sf_dir, "events").count()
    assert len(out) == n
    assert out["event_id"].is_unique


def test_streaming_late_data_dropped(spark):
    """The 00:00 window counts 2 (late 00:03 row rejected); 00:20 and
    00:50 windows emit; the watermark never passes the 02:00 window so
    it never emits."""
    from flink_kmeans_spark.plans.registry import specs

    rows = {
        r["w_start"]: r["n"]
        for r in specs()["streaming_late_data"].fn(spark, "unused").collect()
    }
    epoch = 946_684_800_000_000  # 2000-01-01 UTC µs
    m = 60_000_000
    assert rows == {epoch + 0 * m: 2, epoch + 20 * m: 1, epoch + 50 * m: 2}


def test_transform_with_state_matches_batch_when_protobuf_present(spark, sf_dir):
    """Spark 4 transformWithStateInPandas twin of the stateful counter.
    The state client needs google.protobuf (broken in this build env —
    see streaming/jobs.py docstring), so this runs only where it can."""
    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from flink_kmeans_spark.sources import load_table
    from flink_kmeans_spark.streaming.jobs import (
        run_available_now,
        streaming_user_counter_tws,
    )

    drained = run_available_now(
        streaming_user_counter_tws(spark, sf_dir), "q_tws_test", output_mode="update"
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in drained.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    exp = {
        r["user_id"]: (r["n"], r["tv"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("tv"))
        .collect()
    }
    assert got == exp


def test_rocksdb_drain_restores_session_conf(spark, sf_dir):
    """run_available_now pins the RocksDB state store for the drain
    (r7 100× probe catch #6) but must leave the caller's session conf
    exactly as it found it — both when unset and when preset."""
    key = "spark.sql.streaming.stateStore.providerClass"
    # case 1: unset before -> unset after
    try:
        spark.conf.unset(key)
    except Exception:
        pass
    S.run_available_now(
        S.streaming_tumbling_counts(spark, sf_dir), "t_conf_restore_1"
    )
    try:
        leftover = spark.conf.get(key)
    except Exception:
        leftover = None
    assert leftover is None or "RocksDB" not in str(leftover)
    # case 2: preset value survives the drain
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming."
                        "state.HDFSBackedStateStoreProvider")
    S.run_available_now(
        S.streaming_tumbling_counts(spark, sf_dir), "t_conf_restore_2"
    )
    assert "HDFSBacked" in spark.conf.get(key)
    spark.conf.unset(key)


def test_streaming_cdc_apply_generations_and_batch_parity(spark, sf_dir):
    """(a) streaming CDC final state ≡ the one-shot batch MERGE
    (cdc_merge_apply) on the same snapshot; (b) THREE generations were
    really materialized (multi-batch drain, not one fused batch);
    (c) generation 0 proves ordered semantics: exactly the snapshot
    minus the deletes, before any update/insert arrived."""
    import glob
    import os

    from flink_kmeans_spark.session import PHASE_WALLS

    got = _norm(specs()["streaming_cdc_apply"].fn(spark, sf_dir).toPandas())
    want = _norm(specs()["cdc_merge_apply"].fn(spark, sf_dir).toPandas())
    # batch key emits the same (pri, n_rows, total_price) aggregate
    want = want.reindex(sorted(got.columns), axis=1)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    roots = sorted(
        glob.glob(os.path.join(SCRATCH_DIR, "cdc_stream_*")), key=os.path.getmtime
    )
    assert roots, "cdc stream left no scratch root"
    state = os.path.join(roots[-1], "state")
    gens = sorted(d for d in os.listdir(state) if d.startswith("gen="))
    assert gens == ["gen=0", "gen=1", "gen=2"]
    assert PHASE_WALLS["streaming_cdc_apply"]["batches"] == 3
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_orders = orders.count()
    n_dels = orders.filter("o_orderkey % 17 = 0").count()
    g0 = spark.read.parquet(os.path.join(state, "gen=0")).count()
    assert g0 == n_orders - n_dels


def test_streaming_quantile_sketch_ledger_equals_batch(spark, sf_dir):
    """The streamed DDSketch ledger must produce EXACTLY the batch
    key's rows (same quantiles, ranks, buckets, estimates), and the
    ledger must hold one partial per micro-batch (3 shards drained
    one file per trigger)."""
    import glob
    import os

    from flink_kmeans_spark.plans.registry import specs
    from flink_kmeans_spark.session import PHASE_WALLS

    got = sorted(
        tuple(r) for r in specs()["streaming_quantile_sketch"].fn(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r) for r in specs()["agg_quantile_sketch"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) == 4
    roots = sorted(
        glob.glob(os.path.join(SCRATCH_DIR, "dds_stream_*")),
        key=os.path.getmtime,
    )
    assert roots, "sketch stream left no scratch root"
    batches = glob.glob(os.path.join(roots[-1], "ledger", "batch=*"))
    assert len(batches) == 3
    assert PHASE_WALLS["streaming_quantile_sketch"]["batches"] == 3


def test_land_arrivals_one_file_per_value_in_order(spark, tmp_path):
    """One parquet file per value, named <col><value>, holding exactly
    that value's rows, with strictly increasing mtimes in ``values``
    order; the staging dir is gone afterwards. A value with no rows
    lands nothing and does not raise (ADVICE r12 #1)."""
    import os

    from flink_kmeans_spark.streaming.jobs import land_arrivals

    df = spark.range(30).selectExpr("id", "id % 3 AS shard")
    landing = str(tmp_path / "landing")
    paths = list(land_arrivals(df, "shard", [2, 0, 1], landing))
    assert [os.path.basename(p) for p in paths] == [
        "shard2.parquet", "shard0.parquet", "shard1.parquet"
    ]
    assert sorted(os.listdir(landing)) == sorted(os.path.basename(p) for p in paths)
    mtimes = [os.path.getmtime(p) for p in paths]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
    ids = sorted(r["id"] for r in spark.read.parquet(paths[0]).collect())
    assert ids == list(range(2, 30, 3))
    assert not os.path.exists(landing + "_stage")

    landing2 = str(tmp_path / "landing2")
    paths2 = list(land_arrivals(df.filter("shard != 1"), "shard", range(3), landing2))
    assert paths2[1] is None
    assert sorted(os.listdir(landing2)) == ["shard0.parquet", "shard2.parquet"]


class _FakeQuery:
    def __init__(self, finished, progress=()):
        self.finished, self.recentProgress = finished, list(progress)
        self.timeouts, self.stopped = [], False

    def awaitTermination(self, timeout):
        self.timeouts.append(timeout)
        return self.finished

    def stop(self):
        self.stopped = True


class _FakeWriter:
    """The slice of DataStreamWriter that ``drain`` drives."""

    def __init__(self, query, active=()):
        from types import SimpleNamespace

        self._spark = SimpleNamespace(streams=SimpleNamespace(active=list(active)))
        self.query, self.options, self.triggers = query, {}, {}

    def option(self, key, value):
        self.options[key] = value
        return self

    def trigger(self, **kwargs):
        self.triggers.update(kwargs)
        return self

    def start(self):
        return self.query


def test_drain_timeout_stops_and_raises(monkeypatch):
    from flink_kmeans_spark.session import PHASE_WALLS
    from flink_kmeans_spark.streaming.jobs import drain

    monkeypatch.setenv("SPARK_GRAFT_STREAM_TIMEOUT", "7")
    q = _FakeQuery(finished=False)
    w = _FakeWriter(q)
    with pytest.raises(TimeoutError):
        drain(w, "fake_timeout", "/ckpt/x", 0.0)
    assert q.timeouts == [7] and q.stopped
    assert w.options == {"checkpointLocation": "/ckpt/x"}
    assert w.triggers == {"availableNow": True}
    assert "fake_timeout" not in PHASE_WALLS


def test_drain_records_phase_walls_and_refuses_concurrent_query():
    from types import SimpleNamespace

    from flink_kmeans_spark.session import PHASE_WALLS
    from flink_kmeans_spark.streaming.jobs import drain

    progress = [SimpleNamespace(numInputRows=n) for n in (5, 0, 2)]
    q = _FakeQuery(finished=True, progress=progress)
    drain(_FakeWriter(q), "fake_ok", "/ckpt/y", 0.0)
    assert q.stopped
    rec = PHASE_WALLS.pop("fake_ok")
    assert rec["batches"] == 2 and rec["drain_s"] >= 0 and rec["scaffold_s"] > 0

    busy = _FakeQuery(finished=True)
    with pytest.raises(RuntimeError, match="already active"):
        drain(_FakeWriter(busy, active=[object()]), "fake_busy", "/ckpt/z", 0.0)
    assert busy.timeouts == [] and "fake_busy" not in PHASE_WALLS


def test_checkpoint_resume_with_an_empty_arrival(spark, sf_dir, tmp_path):
    """Only even event_ids: arrival 2 has no rows. The resume still
    drains twice, the second drain reads nothing, and the sink holds
    every event once (ADVICE r12 #1: this used to raise
    FileNotFoundError)."""
    from pyspark.sql import functions as F

    from flink_kmeans_spark.session import PHASE_WALLS

    evens = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("event_id") % 2 == 0
    )
    evens.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = S.jobs.run_checkpoint_resume(spark, str(tmp_path))
    assert sorted(r["event_id"] for r in got.collect()) == sorted(
        r["event_id"] for r in evens.collect()
    )
    assert PHASE_WALLS["streaming_checkpoint_resume_arrival1"]["batches"] == 1
    assert PHASE_WALLS["streaming_checkpoint_resume_arrival2"]["batches"] == 0
