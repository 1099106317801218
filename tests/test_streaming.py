"""Watermark semantics pinned with a crafted two-batch replay: batch 1
advances the watermark, batch 2 delivers late rows — rows older than
(max event time − watermark) must be dropped by the stateful dedup, and
append-mode window aggs must only emit finalized windows.

Deterministic by construction: file source + availableNow triggers + fixed
event times (never wall clock — SURVEY.md §7.4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def two_batch_dir(tmp_path):
    return str(tmp_path / "stream_in")


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    df.coalesce(1).write.mode("append").parquet(path)


def _read_stream(spark, path):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return spark.readStream.schema(schema).parquet(path)


def test_watermark_drops_late_duplicates(spark, two_batch_dir, tmp_path):
    from datetime import datetime

    t = lambda m: datetime(2024, 1, 1, 12, m, 0)
    ckpt = str(tmp_path / "ckpt")  # SHARED across both runs: run 2 must
    # RESUME run 1's state + watermark, not reprocess from scratch

    # batch 1: watermark advances to 12:30 - 10min = 12:20
    _write_batch(
        spark,
        two_batch_dir,
        [(1, t(0), 1, "click", 1.0), (2, t(30), 2, "click", 1.0)],
    )

    dedup = (
        _read_stream(spark, two_batch_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicates(["user_id", "event_type"])
        .select("event_id", "user_id", "event_type")
    )
    # the memory sink cannot recover from a checkpoint; the parquet file
    # sink can, and checkpoint recovery is exactly what makes this a real
    # two-batch watermark test
    out = str(tmp_path / "out")

    def run_once():
        q = (
            dedup.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.event_id for r in spark.read.parquet(out).collect()}

    batch1_ids = run_once()
    assert batch1_ids == {1, 2}

    # batch 2 (resumed from the same checkpoint, so only the new file is
    # processed under the carried-over 12:20 watermark): event_id=3 is LATE
    # (12:05 < 12:20) — dropped as late input regardless of dedup state;
    # id=4 (fresh key, on time) must appear
    _write_batch(
        spark,
        two_batch_dir,
        [(3, t(5), 1, "click", 1.0), (4, t(31), 3, "view", 1.0)],
    )
    all_ids = run_once()
    assert 3 not in all_ids, "late-arriving row behind the watermark must be dropped"
    assert 4 in all_ids
    assert all_ids == {1, 2, 4}


def test_append_mode_emits_only_finalized_windows(spark, two_batch_dir):
    from datetime import datetime

    t = lambda m: datetime(2024, 1, 1, 12, m, 0)
    _write_batch(
        spark,
        two_batch_dir,
        [
            (1, t(0), 1, "click", 1.0),
            (2, t(1), 1, "click", 1.0),
            (3, t(30), 2, "view", 1.0),  # pushes watermark past the first window
        ],
    )
    agg = (
        _read_stream(spark, two_batch_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("ws"), "cnt")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(r.ws.minute, r.cnt) for r in spark.table("wm_append").collect()}
    # the 12:00 window (cnt=2) is finalized by the 12:30 event; the 12:30
    # window is still open → must NOT be emitted in append mode
    assert (0, 2) in rows
    assert all(m != 30 for m, _ in rows)


def test_transform_with_state_runs_when_protobuf_present(spark, sf_dir, duck):
    """Skip-or-run (lakehouse-gating pattern): the Spark 4
    transformWithStateInPandas stateful processor needs google.protobuf for
    its state-server protocol. When the wheel exists, the per-user running
    totals must match the batch aggregate oracle exactly."""
    import pytest as _pytest

    _pytest.importorskip("google.protobuf.descriptor")
    from toy_map_reduce_spark.streaming.windows import (
        _STREAM_TWS_ORACLE,
        stream_transform_with_state,
    )

    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in stream_transform_with_state(spark, sf_dir).collect()
    }
    want = {
        int(u): (int(n), float(s))
        for u, n, s in duck.sql(_STREAM_TWS_ORACLE).fetchall()
    }
    assert got == want


def test_transform_with_state_gates_cleanly_without_protobuf(spark, sf_dir):
    from toy_map_reduce_spark.streaming import windows as sw

    if sw._tws_available():
        pytest.skip("protobuf present; covered by the run variant")
    with pytest.raises(RuntimeError, match="protobuf"):
        sw.stream_transform_with_state(spark, sf_dir)
