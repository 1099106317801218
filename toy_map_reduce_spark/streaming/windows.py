"""Structured Streaming operators (S tier) — the streaming generalization
the reference entirely lacks (strictly two-phase batch, SURVEY.md §2.D).

Each query here is REAL streaming: ``readStream`` over the events parquet →
event-time transformation with watermark → memory sink, driven to
completion synchronously with an ``availableNow`` trigger, then the sink
table is returned as the result DataFrame (the driver contract wants a
DataFrame). The DuckDB oracles verify batch equivalence — the defining
property of Structured Streaming's incremental execution model.

Determinism: ``availableNow`` + file source + fixed event-time data — never
wall-clock triggers (SURVEY.md §7.4). Aggregations run in ``complete`` mode
so final window states are emitted regardless of watermark progress;
watermark *late-drop* semantics are pinned separately in
tests/test_streaming.py with a crafted two-batch replay.

Scale notes: tumbling/sliding window aggs keep one state row per
(window, key) — bounded by watermark eviction; ``session_window`` merges
adjacent state; ``dropDuplicates`` state is bounded by the watermark too.
This is exactly the state-store design you want for an unbounded 100 TB/day
event feed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.session import pin_conf, streaming_session
from toy_map_reduce_spark.tables import _read_path, load

_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with a proper event-time column,
    in a new streaming session of the query (session.streaming_session).

    A file stream needs an explicit schema: ``ts`` is stored as
    TIMESTAMP(MICROS) without a time zone, read as ``timestamp_ntz`` and
    cast to ``TimestampType`` under the session's UTC time zone, as
    ``tables.load`` does. The stream reads the re-chunked copy the batch
    path reads, so a micro-batch scan is not one task. The file source
    only accepts directories, so a glob filter picks the one file.
    """
    pin_conf(spark)
    spark = streaming_session(spark)
    src_dir, src_file = os.path.split(_read_path(sf_dir, "events"))
    raw = (
        spark.readStream.option("pathGlobFilter", src_file)
        .schema(_EVENTS_SCHEMA)
        .parquet(src_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_to_table(stream_df: DataFrame, base_name: str, output_mode: str) -> DataFrame:
    """Drive a streaming DataFrame to completion into a memory sink and
    return the sink table, a temp view of the stream's session; the query
    and its sink are named for the query's scope.

    Fixed-cost floor (r7 audit): a bare availableNow COUNT(*) on the same
    source — no windows, no state — costs ~0.5 s warm, i.e. more than
    half of a typical S-tier bench entry is Spark's streaming
    query-start/stop itself, not this harness. r9 decomposed it from
    StreamingQueryProgress.durationMs on the warm probe (ONE micro-batch,
    4 shuffle partitions): queryPlanning ~100 ms (incremental planning
    runs per query start), offset/commit bookkeeping ~105 ms
    (latestOffset + getBatch + walCommit + commitOffsets), addBatch
    ~180 ms (state-store provider init plus the batch job itself), and
    ~70 ms of query-thread start/stop outside triggerExecution. Every
    component is tied to the one-query-one-checkpoint lifecycle that
    exactly-once replay requires: a tmpfs checkpoint root shaves only
    ~10% (the WAL writes are small; the cost is round trips, not fsync),
    disabling no-data micro-batches saves ~40 ms but changes
    watermark-emission semantics for the append-mode queries, and
    reusing a live query or its checkpoint across runs breaks the
    two-batch replay semantics pinned in tests/test_streaming.py (a
    reused checkpoint re-emits nothing in append mode). So every call
    pays the floor; it is not shaved here.
    """
    name = scratch.name(base_name)
    query = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return stream_df.sparkSession.table(name)


_STREAM_TUMBLING_ORACLE = """
SELECT to_timestamp(floor(epoch(ts) / 300) * 300) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       round(SUM(value), 2) AS sum_value
FROM events
WHERE ts IS NOT NULL  -- window(ts) drops NULL event times; so does the oracle
GROUP BY 1, 2
"""


@register("stream_tumbling", "S", oracle=_STREAM_TUMBLING_ORACLE,
          doc="Streaming tumbling-window count/sum (5 min windows, 10 min "
              "watermark) — batch-equivalence verified against the oracle")
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    out = run_to_table(agg, "stream_tumbling_sink", "complete")
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", "cnt", "sum_value"
    )


_STREAM_SLIDING_ORACLE = """
SELECT window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       round(SUM(value), 2) AS sum_value
FROM (
  SELECT unnest([
           to_timestamp(floor(epoch(ts) / 300) * 300),
           to_timestamp(floor(epoch(ts) / 300) * 300 - 300)
         ]) AS window_start,
         event_type, value
  FROM events
  WHERE ts IS NOT NULL  -- window(ts) drops NULL event times; so does the oracle
)
GROUP BY 1, 2
"""


@register("stream_sliding", "S", oracle=_STREAM_SLIDING_ORACLE,
          doc="Streaming sliding-window agg (10 min window / 5 min slide — "
              "each event lands in 2 windows)")
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    out = run_to_table(agg, "stream_sliding_sink", "complete")
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", "cnt", "sum_value"
    )


_STREAM_SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST)
                   >= INTERVAL 5 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts IS NOT NULL  -- session_window(ts) drops NULL event times
),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
)
SELECT user_id,
       date_trunc('second', MIN(ts)) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sessions
GROUP BY user_id, session_id
"""


@register("stream_session", "S", oracle=_STREAM_SESSION_ORACLE,
          doc="Streaming session windows (5 min gap) per user — oracle is the "
              "batch lag/gap-cumsum sessionization")
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_table(agg, "stream_session_sink", "complete")
    return out.select(
        "user_id",
        F.date_trunc("second", F.col("session_window.start")).alias("session_start"),
        "n_events",
    )


_STREAM_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register("stream_dedup_state", "S", oracle=_STREAM_DEDUP_ORACLE,
          doc="Stateful streaming dedup: first (user_id, event_type) occurrence "
              "survives; state bounded by the watermark")
def stream_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "10 minutes")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_table(deduped, "stream_dedup_sink", "append")


_STREAM_STREAM_JOIN_ORACLE = """
SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON v.user_id = c.user_id
 AND v.ts >= c.ts - INTERVAL 10 MINUTE
 AND v.ts <= c.ts
"""


@register("stream_stream_join", "S", oracle=_STREAM_STREAM_JOIN_ORACLE,
          doc="Stream-stream interval join: clicks joined to same-user views "
              "within the preceding 10 minutes; watermarks on both sides "
              "bound the join state")
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "10 minutes")
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"), F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "10 minutes")
    )
    joined = clicks.join(
        views,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("v_ts") <= F.col("c_ts")),
        "inner",
    ).select("click_id", "view_id", F.col("c_user").alias("user_id"))
    return run_to_table(joined, "stream_ss_join_sink", "append")


_STREAM_FOREACHBATCH_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       round(SUM(value), 2) AS sum_value
FROM events
GROUP BY event_type
"""


@register("stream_foreachbatch_sink", "S", oracle=_STREAM_FOREACHBATCH_ORACLE, bench=False,
          doc="Exactly-once streaming sink via foreachBatch: each epoch's agg "
              "state overwrites an idempotent parquet target (the anti-pattern "
              "the reference's append-mode FileWriter got wrong, SURVEY.md "
              "§4.3); result read back from the sink files")
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = scratch.path("stream_febatch")
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value")
    )

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        # overwrite per epoch = idempotent under retries (exactly-once
        # observable state), unlike append-mode accumulation
        batch_df.write.mode("overwrite").parquet(target)

    query = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(write_epoch)
        .queryName(scratch.name("stream_febatch_q"))
        .option("checkpointLocation", scratch.path("stream_febatch_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.read.parquet(target)


_STREAM_STATEFUL_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       -- COALESCE: the stateful processor's running total starts at 0.0
       -- and pandas' sum skips NULLs, so an all-NULL group totals 0.0
       round(COALESCE(SUM(value), 0.0), 2) AS sum_value
FROM events
GROUP BY user_id
"""


@register("stream_stateful_custom", "S", oracle=_STREAM_STATEFUL_ORACLE, bench=False,
          doc="Custom stateful streaming operator via applyInPandasWithState: "
              "per-user running totals held in GroupState, final flush on "
              "stream end")
def stream_stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState escape hatch — the shape any custom
    stateful operator (counters, CDC folds, per-key ML features) takes when
    Spark's built-in stateful ops don't fit."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = read_events_stream(spark, sf_dir)

    out_schema = "user_id long, n_events long, sum_value double"
    state_schema = "n long, s double"

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
        )

    result = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    out = run_to_table(result, "stream_stateful_sink", "update")
    # update-mode memory sink keeps every emitted row; the last emit per key
    # is the final state
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )


# Encodes Spark's drop rule EXACTLY: the watermark is tracked at
# millisecond granularity (event-time max is floored µs→ms,
# EventTimeStatsAccum), and the eviction predicate is ts <= watermark —
# so a row survives iff ts > floor_ms(max(b1.ts)) - delay. Using the raw
# µs max or >= here is a latent data-dependent flake at the boundary.
_STREAM_LATE_DROP_ORACLE = """
WITH b1 AS (SELECT * FROM events WHERE event_id % 2 = 0),
wm AS (SELECT date_trunc('millisecond', MAX(ts)) - INTERVAL 10 MINUTE AS w FROM b1),
b2 AS (SELECT * FROM events WHERE event_id % 2 = 1),
kept AS (
  SELECT event_type, value FROM b1
  UNION ALL
  SELECT b2.event_type, b2.value FROM b2, wm WHERE b2.ts > wm.w
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       round(SUM(value), 2) AS sum_value
FROM kept
GROUP BY event_type
"""


@register("stream_late_drop", "S", oracle=_STREAM_LATE_DROP_ORACLE, bench=False,
          doc="Watermark late-drop as a checked query: two-batch replay "
              "through a SHARED checkpoint — batch 1 (even event_ids) "
              "advances the watermark to max(ts)-10min, batch 2 (odd ids) "
              "resumes from the checkpoint and its rows older than that "
              "watermark are dropped by the stateful dedup. Oracle encodes "
              "the drop rule exactly")
def stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The file sink + checkpoint pair is what makes this real: a memory
    sink cannot resume a checkpoint, and without resumption batch 2 would
    be processed under a fresh (zero) watermark and nothing would drop."""
    streams = streaming_session(spark)
    base = scratch.path("late_drop")
    indir, outdir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(indir)

    schema = ev.schema

    def run_once() -> None:
        stream = (
            streams.readStream.schema(schema)
            .parquet(indir)
            .withWatermark("ts", "10 minutes")
            # ts MUST be in the dedup key set: only then does streaming
            # dedup apply the watermark predicate to INPUT rows (drop-late);
            # without it the watermark merely expires state
            .dropDuplicates(["event_id", "ts"])
            .select("event_type", "value")
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .queryName(scratch.name("late_drop"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # batch 1: establishes watermark in the checkpoint
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(indir)
    run_once()  # batch 2: resumed — late rows dropped

    out = spark.read.parquet(outdir)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# oracle for the gated transformWithState query (used by its pytest only;
# same per-user totals as stream_stateful_custom)
_STREAM_TWS_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(SUM(value), 2) AS sum_value
FROM events
GROUP BY user_id
"""


def _tws_available() -> bool:
    """transformWithStateInPandas needs the google.protobuf wheel for its
    state-server protocol; this image ships pyspark without it. Gated like
    the lakehouse jars: the query is NOT registered (a contract entry must
    never ERR on environment), and the skip-or-run pytest activates the
    moment protobuf lands."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as stream_stateful_custom, on the API Spark 4 wants
    new stateful operators written against: state is declared through a
    handle (getValueState with an explicit schema) instead of an opaque
    tuple, which is what lets the engine back it with RocksDB column
    families and evolve state schemas at scale. Requires google.protobuf
    (see _tws_available) — raise early with an actionable message when
    absent rather than crashing the streaming python runner."""
    if not _tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs the google.protobuf package "
            "(pip install protobuf); not present in this image"
        )
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    ev = read_events_stream(spark, sf_dir)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("s", T.DoubleType())]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, s = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._state.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
            )

        def close(self) -> None:
            pass

    result = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )
    out = run_to_table(result, "stream_tws_sink", "update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )


_STREAM_UPDATE_MODE_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
FROM events
GROUP BY event_type
"""


@register("stream_update_mode", "S", oracle=_STREAM_UPDATE_MODE_ORACLE,
          doc="Update output mode: per-event-type running counts, each "
              "micro-batch emitting only the changed rows; the final state "
              "is recovered as max(cnt) per key — exact because a count "
              "is monotone, so emission timing cannot change the answer")
def stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the output-mode coverage (complete: tumbling/sliding,
    append: late_drop/joins, update: here). Update mode is the
    scale-relevant one for dashboards: state size equals key cardinality
    but sink traffic per batch is only the touched keys. The memory sink
    accumulates every update row; taking the per-key max is deterministic
    for monotone aggregates regardless of how the engine batches the
    input — deliberately avoiding an assertion on emission boundaries
    (which are batching-dependent)."""
    ev = read_events_stream(spark, sf_dir)
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    sink = run_to_table(counts, "stream_update_sink", "update")
    return sink.groupBy("event_type").agg(F.max("cnt").alias("cnt"))


_STREAM_STATIC_JOIN_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(SUM(value), 2) AS total_value
FROM events JOIN customer ON user_id % 150 = c_custkey
GROUP BY c_mktsegment
"""


@register("stream_static_join", "S", oracle=_STREAM_STATIC_JOIN_ORACLE,
          doc="Stream-static enrichment join: the event stream joined to "
              "the static customer dimension (re-resolved per micro-batch, "
              "no state, no watermark needed on the static side), then a "
              "per-segment running aggregate in complete mode")
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third join regime after stream-stream and batch: the static
    side is planned as an ordinary broadcast per micro-batch, which is
    how streaming enrichment against a slowly changing dimension works
    at scale (each batch sees the dim's current snapshot; no join state
    accumulates). The % 150 key maps synthetic user ids onto the
    customer table's key space."""
    ev = read_events_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(cust, ev["user_id"] % 150 == cust["c_custkey"])
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return run_to_table(agg, "stream_static_sink", "complete")


# Chained-window oracle: 5-min counts rolled up to hours, emitted only
# for hours finalized by the final watermark (max event time floored to
# Spark's millisecond watermark granularity, minus the 10-min delay) —
# append-mode multi-stateful semantics replicated exactly in batch SQL.
_STREAM_CHAINED_ORACLE = """
WITH wm AS (
  SELECT date_trunc('millisecond', MAX(ts)) - INTERVAL 10 MINUTE AS w
  FROM events
),
five AS (
  SELECT to_timestamp(floor(epoch(ts) / 300) * 300) AS w5, event_type,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
hourly AS (
  SELECT to_timestamp(floor(epoch(w5) / 3600) * 3600) AS window_start,
         event_type,
         MAX(c) AS max_5min_cnt,
         SUM(c) AS total_cnt
  FROM five GROUP BY 1, 2
)
SELECT h.window_start, h.event_type,
       CAST(h.max_5min_cnt AS BIGINT) AS max_5min_cnt,
       CAST(h.total_cnt AS BIGINT) AS total_cnt
FROM hourly h, wm
WHERE h.window_start + INTERVAL 1 HOUR <= wm.w
"""


@register("stream_chained_windows", "S", oracle=_STREAM_CHAINED_ORACLE,
          doc="Chained streaming aggregations (Spark multi-stateful-"
              "operator support): 5-min windowed counts re-aggregated "
              "into hourly max/total via window_time, append mode — "
              "oracle replicates the final-watermark emission rule")
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two stateful operators in one streaming query — the inner 5-min
    count emits finalized windows downstream (append), the outer buckets
    them by window_time into hours. State is one row per (window, key)
    at each level, watermark-evicted; only hours fully below the final
    watermark emit, which the oracle mirrors with the ms-floored
    watermark rule (the same boundary discipline as stream_late_drop).
    This is the streaming rollup shape of a metrics pipeline: raw →
    minutely → hourly without a batch re-read."""
    ev = read_events_stream(spark, sf_dir)
    five = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hourly = (
        five.groupBy(
            F.window(F.window_time("window"), "1 hour").alias("hwin"), "event_type"
        )
        .agg(F.max("c").alias("max_5min_cnt"), F.sum("c").alias("total_cnt"))
    )
    out = run_to_table(hourly, "stream_chained_sink", "append")
    return out.select(
        F.col("hwin.start").alias("window_start"),
        "event_type",
        F.col("max_5min_cnt").cast("long").alias("max_5min_cnt"),
        F.col("total_cnt").cast("long").alias("total_cnt"),
    )
