"""Window functions (G tier) — absent from the reference (SURVEY.md §2.D).

Determinism contract: every window ORDER BY carries a unique tiebreak
column (``o_orderkey``) so rank/row_number/lag/lead and ROWS frames are
reproducible — the driver hash-compares values, and DuckDB must walk the
exact same order.

Scale notes: a window partitioned by a key is one shuffle on that key,
then a per-partition sort — same cost shape as a groupBy. Never window
over an empty ``partitionBy()`` at scale (single-task global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load


_WINDOW_RANK_ORACLE = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER w AS rn,
         rank()       OVER w AS rnk,
         dense_rank() OVER w AS drnk
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC)
)
WHERE rn <= 3
"""


@register("window_rank", "G", oracle=_WINDOW_RANK_ORACLE,
          doc="Ranking windows: top-3 orders per customer by price")
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .where(F.col("rn") <= 3)
    )


_WINDOW_ANALYTIC_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice,
       round(lag(o_totalprice)  OVER w, 2) AS prev_price,
       round(lead(o_totalprice) OVER w, 2) AS next_price,
       round(SUM(o_totalprice) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS moving_sum3,
       round(AVG(o_totalprice) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg3,
       round(SUM(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC)
"""


@register("window_analytic", "G", oracle=_WINDOW_ANALYTIC_ORACLE,
          doc="Analytic windows: lag/lead + ROWS-frame moving and running aggregates")
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    frame3 = w.rowsBetween(-2, 0)
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.round(F.sum("o_totalprice").over(frame3), 2).alias("moving_sum3"),
        F.round(F.avg("o_totalprice").over(frame3), 6).alias("moving_avg3"),
        F.round(F.sum("o_totalprice").over(running), 2).alias("running_sum"),
    )


_WINDOW_FIRST_LAST_ORACLE = """
SELECT o_custkey, o_orderkey,
       round(first_value(o_totalprice) OVER w, 2) AS cheapest,
       round(last_value(o_totalprice)  OVER w, 2) AS priciest,
       round(nth_value(o_totalprice, 2) OVER w, 2) AS second_cheapest
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC NULLS FIRST, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@register("window_first_last_nth", "G", oracle=_WINDOW_FIRST_LAST_ORACLE,
          doc="Positional window functions: first_value / last_value / "
              "nth_value over an explicit full-partition frame (the default "
              "running frame silently changes last_value semantics — pinned "
              "explicitly on both engines)")
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.first("o_totalprice").over(w), 2).alias("cheapest"),
        F.round(F.last("o_totalprice").over(w), 2).alias("priciest"),
        F.round(F.nth_value("o_totalprice", 2).over(w), 2).alias("second_cheapest"),
    )


_WINDOW_TIME_RANGE_ORACLE = """
SELECT event_id, event_type, date_trunc('second', ts) AS ts_sec,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_last_10m,
       round(SUM(value) OVER w, 2) AS sum_last_10m
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY epoch(date_trunc('second', ts))
             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
"""


@register("window_time_range", "G", oracle=_WINDOW_TIME_RANGE_ORACLE,
          doc="Time-interval RANGE frame: per-event trailing-10-minute count "
              "and sum (RANGE over epoch seconds — value-based peers, so "
              "results are independent of intra-second tie order)")
def window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts is truncated to seconds BEFORE framing on both engines, and the
    frame runs over whole epoch seconds, so a frame boundary never
    depends on sub-second precision or on how an engine turns a
    timestamp into a number."""
    ev = load(spark, sf_dir, "events").withColumn(
        "ts_sec", F.date_trunc("second", "ts")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp("ts_sec"))
        .rangeBetween(-600, 0)
    )
    return ev.select(
        "event_id",
        "event_type",
        "ts_sec",
        F.count(F.lit(1)).over(w).alias("n_last_10m"),
        F.round(F.sum("value").over(w), 2).alias("sum_last_10m"),
    )


_LATEST_PER_KEY_ORACLE = """
SELECT user_id, event_id, date_trunc('second', ts) AS ts_sec, event_type
FROM (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("window_latest_per_key", "G", oracle=_LATEST_PER_KEY_ORACLE,
          doc="Latest-record-per-key compaction (the CDC/upsert-log pattern): "
              "row_number over ts DESC with a unique tiebreak, keep rn=1 — "
              "one shuffle on the key, no self-join against a MAX subquery")
def window_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.date_trunc("second", "ts").alias("ts_sec"),
            "event_type",
        )
    )


_WINDOW_MEDIAN_ORACLE = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       round(quantile_cont(l_quantity, 0.5)
             OVER (PARTITION BY l_returnflag), 6) AS med_qty,
       round(quantile_cont(l_quantity, 0.25)
             OVER (PARTITION BY l_returnflag), 6) AS p25_qty,
       round(l_quantity - quantile_cont(l_quantity, 0.5)
             OVER (PARTITION BY l_returnflag), 6) AS dev_from_med
FROM lineitem
"""


@register("window_median", "G", oracle=_WINDOW_MEDIAN_ORACLE,
          doc="Ordered-statistic window aggregates: exact interpolated "
              "median/p25 over an unframed partition, attached to every "
              "row (deviation-from-median) — the windowed form of "
              "agg_percentile's grouped surface")
def window_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An unframed percentile window buffers each partition once and
    broadcasts one scalar back to its rows — same per-partition sort
    cost as the grouped percentile plus a row-preserving join Spark
    fuses into the window exchange. Partitioning on a bounded-
    cardinality key (returnflag) keeps it skew-safe; the 100 TB variant
    for high-cardinality keys is agg_percentile + broadcast join, the
    pattern window_outlier_zscore demonstrates."""
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag")
    med = F.expr("percentile(l_quantity, 0.5)").over(w)
    p25 = F.expr("percentile(l_quantity, 0.25)").over(w)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round(med, 6).alias("med_qty"),
        F.round(p25, 6).alias("p25_qty"),
        F.round(F.col("l_quantity") - med, 6).alias("dev_from_med"),
    )


_RATIO_TO_REPORT_ORACLE = """
SELECT o_custkey, o_orderkey,
       round(o_totalprice / SUM(o_totalprice) OVER (PARTITION BY o_custkey), 6)
         AS share_of_customer,
       round(o_totalprice / SUM(o_totalprice) OVER (), 9) AS share_of_total
FROM orders
"""


@register("window_ratio_to_report", "G", oracle=_RATIO_TO_REPORT_ORACLE,
          doc="Ratio-to-report windows: each order's share of its "
              "customer's spend and of the corpus total — the classic "
              "contribution-analysis window pair")
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-customer share is a keyed window (uniform key, bounded
    state). The global share is where naive SQL reaches for SUM() OVER ()
    — an unpartitioned window Spark executes as ONE task. The engine side
    instead computes the grand total as a one-row aggregate broadcast
    back to the scan (the same scalar-to-rows pattern as stat_winsorize
    and agg_trimmed_mean); the oracle uses the global window form,
    pinning that both formulations give identical results."""
    orders = load(spark, sf_dir, "orders")
    w_cust = Window.partitionBy("o_custkey")
    tot = orders.agg(F.sum("o_totalprice").alias("grand"))
    return (
        orders.crossJoin(F.broadcast(tot))
        .select(
            "o_custkey",
            "o_orderkey",
            # try_divide: an all-NULL-price customer (or corpus) has a
            # zero/NULL denominator — share undefined (NULL, DuckDB's x/0)
            F.round(
                F.try_divide(F.col("o_totalprice"), F.sum("o_totalprice").over(w_cust)), 6
            ).alias("share_of_customer"),
            F.round(F.try_divide(F.col("o_totalprice"), F.col("grand")), 9).alias("share_of_total"),
        )
    )


_WINDOW_COUNT_DISTINCT_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(COUNT(DISTINCT o_orderpriority)
            OVER (PARTITION BY o_custkey) AS BIGINT) AS n_distinct_priorities
FROM orders
"""


@register("window_count_distinct", "G", oracle=_WINDOW_COUNT_DISTINCT_ORACLE,
          doc="COUNT(DISTINCT) OVER — a window Spark rejects outright — "
              "derived exactly as max(dense_rank) over the same partition "
              "ordered by the counted column: the canonical workaround, "
              "checked against DuckDB's native distinct window")
def window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank assigns consecutive ranks to distinct values, so its
    per-partition max IS the distinct count; NULLs would rank too, so a
    null-counting correction applies where the column is nullable (not
    needed here — o_orderpriority is NOT NULL in the fixture, and the
    docstring records that assumption). Cost: one sort-window per key,
    the same class as any ranked window — vs the unsupported native
    form, nothing is lost."""
    orders = load(spark, sf_dir, "orders")
    w_rank = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    w_all = Window.partitionBy("o_custkey")
    # NULL correction: dense_rank ranks a NULL priority too (rank 1 under
    # Spark's NULLS FIRST), but COUNT(DISTINCT) ignores NULLs — subtract
    # the one rank a NULL-bearing partition spends on it
    has_null = F.max(
        F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)
    ).over(w_all)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.max(F.dense_rank().over(w_rank)).over(w_all) - has_null)
        .cast("long").alias("n_distinct_priorities"),
    )


_FILL_FORWARD_ORACLE = """
WITH masked AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CASE WHEN o_orderkey % 3 = 0 THEN NULL
              ELSE round(o_totalprice, 2) END AS price_sparse
  FROM orders
)
SELECT o_custkey, o_orderkey, price_sparse,
       last_value(price_sparse IGNORE NULLS)
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price_filled
FROM masked
"""


@register("window_fill_forward", "G", oracle=_FILL_FORWARD_ORACLE,
          doc="Forward-fill (LOCF): last non-null carried forward per key "
              "via last_value(... IGNORE NULLS) over a running frame — the "
              "sparse-observation densifier (every third price masked to "
              "simulate gaps); leading gaps stay NULL by contract")
def window_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS inside a RUNNING frame is the whole trick: the frame
    never looks ahead, so state per key is one value (Spark streams the
    frame; no buffering of the partition), and rows before the first
    observation honestly stay NULL instead of leaking a future value —
    the leakage-safe direction for feature engineering
    (feature_churn_labels makes the same argument for time splits)."""
    orders = load(spark, sf_dir, "orders")
    masked = orders.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("double"))
        .otherwise(F.round("o_totalprice", 2)).alias("price_sparse"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return masked.select(
        "o_custkey", "o_orderkey", "price_sparse",
        F.last("price_sparse", ignorenulls=True).over(w).alias("price_filled"),
    )


SESSION_GAP_MIN = 30

_SESSION_NATIVE_ORACLE = f"""
WITH seq AS (
  SELECT user_id, ts, event_id, date_trunc('second', ts) AS t,
         CASE WHEN date_diff('second',
                             lag(date_trunc('second', ts))
                               OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST),
                             date_trunc('second', ts)) > {SESSION_GAP_MIN * 60}
                   OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts IS NOT NULL  -- session_window(ts) drops NULL event times
),
tagged AS (
  -- the running sum MUST use the same total order (ts, event_id) as the
  -- lag that computed new_session: ordering by t alone leaves same-second
  -- ties in unspecified ROWS-frame order, so a tied boundary row could be
  -- assigned to the previous session nondeterministically
  SELECT user_id, t,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_no
  FROM seq
)
SELECT user_id,
       MIN(t) AS session_start,
       MAX(t) + INTERVAL {SESSION_GAP_MIN * 60} SECOND AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM tagged
GROUP BY user_id, session_no
"""


@register("window_session_native", "S", oracle=_SESSION_NATIVE_ORACLE,
          doc=f"Native session_window in BATCH mode: {SESSION_GAP_MIN}-minute "
              "gap sessions per user via F.session_window groupBy — the "
              "same operator Structured Streaming uses (stream_session), "
              "checked against a gaps-and-islands oracle")
def window_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window works identically in batch and streaming — the point
    of demonstrating it here: the batch run IS the backfill path for the
    streaming job (stream_session), same operator, same session
    boundaries, no dual implementation to keep in sync. Session end in
    Spark's contract is last-event + gap; the oracle reproduces that
    closed-open definition. One shuffle on user_id, merge-sorted session
    assembly."""
    ev = load(spark, sf_dir, "events").withColumn(
        "t", F.date_trunc("second", "ts")
    )
    return (
        ev.groupBy(
            "user_id", F.session_window("t", f"{SESSION_GAP_MIN} minutes")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )
