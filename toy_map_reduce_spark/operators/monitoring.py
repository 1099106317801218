"""Pipeline-monitoring operators (G tier): daily-volume anomaly flags
and a seasonal-naive forecast backtest — the freshness/volume alarms and
capacity-planning baselines an ingestion platform runs over its own
event stream, as exact aggregate compositions with DuckDB twins.

Scale notes (100 TB):
- Both operators aggregate the raw stream to a calendar rollup FIRST
  (map-side-combined groupBy to one row per day / month), so every
  ordered or global step downstream runs over calendar-sized input
  (10^3-10^4 rows regardless of event volume) — the same
  post-reduction-window discipline as timeseries_lag_corr.
- The anomaly thresholds (global mean/std of daily counts) come from a
  one-row aggregate broadcast back over the daily rollup, never from a
  whole-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load

# Flag a day when |n - mean| > Z_THRESHOLD * std of daily counts.
Z_THRESHOLD = 2.0

_ANOMALY_DAYS_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1
),
g AS (SELECT AVG(n) AS mu, stddev_samp(n) AS sigma FROM daily)
SELECT d.day,
       CAST(d.n AS BIGINT) AS n,
       round((d.n - g.mu) / g.sigma, 4) AS z,
       abs(d.n - g.mu) > {Z_THRESHOLD} * g.sigma AS is_anomaly
FROM daily d CROSS JOIN g
ORDER BY d.day
"""


@register("events_anomaly_days", "G", oracle=_ANOMALY_DAYS_ORACLE,
          doc=f"Daily-volume anomaly screen: z-score of each day's event "
              f"count against the global mean/std, flagged beyond "
              f"{Z_THRESHOLD}σ — the ingestion-volume alarm that catches "
              "a dropped or doubled feed")
def events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events collapse to one row per day in a single partial-aggregated
    pass; mean/std are a one-row broadcast cross join over that rollup.
    No window anywhere — at 100 TB the whole check costs one scan plus
    a days-sized shuffle."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    g = daily.agg(F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma"))
    return (
        daily.crossJoin(F.broadcast(g))
        .select(
            "day",
            F.col("n").cast("long").alias("n"),
            F.round((F.col("n") - F.col("mu")) / F.col("sigma"), 4).alias("z"),
            (F.abs(F.col("n") - F.col("mu")) > Z_THRESHOLD * F.col("sigma")).alias(
                "is_anomaly"
            ),
        )
        .orderBy("day")
    )


# Seasonal period in months: forecast(m) = actual(m - 12).
SEASON_LAG = 12

_FORECAST_ORACLE = f"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         SUM(o_totalprice) AS revenue
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
f AS (
  SELECT month, revenue,
         lag(revenue, {SEASON_LAG}) OVER (ORDER BY month NULLS FIRST) AS forecast
  FROM monthly
)
SELECT month,
       round(revenue, 2) AS revenue,
       round(forecast, 2) AS forecast,
       round(abs(revenue - forecast) / revenue, 6) AS ape
FROM f WHERE forecast IS NOT NULL
ORDER BY month
"""


@register("timeseries_forecast_naive", "G", oracle=_FORECAST_ORACLE,
          doc=f"Seasonal-naive forecast backtest: each month's revenue "
              f"predicted by the same month one year back (lag "
              f"{SEASON_LAG} over the monthly rollup), absolute "
              "percentage error per month — the baseline every fancier "
              "forecaster must beat")
def timeseries_forecast_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lag-12 window runs over the *monthly rollup* (one row per
    month — calendar-sized however big orders is), an explicitly
    documented post-reduction single-partition step, same as
    timeseries_lag_corr. The expensive part — raw orders to monthly —
    is one map-side-combined aggregate.

    NULL-timestamp rows are excluded from the time-grain rollup
    BEFORE any ordered step, identically on both engines (pinned
    rule): a NULL sort key anywhere downstream is evaluated
    nondeterministically by DuckDB 1.0 even under explicit NULLS
    FIRST/LAST (reproduced ~2-13%% per run on the edge corpus) —
    see tests/test_degenerate.py (oracle stability, NULL-day lint).
    """
    monthly = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    w = Window.orderBy("month")
    f = monthly.select(
        "month", "revenue", F.lag("revenue", SEASON_LAG).over(w).alias("forecast")
    )
    return (
        f.where(F.col("forecast").isNotNull())
        .select(
            "month",
            F.round("revenue", 2).alias("revenue"),
            F.round("forecast", 2).alias("forecast"),
            F.round(F.abs(F.col("revenue") - F.col("forecast")) / F.col("revenue"), 6).alias("ape"),
        )
        .orderBy("month")
    )


# Bot heuristics: flag users whose event stream is implausibly regular
# (coefficient of variation of inter-arrival gaps below CV_BOT) or
# implausibly fast (rate above RATE_BOT events/hour), with MIN_EVENTS
# events minimum so singletons can't trip either flag.
CV_BOT = 0.3
RATE_BOT = 2.0
MIN_EVENTS = 10

_BOT_ORACLE = f"""
WITH gaps AS (
  SELECT user_id, ts,
         date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST),
                   ts) AS gap_us
  FROM events
),
per_user AS (
  SELECT user_id,
         COUNT(*) AS n_events,
         date_diff('microsecond', MIN(ts), MAX(ts)) / 3600e6 AS span_hours,
         AVG(gap_us) AS gap_mean,
         stddev_samp(gap_us) AS gap_std
  FROM gaps GROUP BY user_id
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       round(n_events / span_hours, 4) AS rate_per_hour,
       round(gap_std / gap_mean, 6) AS gap_cv,
       n_events >= {MIN_EVENTS} AND gap_std / gap_mean < {CV_BOT} AS flag_regular,
       n_events >= {MIN_EVENTS} AND n_events / span_hours > {RATE_BOT} AS flag_rate
FROM per_user
WHERE n_events >= 2
"""


@register("events_bot_detection", "X", oracle=_BOT_ORACLE,
          doc="Bot/abuse screen for training-data curation: per-user "
              "event-rate and inter-arrival regularity (gap coefficient "
              "of variation), with metronome-regular or high-rate "
              "accounts flagged — machine traffic poisons both analytics "
              "and training corpora")
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One lag window per user for the gaps, then a single per-user
    aggregate — the same two-step shape as orders_interpurchase. Human
    traffic has bursty gaps (CV near or above 1); scripted traffic is
    metronomic (CV near 0) or flood-fast, which is exactly what the two
    flags separate. All thresholds are integer/ratio comparisons on
    rounded columns, so the verdicts are cross-engine stable."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id", "ts",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    )
    per_user = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 3.6e9).alias(
            "span_hours"
        ),
        F.avg("gap_us").alias("gap_mean"),
        F.stddev_samp("gap_us").alias("gap_std"),
    )
    cv = F.col("gap_std") / F.col("gap_mean")
    rate = F.col("n_events") / F.col("span_hours")
    return per_user.where(F.col("n_events") >= 2).select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(rate, 4).alias("rate_per_hour"),
        F.round(cv, 6).alias("gap_cv"),
        ((F.col("n_events") >= MIN_EVENTS) & (cv < CV_BOT)).alias("flag_regular"),
        ((F.col("n_events") >= MIN_EVENTS) & (rate > RATE_BOT)).alias("flag_rate"),
    )


_CUSUM_ORACLE = """
WITH RECURSIVE d0 AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
daily AS (
  SELECT day, n, row_number() OVER (ORDER BY day NULLS FIRST) AS rn FROM d0
),
mu AS (SELECT AVG(n) AS mu, COUNT(*) AS n_days FROM daily),
c AS (
  SELECT d.rn, d.day, GREATEST(0, d.n - m.mu) AS s
  FROM daily d, mu m WHERE d.rn = 1
  UNION ALL
  SELECT d.rn, d.day, GREATEST(0, c.s + d.n - m.mu) AS s
  FROM c JOIN daily d ON d.rn = c.rn + 1, mu m
),
peak AS (SELECT day, s FROM c ORDER BY s DESC NULLS LAST, day ASC NULLS FIRST LIMIT 1)
SELECT CAST(m.n_days AS BIGINT) AS n_days,
       round(m.mu, 4) AS mu,
       round(p.s, 4) AS max_cusum,
       p.day AS peak_day
FROM mu m CROSS JOIN peak p
"""


@register("timeseries_cusum_drift", "X", oracle=_CUSUM_ORACLE,
          doc="One-sided CUSUM change detection on daily event volume: "
              "clamped cumulative deviation from the mean (a true "
              "recursive fold, like timeseries_ewma), reporting the peak "
              "statistic and the day it peaks — the classic drift alarm "
              "a rate threshold misses")
def timeseries_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM's clamp (max(0, prev + x - mu)) makes every value depend on
    the whole prefix — not frame-expressible, so it is an ordered fold
    over the daily rollup (calendar-sized: the collect_list holds days,
    never events — same contract as timeseries_ewma). The oracle runs
    the identical recurrence as a recursive CTE; the argmax tie rule
    (earliest day) is pinned on both sides.

    NULL-timestamp rows are excluded from the time-grain rollup
    BEFORE any ordered step, identically on both engines (pinned
    rule): a NULL sort key anywhere downstream is evaluated
    nondeterministically by DuckDB 1.0 even under explicit NULLS
    FIRST/LAST (reproduced ~2-13%% per run on the edge corpus) —
    see tests/test_degenerate.py (oracle stability, NULL-day lint).
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.where(F.col("ts").isNotNull()).groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    series = daily.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("day"), F.col("n").cast("double").alias("n")))
        ).alias("pts")
    ).select(
        "pts",
        F.size("pts").cast("long").alias("n_days"),
        F.try_divide(
            F.aggregate(F.col("pts"), F.lit(0.0), lambda acc, p: acc + p["n"]),
            F.size("pts"),
        ).alias("mu"),
        # empty series: the global agg still yields one (empty-array) row,
        # but the oracle's recursive CTE yields none — drop it to match
    ).where(F.size("pts") > 0)
    init = F.struct(
        F.lit(0.0).alias("s"),
        F.lit(-1.0).alias("best_s"),
        F.lit(None).cast("date").alias("best_day"),
    )

    def step(acc, p):
        s = F.greatest(F.lit(0.0), acc["s"] + p["n"] - F.col("mu"))
        better = s > acc["best_s"]
        return F.struct(
            s.alias("s"),
            F.when(better, s).otherwise(acc["best_s"]).alias("best_s"),
            F.when(better, p["day"]).otherwise(acc["best_day"]).alias("best_day"),
        )

    # the fold must run in a select where "mu" still names the UNROUNDED
    # column: Spark resolves lateral column aliases within a select list,
    # so rounding mu under the same name first would feed the rounded
    # value into the recurrence (0.00003/step of drift vs the oracle)
    folded = series.select(
        "n_days",
        "mu",
        F.aggregate(F.col("pts"), init, step).alias("acc"),
    )
    return folded.select(
        "n_days", F.round("mu", 4).alias("mu"),
        F.round(F.col("acc.best_s"), 4).alias("max_cusum"),
        F.col("acc.best_day").alias("peak_day"),
    )


_MONOTONIC_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY event_id NULLS FIRST) AS prev_ts
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END) AS BIGINT)
         AS n_inversions,
       SUM(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END) = 0 AS is_ordered
FROM seq GROUP BY user_id
"""


@register("events_order_audit", "G", oracle=_MONOTONIC_ORACLE,
          doc="Ingestion-order audit: per user, count positions where "
              "event_id order and event-time order disagree (ts < "
              "previous ts) — the out-of-order/backfill detector run "
              "before trusting any sequential analysis")
def events_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization, funnels, as-of joins and EWMA all assume id order
    ≈ time order; this audit measures where that breaks (late arrivals,
    clock skew, backfills) so the watermark delay has evidence behind
    it. One lag window per user then a per-user aggregate — the
    orders_interpurchase shape."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = ev.select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    inv = F.sum(F.when(F.col("ts") < F.col("prev_ts"), 1).otherwise(0))
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        inv.cast("long").alias("n_inversions"),
        (inv == 0).alias("is_ordered"),
    )


# SLO: at most this fraction of events may be errors over the window.
SLO_ERROR_FRAC = 0.25

_SLO_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
cum AS (
  SELECT day, n, n_err,
         SUM(n) OVER (ORDER BY day NULLS FIRST
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         SUM(n_err) OVER (ORDER BY day NULLS FIRST
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_err
  FROM daily
)
SELECT day,
       CAST(n_err AS BIGINT) AS n_err,
       CAST(n AS BIGINT) AS n,
       round(CAST(cum_err AS DOUBLE) / cum_n, 6) AS cum_error_rate,
       round(cum_err / ({SLO_ERROR_FRAC} * cum_n), 6) AS budget_burned,
       cum_err > {SLO_ERROR_FRAC} * cum_n AS budget_exceeded
FROM cum
ORDER BY day
"""


@register("events_error_budget_slo", "G", oracle=_SLO_ORACLE,
          doc=f"SLO error-budget burn-down: daily error share and "
              f"cumulative budget consumption against a "
              f"{SLO_ERROR_FRAC:.0%} error-rate objective, with the "
              "exceeded flag per day — the SRE view of the event stream")
def events_error_budget_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw events reduce to one row per day before the cumulative
    windows (the post-reduction rule); the budget comparison is kept in
    integer-vs-scaled-integer form (cum_err > frac*cum_n) so the flag
    cannot flip on float noise cross-engine.

    NULL-timestamp rows are excluded from the time-grain rollup
    BEFORE any ordered step, identically on both engines (pinned
    rule): a NULL sort key anywhere downstream is evaluated
    nondeterministically by DuckDB 1.0 even under explicit NULLS
    FIRST/LAST (reproduced ~2-13%% per run on the edge corpus) —
    see tests/test_degenerate.py (oracle stability, NULL-day lint).
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.where(F.col("ts").isNotNull()).groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_err"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.select(
        "day", "n", "n_err",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n_err").over(w).alias("cum_err"),
    )
    return cum.select(
        "day",
        F.col("n_err").cast("long").alias("n_err"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("cum_err").cast("double") / F.col("cum_n"), 6).alias(
            "cum_error_rate"
        ),
        F.round(F.col("cum_err") / (SLO_ERROR_FRAC * F.col("cum_n")), 6).alias(
            "budget_burned"
        ),
        (F.col("cum_err") > SLO_ERROR_FRAC * F.col("cum_n")).alias("budget_exceeded"),
    ).orderBy("day")


_EXPECTATIONS_ORACLE = """
WITH checks AS (
  SELECT 'orders_custkey_not_null' AS check_name,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
         CAST(COUNT(*) AS BIGINT) AS n_checked
  FROM orders
  UNION ALL
  SELECT 'orders_orderkey_unique',
         CAST(SUM(cnt - 1) AS BIGINT),
         CAST(SUM(cnt) AS BIGINT)
  FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)
  UNION ALL
  SELECT 'orders_totalprice_positive',
         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders_custkey_in_customer',
         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
  UNION ALL
  SELECT 'lineitem_orderkey_in_orders',
         CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
  UNION ALL
  SELECT 'lineitem_discount_in_range',
         CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'orders_status_accepted_values',
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM orders
)
SELECT check_name, n_violations, n_checked, n_violations = 0 AS passed
FROM checks
"""


@register("pipeline_expectations", "G", oracle=_EXPECTATIONS_ORACLE,
          doc="Data-quality expectations battery (dbt-test shape): "
              "not-null, uniqueness, accepted values, value-range, and "
              "two referential-integrity checks across the "
              "orders/customer/lineitem FKs — one report row per check "
              "with violation counts and a pass verdict")
def pipeline_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each expectation compiles to the cheapest plan of its class:
    column checks are conditional aggregates inside ONE scan per table;
    uniqueness is a partial+final groupBy on the key; referential
    integrity is a left join keyed on the FK with the dimension side
    broadcast when small. Violations count rather than fail-fast — at
    100 TB you quarantine and continue, not abort; the `passed` column
    is the gate a pipeline branches on."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")

    def check(name, n_viol, n_checked):
        return F.struct(
            F.lit(name).alias("check_name"),
            n_viol.cast("long").alias("n_violations"),
            n_checked.cast("long").alias("n_checked"),
        )

    o_scalar = orders.agg(
        check(
            "orders_custkey_not_null",
            F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)),
            F.count(F.lit(1)),
        ).alias("c1"),
        check(
            "orders_totalprice_positive",
            F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)),
            F.count(F.lit(1)),
        ).alias("c2"),
        check(
            "orders_status_accepted_values",
            F.sum(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)),
            F.count(F.lit(1)),
        ).alias("c3"),
    )
    uniq = orders.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("cnt")).agg(
        check("orders_orderkey_unique", F.sum(F.col("cnt") - 1), F.sum("cnt")).alias("c")
    )
    ri_cust = (
        orders.join(
            customer.select(F.col("c_custkey"), F.lit(True).alias("dim_hit")),
            orders.o_custkey == F.col("c_custkey"),
            "left",
        ).agg(
            check(
                "orders_custkey_in_customer",
                F.sum(F.when(F.col("dim_hit").isNull(), 1).otherwise(0)),
                F.count(F.lit(1)),
            ).alias("c")
        )
    )
    ri_ord = (
        li.join(
            orders.select(F.col("o_orderkey").alias("ok"), F.lit(True).alias("ord_hit")),
            li.l_orderkey == F.col("ok"),
            "left",
        ).agg(
            check(
                "lineitem_orderkey_in_orders",
                F.sum(F.when(F.col("ord_hit").isNull(), 1).otherwise(0)),
                F.count(F.lit(1)),
            ).alias("c")
        )
    )
    dates = li.agg(
        check(
            "lineitem_discount_in_range",
            F.sum(
                F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
            ),
            F.count(F.lit(1)),
        ).alias("c")
    )
    report = (
        o_scalar.select(F.explode(F.array("c1", "c2", "c3")).alias("c"))
        .unionAll(uniq.select("c"))
        .unionAll(ri_cust.select("c"))
        .unionAll(ri_ord.select("c"))
        .unionAll(dates.select("c"))
    )
    return report.select(
        "c.check_name", "c.n_violations", "c.n_checked",
        (F.col("c.n_violations") == 0).alias("passed"),
    )


_PLAN_REPORT_QUERIES = (
    "wordcount", "sql_tpch_q5", "dedup_exact", "join_broadcast",
    "sim_topk", "dedup_ngram_jaccard", "agg_basic", "filter_pred",
)


@register("meta_plan_report", "G", oracle=None, bench=False,
          doc="Plan-introspection surface: physical-plan properties "
              "(broadcast vs sort-merge joins, exchange and partial-"
              "aggregate counts, top-k, cartesian, Python-UDF presence) "
              "for eight flagship queries, as a queryable report — the "
              "engine's plan discipline made self-auditable. Rows-only "
              "(plans are engine-specific by nature)")
def meta_plan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a fleet health-check runs nightly: re-derive every flagship
    plan and diff its scale-critical properties against the expected
    shape, catching silent regressions (a lost broadcast after a stats
    change, a new exchange after a refactor) before they cost a cluster-
    day. Reads the same plan tree as tests/test_plans.py, so the pinned
    properties and the reported ones cannot drift apart; each operator
    is counted once."""
    from toy_map_reduce_spark.plans import plan_properties, plan_tree
    from toy_map_reduce_spark.registry import get_spec

    rows = []
    for name in _PLAN_REPORT_QUERIES:
        p = plan_properties(plan_tree(get_spec(name).builder(spark, sf_dir)))
        rows.append(
            (
                name,
                bool(p["broadcast_join"]),
                bool(p["sort_merge_join"]),
                bool(p["topk"]),
                int(p["exchanges"]),
                int(p["hash_aggregates"]),
                bool(p["has_cartesian"]),
                bool(p["python_udf"]),
            )
        )
    return spark.createDataFrame(
        rows,
        "query string, broadcast_join boolean, sort_merge_join boolean, "
        "topk boolean, n_exchanges int, n_hash_aggregates int, "
        "has_cartesian boolean, python_udf boolean",
    )


_OBSERVE_ORACLE = """
SELECT 'lineitem_scan' AS observation,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       round(SUM(l_extendedprice), 2) AS sum_price,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_discounted
FROM lineitem WHERE l_shipdate >= '1996-01-01'
"""


@register("meta_observe_metrics", "G", oracle=_OBSERVE_ORACLE,
          doc="Spark Observation API surface: named metrics (row count, "
              "price sum, discount-rate numerator) collected DURING a "
              "filtered scan via df.observe() — zero extra passes, the "
              "instrumentation hook a pipeline uses to emit data-volume "
              "metrics without re-reading its inputs")
def meta_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """observe() attaches accumulator-backed metrics to a plan node: the
    metrics materialize as a side effect of whatever action runs the
    frame, so auditing costs nothing beyond the pass the pipeline
    already makes — contrast pipeline_expectations, which pays one
    dedicated scan per table. The observed values are returned as a
    one-row frame; the oracle recomputes them relationally, pinning
    that the instrumented numbers equal the ground truth."""
    from pyspark.sql import Observation

    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") >= "1996-01-01")
    obs = Observation("lineitem_scan")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("n_discounted"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the pipeline's own action
    m = obs.get
    # zero matching rows: SUM observes NULL — propagate instead of float(None)
    price = float(m["sum_price"]) if m["sum_price"] is not None else None
    return spark.createDataFrame(
        [("lineitem_scan", m["n_rows"], price, m["n_discounted"])],
        "observation string, n_rows long, sum_price double, n_discounted long",
    )


_LATEST_ANOMALY_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
mx AS (SELECT MAX(day) AS latest FROM daily),
base AS (
  SELECT d.event_type,
         AVG(d.n) AS mu, stddev_samp(d.n) AS sigma, COUNT(*) AS n_days
  FROM daily d CROSS JOIN mx WHERE d.day < mx.latest
  GROUP BY d.event_type
)
SELECT b.event_type,
       CAST(l.n AS BIGINT) AS latest_count,
       round(b.mu, 4) AS baseline_mean,
       round((l.n - b.mu) / b.sigma, 6) AS z,
       abs((l.n - b.mu) / b.sigma) > 3 AS anomalous
FROM base b
JOIN daily l ON l.event_type = b.event_type
CROSS JOIN mx
WHERE l.day = mx.latest AND b.sigma > 0
"""


@register("timeseries_latest_anomaly", "G", oracle=_LATEST_ANOMALY_ORACLE,
          doc="Freshest-day anomaly screen: the latest day's volume per "
              "event type z-scored against the trailing baseline "
              "(baseline EXCLUDES the day under test — including it "
              "shrinks z and masks the very spike being tested), |z| > 3 "
              "flagged — the daily canary a monitoring pipeline pages on")
def timeseries_latest_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exclusion rule is the statistically load-bearing part: a
    10× spike folded into its own baseline inflates sigma and deflates
    its z — classic self-masking. Mechanically: one daily rollup, one
    broadcast latest-day scalar, baseline stats from the strict-past
    slice, and the verdict compares the UNROUNDED statistic (same rule
    as events_ab_srm)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    mx = daily.agg(F.max("day").alias("latest"))
    tagged = daily.crossJoin(F.broadcast(mx))
    base = (
        tagged.where(F.col("day") < F.col("latest"))
        .groupBy("event_type")
        .agg(F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma"))
    )
    latest = tagged.where(F.col("day") == F.col("latest")).select(
        "event_type", F.col("n").alias("latest_count")
    )
    z = (F.col("latest_count") - F.col("mu")) / F.col("sigma")
    return (
        base.join(latest, "event_type")
        .where(F.col("sigma") > 0)
        .select(
            "event_type",
            F.col("latest_count").cast("long").alias("latest_count"),
            F.round("mu", 4).alias("baseline_mean"),
            F.round(z, 6).alias("z"),
            (F.abs(z) > 3).alias("anomalous"),
        )
    )


FRESHNESS_STALE_DAYS = 3

_FRESHNESS_ORACLE = f"""
WITH per_type AS (
  SELECT event_type, MAX(CAST(date_trunc('day', ts) AS DATE)) AS last_day,
         COUNT(*) AS n_events
  FROM events GROUP BY event_type
),
mx AS (SELECT MAX(last_day) AS corpus_max FROM per_type)
SELECT p.event_type, p.last_day,
       CAST(p.n_events AS BIGINT) AS n_events,
       CAST(date_diff('day', p.last_day, mx.corpus_max) AS INTEGER) AS lag_days,
       date_diff('day', p.last_day, mx.corpus_max) > {FRESHNESS_STALE_DAYS}
         AS stale
FROM per_type p CROSS JOIN mx
"""


@register("monitoring_freshness", "G", oracle=_FRESHNESS_ORACLE,
          doc=f"Feed-freshness report: each event type's last-seen day "
              f"lagged against the corpus high-water mark, stale flag at "
              f"> {FRESHNESS_STALE_DAYS} days — the silent-feed detector; "
              "the reference point is the data's own max (deterministic), "
              "not wall-clock now()")
def monitoring_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness against the corpus's own high-water mark rather than
    now() keeps the report reproducible (rerun tomorrow, same answer
    for the same data) and catches the real failure — one feed lagging
    the others — without paging on a globally quiet day. One partial-
    aggregated max per type plus a broadcast scalar."""
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.max(F.date_trunc("day", "ts").cast("date")).alias("last_day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    mx = per_type.agg(F.max("last_day").alias("corpus_max"))
    lag = F.datediff("corpus_max", "last_day")
    return per_type.crossJoin(F.broadcast(mx)).select(
        "event_type",
        "last_day",
        F.col("n_events").cast("long").alias("n_events"),
        lag.cast("int").alias("lag_days"),
        (lag > FRESHNESS_STALE_DAYS).alias("stale"),
    )


@register("meta_registry_report", "G", oracle=None, bench=False,
          doc="The operator registry as a query: per-tier counts with "
              "oracle-backed and bench-eligible splits — the engine's "
              "coverage contract (SURVEY.md §2.E) made self-describing. "
              "Rows-only (the registry is engine-side state); counts "
              "pinned against the registry in pytest")
def meta_registry_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complements meta_plan_report (plan discipline) with coverage
    discipline: a monitoring job diffs this against yesterday's to catch
    accidental deregistration, and the per-tier oracle share is the
    correctness-surface metric the parity gate enforces."""
    from toy_map_reduce_spark.registry import all_specs

    tiers = {}
    for spec in all_specs().values():
        t = tiers.setdefault(spec.tier, [0, 0, 0])
        t[0] += 1
        t[1] += 1 if spec.oracle else 0
        t[2] += 1 if spec.bench else 0
    rows = [
        (tier, n, oracled, benched)
        for tier, (n, oracled, benched) in sorted(tiers.items())
    ]
    return spark.createDataFrame(
        rows, "tier string, n_queries long, n_oracle_backed long, n_bench_eligible long"
    )


_JOIN_KEY_SKEW_ORACLE = """
WITH ok AS (
  SELECT 'orders.o_custkey' AS key_name, COUNT(*) AS freq
  FROM orders GROUP BY o_custkey
  UNION ALL
  SELECT 'lineitem.l_orderkey', COUNT(*) FROM lineitem GROUP BY l_orderkey
  UNION ALL
  SELECT 'lineitem.l_partkey', COUNT(*) FROM lineitem GROUP BY l_partkey
),
s AS (
  SELECT key_name,
         COUNT(*) AS n_keys,
         SUM(freq) AS n_rows,
         MAX(freq) AS max_freq,
         AVG(freq) AS mean_freq,
         quantile_cont(freq, 0.99) AS p99_freq
  FROM ok GROUP BY key_name
)
SELECT key_name,
       CAST(n_keys AS BIGINT) AS n_keys,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(max_freq AS BIGINT) AS max_freq,
       round(max_freq / mean_freq, 4) AS skew_factor,
       round(p99_freq / mean_freq, 4) AS p99_over_mean
FROM s
"""


@register("profile_join_keys", "G", oracle=_JOIN_KEY_SKEW_ORACLE,
          doc="Join-key skew diagnostic: per key column, the hottest key's "
              "frequency over the mean (the straggler-task multiplier a "
              "plain hash join would suffer) and the p99/mean ratio — the "
              "measurement that decides between plain join, AQE skew "
              "split, and explicit salting (join_skew_salted)")
def profile_join_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skew_factor IS the worst-case task imbalance of a hash join on
    that key: a factor of 40 means the hot key's task runs 40× the
    average. Each key profiles in one partial-aggregated count (the
    profiling is immune to the skew it measures — a hot key is one
    combiner row per task); the union is three dimension-sized stat
    rows. Run this BEFORE the join, not after the straggler."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")

    def prof(df, col, name):
        freq = df.groupBy(col).agg(F.count(F.lit(1)).alias("freq"))
        return freq.agg(
            F.lit(name).alias("key_name"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("freq").cast("long").alias("n_rows"),
            F.max("freq").cast("long").alias("max_freq"),
            F.round(F.max("freq") / F.avg("freq"), 4).alias("skew_factor"),
            F.round(F.percentile("freq", 0.99) / F.avg("freq"), 4).alias("p99_over_mean"),
        )
    return (
        prof(o, "o_custkey", "orders.o_custkey")
        .unionByName(prof(li, "l_orderkey", "lineitem.l_orderkey"))
        .unionByName(prof(li, "l_partkey", "lineitem.l_partkey"))
        # a zero-row table has no key profile: the oracle's GROUP BY
        # key_name emits nothing there, while a global agg always emits
        # its one row — drop the empty-table scaffold rows to match
        .where(F.col("n_keys") > 0)
    )
