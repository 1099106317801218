"""Time-series operators (G/X tier) over the events stream table:
gap-filled per-minute resampling and hypertable-style multi-resolution
rollups — the continuous-aggregate shapes a telemetry/feature pipeline
needs.

Scale notes: gap-fill generates the dense minute spine with ``sequence``
+ ``explode`` per group (spine size = time-range/step, independent of event
count) and left-joins events onto it — one shuffle on the group key. The
multi-resolution rollup computes the finest grain once, then re-aggregates
coarser grains FROM the finer one (minute → hour → day), so the raw table
is scanned exactly once regardless of how many resolutions are served.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load


_GAPFILL_ORACLE = """
WITH bounds AS (
  SELECT event_type,
         date_trunc('hour', MIN(ts)) AS t0,
         date_trunc('hour', MAX(ts)) AS t1
  FROM events GROUP BY event_type
),
spine AS (
  SELECT b.event_type, s.minute_start
  FROM bounds b,
       LATERAL (SELECT unnest(generate_series(b.t0, b.t1, INTERVAL 1 MINUTE)) AS minute_start) s
),
actual AS (
  SELECT event_type, date_trunc('minute', ts) AS minute_start,
         CAST(COUNT(*) AS BIGINT) AS cnt, round(SUM(value), 2) AS sum_value
  FROM events GROUP BY 1, 2
)
SELECT sp.event_type, sp.minute_start,
       COALESCE(a.cnt, 0) AS cnt,
       COALESCE(a.sum_value, 0.0) AS sum_value
FROM spine sp
LEFT JOIN actual a
  ON a.event_type = sp.event_type AND a.minute_start = sp.minute_start
"""


@register("timeseries_gapfill", "X", oracle=_GAPFILL_ORACLE,
          doc="Dense per-minute resample with gap filling: sequence+explode "
              "spine per event_type, left join of actual minute aggregates, "
              "zero-fill for empty minutes")
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 MINUTE"))
        ).alias("minute_start"),
    )
    actual = (
        ev.groupBy("event_type", F.date_trunc("minute", "ts").alias("minute_start"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    return (
        spine.join(actual, ["event_type", "minute_start"], "left")
        .select(
            "event_type",
            "minute_start",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


_ROLLUP_MULTI_ORACLE = """
WITH minute AS (
  SELECT event_type, date_trunc('minute', ts) AS bucket,
         COUNT(*) AS cnt, SUM(value) AS sv
  FROM events GROUP BY 1, 2
),
hour AS (
  SELECT event_type, date_trunc('hour', bucket) AS bucket, SUM(cnt) AS cnt, SUM(sv) AS sv
  FROM minute GROUP BY 1, 2
),
day AS (
  SELECT event_type, date_trunc('day', bucket) AS bucket, SUM(cnt) AS cnt, SUM(sv) AS sv
  FROM hour GROUP BY 1, 2
)
SELECT 'minute' AS grain, event_type, bucket, CAST(cnt AS BIGINT) AS cnt, round(sv, 2) AS sum_value FROM minute
UNION ALL
SELECT 'hour', event_type, bucket, CAST(cnt AS BIGINT), round(sv, 2) FROM hour
UNION ALL
SELECT 'day', event_type, bucket, CAST(cnt AS BIGINT), round(sv, 2) FROM day
"""


@register("timeseries_rollup_multi", "X", oracle=_ROLLUP_MULTI_ORACLE,
          doc="Hypertable-style multi-resolution rollup: minute grain computed "
              "from raw once, hour re-aggregated from minute, day from hour — "
              "single raw scan for all resolutions")
def timeseries_rollup_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    minute = (
        ev.groupBy("event_type", F.date_trunc("minute", "ts").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"))
    )
    hour = (
        minute.groupBy("event_type", F.date_trunc("hour", "bucket").alias("bucket"))
        .agg(F.sum("cnt").alias("cnt"), F.sum("sv").alias("sv"))
    )
    day = (
        hour.groupBy("event_type", F.date_trunc("day", "bucket").alias("bucket"))
        .agg(F.sum("cnt").alias("cnt"), F.sum("sv").alias("sv"))
    )

    def shape(df, grain):
        return df.select(
            F.lit(grain).alias("grain"),
            "event_type",
            "bucket",
            F.col("cnt").cast("long").alias("cnt"),
            F.round("sv", 2).alias("sum_value"),
        )

    return shape(minute, "minute").unionByName(shape(hour, "hour")).unionByName(
        shape(day, "day")
    )


_INTERPOLATE_ORACLE = """
WITH bounds AS (
  SELECT event_type,
         date_trunc('hour', MIN(ts)) AS t0,
         date_trunc('hour', MAX(ts)) AS t1
  FROM events GROUP BY event_type
),
spine AS (
  SELECT b.event_type, s.minute_start
  FROM bounds b,
       LATERAL (SELECT unnest(generate_series(b.t0, b.t1, INTERVAL 1 MINUTE)) AS minute_start) s
),
actual AS (
  SELECT event_type, date_trunc('minute', ts) AS minute_start,
         round(AVG(value), 6) AS val
  FROM events GROUP BY 1, 2
),
joined AS (
  SELECT sp.event_type, sp.minute_start, a.val,
         CASE WHEN a.val IS NOT NULL THEN sp.minute_start END AS obs_ts
  FROM spine sp
  LEFT JOIN actual a
    ON a.event_type = sp.event_type AND a.minute_start = sp.minute_start
),
bracketed AS (
  -- both brackets as RUNNING frames (the backward one over DESC order):
  -- unbounded-following frames are re-evaluated per row by some engines
  SELECT event_type, minute_start, val,
         last_value(val IGNORE NULLS) OVER w_prev AS prev_val,
         last_value(obs_ts IGNORE NULLS) OVER w_prev AS prev_ts,
         last_value(val IGNORE NULLS) OVER w_next AS next_val,
         last_value(obs_ts IGNORE NULLS) OVER w_next AS next_ts
  FROM joined
  WINDOW w_prev AS (PARTITION BY event_type ORDER BY minute_start ASC NULLS FIRST
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w_next AS (PARTITION BY event_type ORDER BY minute_start DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, minute_start,
       -- floor(x*1e6 + 0.5) micro-int output: every input double is
       -- bit-identical across engines (6dp-rounded avgs, integral epoch
       -- deltas), so the IEEE expression chain is too — unlike round(x, 6),
       -- whose halfway handling differs between engines
       CAST(floor(COALESCE(
         CASE WHEN val IS NOT NULL THEN val
              WHEN prev_val IS NOT NULL AND next_val IS NOT NULL THEN
                -- parenthesization matters: diff * (dt1/dt2) must match the
                -- Spark expression's association or last-ulp rounding diverges
                prev_val + (next_val - prev_val)
                  * ((epoch(minute_start) - epoch(prev_ts))
                     / (epoch(next_ts) - epoch(prev_ts)))
         END, prev_val, next_val) * 1000000 + 0.5) AS BIGINT) AS val_interp_micro,
       val IS NULL AS was_gap
FROM bracketed
"""


@register("timeseries_interpolate", "X", oracle=_INTERPOLATE_ORACLE,
          doc="Linear-interpolation gap fill: dense minute spine, missing "
              "minutes interpolated between bracketing observations "
              "(last/first IGNORE NULLS windows), edge gaps extended flat")
def timeseries_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both brackets are RUNNING window frames — the backward-looking one
    directly, the forward-looking one as a running frame over DESC order.
    Never use a (currentRow, unboundedFollowing) frame for this: Spark's
    UnboundedFollowingWindowFunctionFrame re-evaluates the aggregate from
    scratch per row, turning a 200k-row spine into minutes of O(n²) work;
    the DESC running frame is the O(n) formulation. Spine size is
    time-range/step per key, independent of event count."""
    pass  # Window imported at module level

    ev = load(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 1 MINUTE"))).alias("minute_start"),
    )
    actual = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("minute_start")
    ).agg(F.round(F.avg("value"), 6).alias("val"))

    joined = spine.join(actual, ["event_type", "minute_start"], "left").withColumn(
        "obs_ts", F.when(F.col("val").isNotNull(), F.col("minute_start"))
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("minute_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy(F.col("minute_start").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = joined.select(
        "event_type",
        "minute_start",
        "val",
        F.last("val", ignorenulls=True).over(w_prev).alias("prev_val"),
        F.last("obs_ts", ignorenulls=True).over(w_prev).alias("prev_ts"),
        F.last("val", ignorenulls=True).over(w_next).alias("next_val"),
        F.last("obs_ts", ignorenulls=True).over(w_next).alias("next_ts"),
    )
    frac = (
        (F.unix_timestamp("minute_start") - F.unix_timestamp("prev_ts")).cast("double")
        / (F.unix_timestamp("next_ts") - F.unix_timestamp("prev_ts")).cast("double")
    )
    interp = F.when(F.col("val").isNotNull(), F.col("val")).when(
        F.col("prev_val").isNotNull() & F.col("next_val").isNotNull(),
        F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * frac,
    )
    return b.select(
        "event_type",
        "minute_start",
        # micro-int output via floor(x*1e6+0.5): bit-deterministic across
        # engines, unlike round(x, 6) halfway handling (see oracle comment)
        F.floor(F.coalesce(interp, "prev_val", "next_val") * 1000000 + 0.5)
        .cast("bigint")
        .alias("val_interp_micro"),
        F.col("val").isNull().alias("was_gap"),
    )


_OHLC_ORACLE = """
WITH pts AS (
  SELECT event_type,
         date_trunc('day', ts) AS day,
         date_trunc('second', ts) AS ts_sec,
         event_id,
         round(value, 2) AS v,
         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                            ORDER BY date_trunc('second', ts) NULLS FIRST, event_id NULLS FIRST) AS rn_asc,
         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                            ORDER BY date_trunc('second', ts) DESC NULLS LAST, event_id DESC NULLS LAST) AS rn_desc
  FROM events
)
SELECT event_type, day,
       MAX(CASE WHEN rn_asc = 1 THEN v END) AS open,
       MAX(v) AS high,
       MIN(v) AS low,
       MAX(CASE WHEN rn_desc = 1 THEN v END) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_points
FROM pts
GROUP BY event_type, day
"""


@register("timeseries_ohlc", "X", oracle=_OHLC_ORACLE,
          doc="OHLC candlestick downsample: per (event_type, day) open/"
              "high/low/close via first/last-by-time with a deterministic "
              "(ts, event_id) tiebreak — the market-data / metrics "
              "downsampling shape")
def timeseries_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One window pass ordered by (ts_sec, event_id) — the tiebreak makes
    open/close well-defined when two points share a second, which a bare
    min_by/max_by on the timestamp would leave engine-dependent — then
    one aggregate. Both steps partition by (event_type, day): one shuffle,
    bounded state, and the per-partition ordering cost is the sort a
    time-series table is usually already clustered by."""
    pass  # Window imported at module level

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("second", F.col("ts")).alias("ts_sec"),
        "event_id",
        F.round("value", 2).alias("v"),
    )
    w_asc = Window.partitionBy("event_type", "day").orderBy("ts_sec", "event_id")
    w_desc = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts_sec").desc(), F.col("event_id").desc()
    )
    pts = ev.select(
        "event_type", "day", "v",
        F.row_number().over(w_asc).alias("rn_asc"),
        F.row_number().over(w_desc).alias("rn_desc"),
    )
    return pts.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rn_asc") == 1, F.col("v"))).alias("open"),
        F.max("v").alias("high"),
        F.min("v").alias("low"),
        F.max(F.when(F.col("rn_desc") == 1, F.col("v"))).alias("close"),
        F.count(F.lit(1)).alias("n_points"),
    )


EWMA_ALPHA = 0.2

_EWMA_ORACLE = f"""
WITH pts AS (
  SELECT event_type, date_trunc('second', ts) AS ts_sec, event_id,
         round(value, 2) AS v
  FROM events
),
series AS (
  SELECT event_type,
         list(v ORDER BY ts_sec, event_id) AS vs
  FROM pts GROUP BY event_type
)
SELECT event_type,
       CAST(len(vs) AS BIGINT) AS n_points,
       round(list_reduce(vs, (acc, x) -> {EWMA_ALPHA} * x + {1 - EWMA_ALPHA} * acc), 6)
         AS ewma
FROM series
"""


@register("timeseries_ewma", "X", oracle=_EWMA_ORACLE,
          doc="Exponentially weighted moving average per series: a true "
              "recursive stateful fold (ewma = αx + (1−α)·prev, seeded "
              "with the first point) over the time-ordered value list — "
              "the operator class window frames cannot express")
def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA's recurrence makes every output depend on the full prefix, so
    it is NOT a frame-expressible window function; the exact formulation
    is an ordered left fold, here sort_array(collect_list) + aggregate
    with the first element as the seed — identical associativity order
    to DuckDB's list_reduce, so the doubles match bit-for-bit before
    rounding. Scale contract: one shuffle on the series key and the
    SERIES history must fit one task (true of per-entity telemetry; an
    unbounded stream runs the same recurrence incrementally in
    stream_stateful_custom's applyInPandasWithState shape instead)."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.struct(
            F.date_trunc("second", F.col("ts")).alias("ts_sec"),
            F.col("event_id").alias("event_id"),
            F.round("value", 2).alias("v"),
        ).alias("p"),
    )
    series = pts.groupBy("event_type").agg(
        F.transform(F.sort_array(F.collect_list("p")), lambda s: s["v"]).alias("vs")
    )
    a = EWMA_ALPHA
    return series.select(
        "event_type",
        F.size("vs").cast("bigint").alias("n_points"),
        F.round(
            F.aggregate(
                F.slice(F.col("vs"), 2, F.size("vs") - 1),
                F.element_at(F.col("vs"), 1),
                lambda acc, x: a * x + (1 - a) * acc,
            ),
            6,
        ).alias("ewma"),
    )


_PEAKS_ORACLE = """
WITH pts AS (
  SELECT event_type, date_trunc('second', ts) AS ts_sec, event_id,
         round(value, 2) AS v
  FROM events
),
nbr AS (
  SELECT event_type, ts_sec, v,
         lag(v)  OVER (PARTITION BY event_type ORDER BY ts_sec NULLS FIRST, event_id NULLS FIRST) AS prev_v,
         lead(v) OVER (PARTITION BY event_type ORDER BY ts_sec NULLS FIRST, event_id NULLS FIRST) AS next_v
  FROM pts
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_peaks,
       round(MAX(v), 2) AS max_peak
FROM nbr
WHERE prev_v IS NOT NULL AND next_v IS NOT NULL
  AND v > prev_v AND v > next_v
GROUP BY event_type
"""


@register("timeseries_peaks", "X", oracle=_PEAKS_ORACLE,
          doc="Local-maximum peak detection: strict lag/lead comparison "
              "per series with a deterministic (ts, event_id) order, "
              "per-series peak counts — the alerting primitive over "
              "telemetry streams")
def timeseries_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One window shuffle on the series key computes both neighbors;
    endpoints are excluded (no neighbor = no peak claim). Strict
    inequality on both sides makes plateaus peak-free — the convention
    that keeps the count stable under floating-point-identical
    rounding."""
    pass  # Window imported at module level

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.date_trunc("second", F.col("ts")).alias("ts_sec"),
        "event_id",
        F.round("value", 2).alias("v"),
    )
    w = Window.partitionBy("event_type").orderBy("ts_sec", "event_id")
    nbr = pts.select(
        "event_type",
        "v",
        F.lag("v").over(w).alias("prev_v"),
        F.lead("v").over(w).alias("next_v"),
    )
    peaks = nbr.where(
        F.col("prev_v").isNotNull()
        & F.col("next_v").isNotNull()
        & (F.col("v") > F.col("prev_v"))
        & (F.col("v") > F.col("next_v"))
    )
    return peaks.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_peaks"),
        F.round(F.max("v"), 2).alias("max_peak"),
    )


# The moving stddev is computed from EXACT integer cent sums (r9):
# native stddev_samp uses different accumulation algorithms per engine
# (sub-ulp drift), which flipped round(,6) on one 7-day window at sf0.1
# (PARITY_r9). Here the daily revenue becomes an exact BIGINT in cents,
# the window sums s1=SUM(c) and s2=SUM(c*c) are exact 128-bit integers
# (HUGEINT / DECIMAL(38,0)), and — r10, per the r9 advisor — so is the
# whole variance NUMERATOR n*s2 - s1^2 (>= 0 by Cauchy-Schwarz, so no
# clamp). Exactly ONE int->double conversion remains per row; it is
# sub-ulp (~1e-16 relative) even where the numerator exceeds 2^53 and
# the engines' conversion rounding could differ, and the following
# double ops (two divisions, sqrt) are the identical IEEE expression on
# both engines. Order-independent at any cluster size by construction.
_MOVING_STATS_ORACLE = """
WITH daily AS (
  -- NULL order dates are excluded: they have no day on the window axis,
  -- and ASC NULL placement differs per engine (would shift every frame)
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(round(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) * 100, 0)
              AS BIGINT) AS rev_c
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY day
),
win AS (
  SELECT day, rev_c,
         SUM(CAST(rev_c AS HUGEINT)) OVER w AS s1,
         SUM(CAST(rev_c AS HUGEINT) * rev_c) OVER w AS s2,
         CAST(MIN(rev_c) OVER w AS DOUBLE) AS mn,
         CAST(MAX(rev_c) OVER w AS DOUBLE) AS mx,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_in_window
  FROM daily
  WINDOW w AS (ORDER BY day NULLS FIRST ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day,
       CAST(rev_c AS DOUBLE) / 100 AS rev,
       round(CAST(s1 AS DOUBLE) / 100 / n_in_window, 6) AS mov_avg7,
       round(mn / 100, 2) AS mov_min7,
       round(mx / 100, 2) AS mov_max7,
       round(CASE WHEN n_in_window > 1 THEN
               sqrt(CAST(n_in_window * s2 - s1 * s1 AS DOUBLE)
                    / 10000.0 / (n_in_window * (n_in_window - 1)))
             END, 6) AS mov_std7,
       n_in_window
FROM win
"""


@register("timeseries_moving_stats", "G", oracle=_MOVING_STATS_ORACLE,
          doc="Trailing 7-row moving average/min/max/stddev over the daily "
              "revenue series — the smoothing pass of every ops dashboard, "
              "as one bounded ROWS frame")
def timeseries_moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window runs over the DAILY rollup (days-of-history rows), not
    raw orders — same post-reduction discipline as timeseries_ewma. The
    frame is ROWS-bounded (7), so state per row is O(1). The stddev is
    derived from exact integer cent sums via the shared double formula
    (see _MOVING_STATS_ORACLE note) instead of native stddev_samp, whose
    per-engine accumulation order drifted past the round(,6) boundary at
    sf0.1."""
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderdate").isNotNull())
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(
            F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")) * 100, 0
        ).cast("long").alias("rev_c")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    rc = F.col("rev_c").cast("decimal(18,0)")
    win = daily.select(
        "day", "rev_c",
        # exact integer window sums: decimal(28,0) / decimal(38,0) —
        # Spark's 128-bit stand-in for DuckDB's HUGEINT
        F.sum(rc).over(w).alias("s1d"),
        F.sum(rc * F.col("rev_c")).over(w).alias("s2d"),
        F.min("rev_c").over(w).cast("double").alias("mn"),
        F.max("rev_c").over(w).cast("double").alias("mx"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )
    n = F.col("n_in_window")
    s1d, s2d = F.col("s1d"), F.col("s2d")
    # n*s2 - s1^2 stays exact in decimal(38,0) (values <= ~1e24 here);
    # the single cast to double is the only conversion in the pipeline
    num = (n.cast("decimal(20,0)") * s2d - s1d * s1d).cast("double")
    return win.select(
        "day",
        (F.col("rev_c").cast("double") / 100).alias("rev"),
        F.round(s1d.cast("double") / 100 / n, 6).alias("mov_avg7"),
        F.round(F.col("mn") / 100, 2).alias("mov_min7"),
        F.round(F.col("mx") / 100, 2).alias("mov_max7"),
        F.round(
            F.when(n > 1, F.sqrt(num / F.lit(10000.0) / (n * (n - 1)))),
            6,
        ).alias("mov_std7"),
        "n_in_window",
    )


# Synthetic fulfillment window for the sweep line: an order stays open
# (o_orderkey % 28 + 1) days from its order date — deterministic, so both
# engines derive identical intervals from the fixture.
_OPEN_INTERVALS_ORACLE = """
WITH iv AS (
  SELECT CAST(o_orderdate AS DATE) AS start_day,
         CAST(CAST(o_orderdate AS DATE) + INTERVAL ((o_orderkey % 28) + 1) DAY
              AS DATE) AS end_day
  FROM orders
),
deltas AS (
  SELECT start_day AS day, 1 AS delta FROM iv
  UNION ALL
  SELECT end_day AS day, -1 AS delta FROM iv
),
daily AS (SELECT day, SUM(delta) AS d FROM deltas GROUP BY day)
SELECT day,
       CAST(SUM(d) OVER (ORDER BY day NULLS FIRST
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS open_orders
FROM daily
ORDER BY day
"""


@register("timeseries_open_intervals", "G", oracle=_OPEN_INTERVALS_ORACLE,
          doc="Sweep-line concurrency: number of simultaneously open "
              "orders per day via +1/-1 boundary deltas and a running "
              "sum over the daily rollup — the interval-stabbing count "
              "without an interval join")
def timeseries_open_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval table never joins anything: each interval becomes two
    delta rows, the deltas partial-aggregate to one row per calendar day,
    and only that calendar-sized series flows into the cumulative window
    (same post-reduction discipline as timeseries_forecast_naive). The
    naive alternative — day × interval containment join — is quadratic;
    this is the shape that survives 10^9 intervals."""
    o = load(spark, sf_dir, "orders")
    start = F.to_date("o_orderdate")
    dur = (F.col("o_orderkey") % 28 + 1).cast("int")
    iv = o.select(start.alias("start_day"), F.date_add(start, dur).alias("end_day"))
    deltas = iv.select(F.col("start_day").alias("day"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("end_day").alias("day"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("d"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        daily.select("day", F.sum("d").over(w).cast("long").alias("open_orders"))
        .orderBy("day")
    )


_DOW_SEASONALITY_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         SUM(o_totalprice) AS rev
  FROM orders GROUP BY 1
),
by_dow AS (
  SELECT isodow(day) AS dow, AVG(rev) AS dow_avg, COUNT(*) AS n_days
  FROM daily GROUP BY 1
),
overall AS (SELECT AVG(rev) AS g FROM daily)
SELECT CAST(b.dow AS BIGINT) AS dow,
       CAST(b.n_days AS BIGINT) AS n_days,
       round(b.dow_avg, 2) AS dow_avg_revenue,
       round(b.dow_avg / o.g, 6) AS seasonal_index
FROM by_dow b CROSS JOIN overall o
ORDER BY dow
"""


@register("timeseries_seasonality_dow", "G", oracle=_DOW_SEASONALITY_ORACLE,
          doc="Day-of-week seasonal index: average daily revenue per ISO "
              "weekday over the overall daily average — the multiplicative "
              "factors that turn forecast_naive into a weekday-aware "
              "baseline (ISO numbering pinned cross-engine)")
def timeseries_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's weekday() is Monday=0 and DuckDB's isodow is Monday=1 —
    the +1 shift is pinned here exactly as in events_hourly_heatmap.
    Daily rollup first (map-side combined), then a 7-row aggregate and a
    one-row broadcast for the overall mean: calendar-sized all the way
    after one scan."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(F.sum("o_totalprice").alias("rev"))
    by_dow = daily.groupBy(
        (F.weekday("day") + 1).cast("long").alias("dow")
    ).agg(F.avg("rev").alias("dow_avg"), F.count(F.lit(1)).alias("n_days"))
    overall = daily.agg(F.avg("rev").alias("g"))
    return (
        by_dow.crossJoin(F.broadcast(overall))
        .select(
            "dow",
            F.col("n_days").cast("long").alias("n_days"),
            F.round("dow_avg", 2).alias("dow_avg_revenue"),
            F.round(F.col("dow_avg") / F.col("g"), 6).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


_CAGR_ORACLE = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         SUM(o_totalprice) AS revenue
  FROM orders GROUP BY 1
),
ends AS (
  SELECT MIN(month) AS first_month, MAX(month) AS last_month,
         arg_min(revenue, month) AS first_rev,
         arg_max(revenue, month) AS last_rev,
         COUNT(*) AS n_months
  FROM monthly
)
SELECT first_month, last_month,
       CAST(n_months AS BIGINT) AS n_months,
       round(first_rev, 2) AS first_rev,
       round(last_rev, 2) AS last_rev,
       round(pow(last_rev / first_rev, 12.0 / (n_months - 1)) - 1, 6)
         AS cagr_annualized
FROM ends
"""


@register("timeseries_growth_cagr", "G", oracle=_CAGR_ORACLE,
          doc="Annualized compound growth rate between the first and last "
              "month's revenue (arg_min/arg_max endpoint selection over "
              "the monthly rollup) — the one-number growth summary on "
              "top of forecast_naive's machinery")
def timeseries_growth_cagr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Endpoint selection is min_by/max_by on the month key — an
    aggregate, not a sort; everything runs over the calendar-sized
    monthly rollup. Month keys are unique by construction (groupBy
    output), so the arg_min/min_by tie question cannot arise."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    ends = monthly.agg(
        F.min("month").alias("first_month"),
        F.max("month").alias("last_month"),
        F.min_by("revenue", "month").alias("first_rev"),
        F.max_by("revenue", "month").alias("last_rev"),
        F.count(F.lit(1)).alias("n_months"),
    )
    return ends.select(
        "first_month", "last_month",
        F.col("n_months").cast("long").alias("n_months"),
        F.round("first_rev", 2).alias("first_rev"),
        F.round("last_rev", 2).alias("last_rev"),
        # try_divide: a single-month series has no growth window
        # (n_months - 1 = 0) and a zero first month has no ratio — NULL,
        # the DuckDB division result, not an ANSI error
        F.round(
            F.pow(
                F.try_divide(F.col("last_rev"), F.col("first_rev")),
                F.try_divide(F.lit(12.0), F.col("n_months") - 1),
            ) - 1,
            6,
        ).alias("cagr_annualized"),
    )


HOLT_ALPHA = 0.5
HOLT_BETA = 0.3
HOLT_HORIZON = 7

_HOLT_ORACLE = f"""
WITH RECURSIVE d0 AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
daily AS (SELECT day, x, row_number() OVER (ORDER BY day NULLS FIRST) AS rn FROM d0),
h AS (
  -- seed b must be CAST to DOUBLE: DuckDB types recursive-CTE columns
  -- from the FIRST branch, and a bare 0.0 is DECIMAL(2,1) — every
  -- iteration's trend would silently round to one decimal place
  SELECT rn, x AS l, CAST(0.0 AS DOUBLE) AS b FROM daily WHERE rn = 1
  UNION ALL
  SELECT d.rn,
         {HOLT_ALPHA} * d.x + (1 - {HOLT_ALPHA}) * (h.l + h.b),
         {HOLT_BETA} * (({HOLT_ALPHA} * d.x + (1 - {HOLT_ALPHA}) * (h.l + h.b)) - h.l)
           + (1 - {HOLT_BETA}) * h.b
  FROM h JOIN daily d ON d.rn = h.rn + 1
),
last AS (SELECT l, b FROM h ORDER BY rn DESC LIMIT 1),
n AS (SELECT COUNT(*) AS n_days FROM daily)
SELECT CAST(n.n_days AS BIGINT) AS n_days,
       round(last.l, 4) AS level,
       round(last.b, 4) AS trend,
       round(last.l + {HOLT_HORIZON} * last.b, 4) AS forecast_{HOLT_HORIZON}d
FROM last CROSS JOIN n
"""


@register("timeseries_holt", "X", oracle=_HOLT_ORACLE,
          doc="Holt double-exponential smoothing (level + trend) over daily "
              "event volume with a 7-day-ahead linear forecast — the "
              "trend-aware upgrade of timeseries_ewma, as the same "
              "ordered-fold-over-the-rollup recurrence vs a recursive-CTE "
              "oracle")
def timeseries_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level and trend each depend on the whole prefix (not
    frame-expressible), so the recurrence is an ordered JVM fold over
    the DAILY rollup — the collected array is calendar-sized (days),
    never event-sized; the corpus-sized work is one partial-aggregated
    groupBy. Initialization l₁ = x₁, b₁ = 0 is pinned on both engines
    (textbook variants differ here — the oracle encodes the same
    choice).

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
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    series = daily.agg(
        F.sort_array(
            F.collect_list(F.struct("day", "x"))
        ).alias("pts")
    )
    init = F.struct(
        F.lit(None).cast("double").alias("l"), F.lit(0.0).alias("b")
    )

    def step(acc, p):
        first = acc["l"].isNull()
        new_l = F.when(first, p["x"]).otherwise(
            HOLT_ALPHA * p["x"] + (1 - HOLT_ALPHA) * (acc["l"] + acc["b"])
        )
        new_b = F.when(first, F.lit(0.0)).otherwise(
            HOLT_BETA * (new_l - acc["l"]) + (1 - HOLT_BETA) * acc["b"]
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    folded = series.select(
        F.size("pts").cast("long").alias("n_days"),
        F.aggregate(F.col("pts"), init, step).alias("acc"),
    )
    return folded.select(
        "n_days",
        F.round(F.col("acc.l"), 4).alias("level"),
        F.round(F.col("acc.b"), 4).alias("trend"),
        F.round(F.col("acc.l") + HOLT_HORIZON * F.col("acc.b"), 4).alias(
            f"forecast_{HOLT_HORIZON}d"
        ),
        # empty series: the oracle's recursive seed row never exists, so
        # its final CROSS JOIN is empty — match it (global agg would
        # otherwise emit one all-NULL row here)
    ).where(F.col("n_days") > 0)


_YOY_ORACLE = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         SUM(o_totalprice) AS revenue
  FROM orders GROUP BY 1
)
SELECT m.month, round(m.revenue, 2) AS revenue,
       round(p.revenue, 2) AS revenue_prior_year,
       round((m.revenue - p.revenue) / p.revenue, 6) AS yoy_growth
FROM monthly m
JOIN monthly p ON p.month = m.month - INTERVAL 1 YEAR
"""


@register("timeseries_yoy", "G", oracle=_YOY_ORACLE,
          doc="Year-over-year growth by month: the monthly rollup "
              "self-joined on month − 1 year (calendar-exact, not lag(12) "
              "— a missing month would silently shift a row-offset lag), "
              "emitting only months with a prior-year counterpart")
def timeseries_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-on-shifted-key form is the robust YoY: lag(12) over the
    month sequence is wrong the moment a month is absent (offset slips)
    while the calendar join degrades to 'no row', which is the truthful
    answer. Both sides are the same months-sized rollup, so the
    self-join is broadcast-sized at any fact scale."""
    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.trunc("o_orderdate", "month").alias("month")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    prior = monthly.select(
        F.add_months("month", 12).alias("month"),
        F.col("revenue").alias("revenue_prior_year"),
    )
    return (
        monthly.join(F.broadcast(prior), "month")
        .select(
            "month",
            F.round("revenue", 2).alias("revenue"),
            F.round("revenue_prior_year", 2).alias("revenue_prior_year"),
            F.round(
                (F.col("revenue") - F.col("revenue_prior_year")) / F.col("revenue_prior_year"),
                6,
            ).alias("yoy_growth"),
        )
    )


_MAX_GAP_ORACLE = """
WITH seq AS (
  SELECT event_type, date_trunc('second', ts) AS t,
         lag(date_trunc('second', ts))
           OVER (PARTITION BY event_type ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev_t
  FROM events
),
gaps AS (
  SELECT event_type, prev_t, t,
         date_diff('second', prev_t, t) AS gap_s,
         -- composite argmax via ranking (DuckDB arg_max takes no
         -- ROW/LIST key): (gap DESC, end-time DESC) reproduces Spark's
         -- max_by(prev_t, struct(gap_s, t)) lexicographic-max tiebreak
         row_number() OVER (PARTITION BY event_type
                            ORDER BY date_diff('second', prev_t, t) DESC NULLS LAST,
                                     t DESC NULLS LAST) AS rn
  FROM seq WHERE prev_t IS NOT NULL
),
agg AS (
  SELECT event_type,
         CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
         CAST(round(AVG(gap_s), 0) AS BIGINT) AS mean_gap_s
  FROM gaps GROUP BY event_type
)
SELECT a.event_type, a.max_gap_s, a.mean_gap_s, g.prev_t AS silence_start
FROM agg a JOIN gaps g ON g.event_type = a.event_type AND g.rn = 1
"""


@register("timeseries_max_gap", "G", oracle=_MAX_GAP_ORACLE,
          doc="Longest-silence detection per event type: max inter-event "
              "gap (seconds) with the timestamp where the outage began — "
              "the gap detector behind missing-data alerts; argmax "
              "tie-broken on the gap's end time")
def timeseries_max_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One lag window per event_type (bounded by type cardinality per
    task after the key shuffle) and one aggregate: the argmax rides
    max_by over a (gap, end-time) struct so ties resolve identically on
    both engines. Second-floored timestamps per the module's
    cross-engine precision contract."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.date_trunc("second", "ts").alias("t"),
        F.lag(F.date_trunc("second", "ts")).over(w).alias("prev_t"),
    ).where(F.col("prev_t").isNotNull())
    gap = (F.unix_timestamp("t") - F.unix_timestamp("prev_t"))
    gaps = seq.select("event_type", "prev_t", "t", gap.alias("gap_s"))
    return gaps.groupBy("event_type").agg(
        F.max("gap_s").cast("long").alias("max_gap_s"),
        F.round(F.avg("gap_s"), 0).cast("long").alias("mean_gap_s"),
        F.max_by("prev_t", F.struct("gap_s", "t")).alias("silence_start"),
    )


_TWAP_ORACLE = """
WITH seq AS (
  SELECT event_type, value, date_trunc('second', ts) AS t,
         lead(date_trunc('second', ts))
           OVER (PARTITION BY event_type ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS nxt
  FROM events
),
held AS (
  SELECT event_type, value,
         date_diff('second', t, nxt) AS held_s
  FROM seq WHERE nxt IS NOT NULL AND date_diff('second', t, nxt) > 0
)
SELECT event_type,
       CAST(SUM(held_s) AS BIGINT) AS total_held_s,
       round(SUM(value * held_s) / SUM(held_s), 6) AS twap,
       round(AVG(value), 6) AS plain_avg
FROM held GROUP BY event_type
"""


@register("timeseries_twap", "G", oracle=_TWAP_ORACLE,
          doc="Time-weighted average value per event type: each "
              "observation weighted by how long it was the latest one "
              "(lead-gap seconds) — the TWAP/duration-weighted mean that "
              "corrects the plain average's bias toward bursty periods; "
              "both averages emitted for contrast")
def timeseries_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A plain AVG over irregular samples overweights whatever fires
    often; weighting by holding duration integrates the step function
    instead. One lead window per type then a weighted aggregate — the
    same cost as any lag/lead pass. Zero-duration holds (same-second
    repeats) are excluded on both engines so the weight sum is exact
    integer seconds."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = F.date_trunc("second", "ts")
    seq = ev.select(
        "event_type", "value", t.alias("t"),
        F.lead(t).over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    held = seq.select(
        "event_type", "value",
        (F.unix_timestamp("nxt") - F.unix_timestamp("t")).alias("held_s"),
    ).where(F.col("held_s") > 0)
    return held.groupBy("event_type").agg(
        F.sum("held_s").cast("long").alias("total_held_s"),
        F.round(F.sum(F.col("value") * F.col("held_s")) / F.sum("held_s"), 6).alias("twap"),
        F.round(F.avg("value"), 6).alias("plain_avg"),
    )


_DRAWDOWN_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         SUM(o_totalprice) AS rev
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
cum AS (
  SELECT day, rev,
         SUM(rev) OVER (ORDER BY day NULLS FIRST
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS equity
  FROM daily
),
dd AS (
  SELECT day, equity,
         MAX(equity) OVER (ORDER BY day NULLS FIRST
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM cum
),
scored AS (
  SELECT day, equity, peak,
         (peak - equity) / peak AS drawdown,
         row_number() OVER (ORDER BY (peak - equity) / peak DESC NULLS LAST, day ASC NULLS FIRST) AS rn
  FROM dd
)
SELECT CAST((SELECT COUNT(*) FROM scored) AS BIGINT) AS n_days,
       round(drawdown, 6) AS max_drawdown,
       day AS trough_day,
       round(peak, 2) AS peak_equity
FROM scored WHERE rn = 1
"""


@register("timeseries_drawdown", "G", oracle=_DRAWDOWN_ORACLE,
          doc="Maximum drawdown of the cumulative daily revenue curve: "
              "running peak vs equity, worst relative dip with its trough "
              "date — the risk statistic a running-max window computes in "
              "one ordered pass over the day-grain rollup")
def timeseries_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two nested running frames (cumulative sum, then running max of it)
    over the DAILY rollup — calendar-sized, the documented bounded-
    window contract — and an argmax with an explicit (drawdown desc,
    day asc) total order. Drawdown needs the running peak, which no
    plain aggregate provides: this is the case where an ordered window
    IS the right tool, quarantined to the reduced series.

    NULL-timestamp rows are excluded from the time-grain rollup
    BEFORE any ordered step, identically on both engines (pinned
    rule): a NULL sort key anywhere downstream is evaluated
    nondeterministically by DuckDB 1.0 even under explicit NULLS
    FIRST/LAST (reproduced ~2-13%% per run on the edge corpus) —
    see tests/test_degenerate.py (oracle stability, NULL-day lint).
    """
    orders = load(spark, sf_dir, "orders")
    daily = orders.where(F.col("o_orderdate").isNotNull()).groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(F.sum("o_totalprice").alias("rev"))
    w_run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.select("day", F.sum("rev").over(w_run).alias("equity"))
    dd = cum.select(
        "day", "equity", F.max("equity").over(w_run).alias("peak")
    ).withColumn("drawdown", (F.col("peak") - F.col("equity")) / F.col("peak"))
    w_rank = Window.orderBy(F.col("drawdown").desc(), F.col("day").asc())
    n = daily.agg(F.count(F.lit(1)).alias("n_days"))
    best = dd.withColumn("rn", F.row_number().over(w_rank)).where(F.col("rn") == 1)
    return best.crossJoin(F.broadcast(n)).select(
        F.col("n_days").cast("long").alias("n_days"),
        F.round("drawdown", 6).alias("max_drawdown"),
        F.col("day").alias("trough_day"),
        F.round("peak", 2).alias("peak_equity"),
    )


_FORECAST_EVAL_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
pred AS (
  SELECT day, n AS actual,
         lag(n) OVER (ORDER BY day NULLS FIRST) AS naive_pred
  FROM daily
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days_scored,
       round(AVG(abs(actual - naive_pred) / actual), 6) AS mape,
       round(AVG(2.0 * abs(actual - naive_pred) / (actual + naive_pred)), 6) AS smape,
       round(MAX(abs(actual - naive_pred) / CAST(actual AS DOUBLE)), 6) AS worst_ape
FROM pred WHERE naive_pred IS NOT NULL
"""


@register("timeseries_forecast_eval", "G", oracle=_FORECAST_EVAL_ORACLE,
          doc="Forecast evaluation loop: the naive (persistence) forecast "
              "scored in-corpus with MAPE, sMAPE, and worst-day error — "
              "the baseline error bar any model forecast "
              "(timeseries_holt's linear trend) must beat to earn its "
              "complexity")
def timeseries_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtesting as one lag window over the daily rollup: persistence
    (tomorrow = today) is the canonical hard-to-beat baseline for short
    series, and sMAPE is emitted beside MAPE because MAPE rewards
    under-forecasting (asymmetric denominator) — publishing both keeps
    the comparison honest.

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
    w = Window.orderBy("day")
    pred = daily.select(
        F.col("n").alias("actual"), F.lag("n").over(w).alias("naive_pred")
    ).where(F.col("naive_pred").isNotNull())
    ape = F.abs(F.col("actual") - F.col("naive_pred")) / F.col("actual")
    return pred.agg(
        F.count(F.lit(1)).cast("long").alias("n_days_scored"),
        F.round(F.avg(ape), 6).alias("mape"),
        F.round(
            F.avg(
                2.0 * F.abs(F.col("actual") - F.col("naive_pred"))
                / (F.col("actual") + F.col("naive_pred"))
            ),
            6,
        ).alias("smape"),
        F.round(F.max(F.abs(F.col("actual") - F.col("naive_pred")) / F.col("actual").cast("double")), 6).alias("worst_ape"),
    )


CROSS_CORR_MAX_LAG = 3

_CROSS_CORR_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY 1
),
lags AS (SELECT unnest(range({CROSS_CORR_MAX_LAG} + 1)) AS lag)
SELECT CAST(l.lag AS INTEGER) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       round(corr(a.x, b.y), 6) AS cross_corr
FROM lags l
JOIN daily a ON TRUE
JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)
GROUP BY l.lag
"""


@register("timeseries_cross_corr", "G", oracle=_CROSS_CORR_ORACLE,
          doc=f"Lagged cross-correlation between purchase and click daily "
              f"volumes (lags 0..{CROSS_CORR_MAX_LAG}): does one series "
              "LEAD the other — the leading-indicator scan behind "
              "'clicks today predict purchases in k days'")
def timeseries_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both series come from one conditional rollup; the lag grid is a
    literal explode joined on shifted calendar days (same robustness
    argument as timeseries_yoy — a missing day drops the pair rather
    than silently misaligning a row offset), and each lag's correlation
    is a streaming co-moment over the days-sized table."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("y"),
    )
    lags = spark.range(CROSS_CORR_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    a = daily.select("day", "x")
    b = daily.select(F.col("day").alias("day_b"), "y")
    return (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.expr("day_b = date_add(day, lag)"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.corr("x", "y"), 6).alias("cross_corr"),
        )
    )
