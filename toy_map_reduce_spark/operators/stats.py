"""Statistical-audit operators (G tier): chi-square independence, Benford
first-digit audit, MAD robust outliers, cohort LTV curves, and lag
autocorrelation — the data-quality / analytics screens a warehouse runs on
fact tables, each as exact window/aggregate compositions with DuckDB twins.

Generalizes the reference's single group-and-fold data plane
(``WorkerServiceImpl.scala:123-154``) to multi-stage keyed aggregation:
every operator here is a composition of groupBy reductions (each one
map-side partial-aggregated) plus at most one per-key window.

Scale notes (100 TB):
- chi-square / Benford reduce to a handful of rows before any join; the
  marginal tables are broadcast-sized by construction (|langs| × |sources|,
  9 digits), so the fact scan is one shuffle-light pass.
- MAD needs exact medians, which are sort-based per key — the honest cost
  of a robust statistic; the keys (event_type) are low-cardinality, so at
  100 TB this is the place to swap in approx_percentile (the engine
  exposes that surface as agg_approx_percentile).
- cohort LTV shuffles once on cohort and runs a bounded cumulative window
  per cohort (months, not rows).
- lag autocorrelation windows over the *hourly rollup*, not raw events —
  the series length is hours-of-history (~10⁴ rows/year), so the single
  ordered partition is a deliberate, documented post-reduction step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.operators.extras import (
    PCTL_SMALL_N,
    _exact_order_stats,
    ntile_start_sql,
)
from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load

_CHI_SQUARE_ORACLE = """
WITH obs AS (
  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source
),
rt AS (SELECT lang, SUM(o) AS row_total FROM obs GROUP BY lang),
ct AS (SELECT source, SUM(o) AS col_total FROM obs GROUP BY source),
g  AS (SELECT SUM(o) AS grand FROM obs),
grid AS (
  SELECT rt.lang, ct.source, rt.row_total, ct.col_total, g.grand,
         COALESCE(obs.o, 0) AS o
  FROM rt CROSS JOIN ct CROSS JOIN g
  LEFT JOIN obs ON obs.lang = rt.lang AND obs.source = ct.source
)
SELECT round(SUM(pow(o - row_total * col_total / CAST(grand AS DOUBLE), 2)
              / (row_total * col_total / CAST(grand AS DOUBLE))), 6) AS chi2,
       CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof,
       CAST(MAX(grand) AS BIGINT) AS n
FROM grid
"""


@register("stat_chi_square", "G", oracle=_CHI_SQUARE_ORACLE,
          doc="Chi-square test of independence on the lang × source "
              "contingency of documents — observed vs expected cell counts "
              "including zero-observed cells, one statistic row out")
def stat_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact table reduces to |langs| × |sources| cells in one
    map-side-combined groupBy; marginals and the complete grid (needed so
    zero-observed cells still contribute their expected count) are all
    broadcast-sized, so the 100 TB cost is a single scan + tiny joins."""
    docs = load(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("lang").agg(F.sum("o").alias("row_total"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("col_total"))
    g = obs.agg(F.sum("o").alias("grand"))
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(g))
        .join(F.broadcast(obs), ["lang", "source"], "left")
        .withColumn("o", F.coalesce("o", F.lit(0)))
    )
    exp = F.col("row_total") * F.col("col_total") / F.col("grand").cast("double")
    return grid.agg(
        F.round(F.sum(F.pow(F.col("o") - exp, 2) / exp), 6).alias("chi2"),
        ((F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1))
        .cast("long").alias("dof"),
        F.max("grand").alias("n"),
    )


_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
t AS (SELECT SUM(n) AS total FROM c)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / total, 6) AS observed_frac,
       round(log10(1.0 + 1.0 / digit), 6) AS benford_frac,
       round(abs(CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / digit)), 6) AS abs_dev
FROM c CROSS JOIN t
ORDER BY digit
"""


@register("stat_benford", "G", oracle=_BENFORD_ORACLE,
          doc="Benford's-law first-digit audit of order totals: observed "
              "leading-digit distribution vs log10(1 + 1/d) expectation — "
              "the classic synthetic-data / fraud screen")
def stat_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First digit via integer-string truncation, NOT floor(log10(x))
    scaling: the two engines' libm log10 disagree by an ulp just below
    powers of 10, which shifts the floor and fabricates a 'digit 10'
    bucket (observed on the sf0.001 fixture). floor→BIGINT→first char is
    exact on both. The fact scan collapses to ≤ 9 rows before the total
    join, so the audit is one pass at any scale."""
    orders = load(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    d = orders.select(
        F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("int").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    frac = F.col("n").cast("double") / F.col("total")
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit", "n",
            F.round(frac, 6).alias("observed_frac"),
            F.round(benford, 6).alias("benford_frac"),
            F.round(F.abs(frac - benford), 6).alias("abs_dev"),
        )
        .orderBy("digit")
    )


_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
       COUNT(*) AS n,
       round(MAX(d.med), 6) AS med,
       round(MAX(m.mad), 6) AS mad,
       CAST(SUM(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
"""


@register("stat_mad_outliers", "G", oracle=_MAD_ORACLE,
          doc="Robust outlier screen per event_type: median absolute "
              "deviation with the 1.4826 normal-consistency factor, "
              "flagging |x − med| > 3σ̂ — the screen z-scores can't do "
              "when the data itself contains the outliers")
def stat_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact medians per low-cardinality key (the honest sort-based
    cost of a robust statistic — the 100 TB swap-in is percentile_approx,
    exposed separately as agg_approx_percentile), then one counting pass.
    All three aggregations key on event_type, so AQE coalesces them onto
    one exchange layout."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


_COHORT_LTV_ORACLE = """
WITH first_m AS (
  SELECT o_custkey,
         MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
  FROM orders GROUP BY o_custkey
),
rev AS (
  SELECT f.cohort_m,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m AS midx,
         round(SUM(round(o.o_totalprice, 2)), 2) AS revenue
  FROM orders o JOIN first_m f ON o.o_custkey = f.o_custkey
  GROUP BY f.cohort_m, midx
)
SELECT CAST((cohort_m - 1) // 12 AS BIGINT) AS cohort_year,
       CAST((cohort_m - 1) % 12 + 1 AS BIGINT) AS cohort_month,
       midx, revenue,
       round(SUM(revenue) OVER (PARTITION BY cohort_m ORDER BY midx NULLS FIRST
                                ROWS UNBOUNDED PRECEDING), 2) AS cum_revenue
FROM rev
ORDER BY cohort_year, cohort_month, midx
"""


@register("orders_cohort_ltv", "G", oracle=_COHORT_LTV_ORACLE,
          doc="Cohort lifetime-value curve: customers cohorted by first "
              "order month, revenue accumulated over month index per "
              "cohort — the standard subscription/GMV retention readout")
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month arithmetic is pure integers (y*12+m) so cross-engine date
    semantics can't drift. One shuffle keys the cohort assignment
    (per-customer min), one keys the cohort×month rollup; the cumulative
    window runs over months-per-cohort (bounded, tiny) — never rows."""
    orders = load(spark, sf_dir, "orders")
    mcol = (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
    first_m = orders.groupBy("o_custkey").agg(F.min(mcol).alias("cohort_m"))
    rev = (
        orders.join(first_m, "o_custkey")
        .groupBy(
            "cohort_m",
            (mcol - F.col("cohort_m")).alias("midx"),
        )
        .agg(F.round(F.sum(F.round("o_totalprice", 2)), 2).alias("revenue"))
    )
    w = Window.partitionBy("cohort_m").orderBy("midx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        rev.select(
            F.floor((F.col("cohort_m") - 1) / 12).cast("long").alias("cohort_year"),
            (((F.col("cohort_m") - 1) % 12 + 1).cast("long")).alias("cohort_month"),
            "midx", "revenue",
            F.round(F.sum("revenue").over(w), 2).alias("cum_revenue"),
        )
        .orderBy("cohort_year", "cohort_month", "midx")
    )


_LAG_CORR_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, round(SUM(value), 6) AS s
  FROM events WHERE ts IS NOT NULL GROUP BY h
),
lagged AS (
  SELECT s,
         lag(s, 1) OVER (ORDER BY h NULLS FIRST) AS s1,
         lag(s, 2) OVER (ORDER BY h NULLS FIRST) AS s2,
         lag(s, 3) OVER (ORDER BY h NULLS FIRST) AS s3
  FROM hourly
)
SELECT * FROM (
  SELECT 1 AS lag, round(corr(s, s1), 6) AS autocorr FROM lagged
  UNION ALL
  SELECT 2 AS lag, round(corr(s, s2), 6) FROM lagged
  UNION ALL
  SELECT 3 AS lag, round(corr(s, s3), 6) FROM lagged
) ORDER BY lag
"""


@register("timeseries_lag_corr", "G", oracle=_LAG_CORR_ORACLE,
          doc="Lag-1..3 autocorrelation of the hourly event-value series — "
              "the seasonality probe run before fitting any forecast model; "
              "Pearson corr of the series against its own lags")
def timeseries_lag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered window runs over the *hourly rollup* (hours-of-history
    rows, ~10⁴/year), not raw events — the single-partition ORDER BY is a
    deliberate post-reduction step, same pattern as timeseries_ewma. The
    raw-event reduction underneath is a standard one-shuffle groupBy.

    NULL-timestamp rows are excluded from the time-grain rollup
    BEFORE any ordered step, identically on both engines (pinned
    rule): a NULL sort key anywhere downstream is evaluated
    nondeterministically by DuckDB 1.0 even under explicit NULLS
    FIRST/LAST (reproduced ~2-13%% per run on the edge corpus) —
    see tests/test_degenerate.py (oracle stability, NULL-day lint).
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.where(F.col("ts").isNotNull()).groupBy(
        F.date_trunc("hour", "ts").alias("h")
    ).agg(F.round(F.sum("value"), 6).alias("s"))
    w = Window.orderBy("h")
    lagged = hourly.select(
        "s",
        F.lag("s", 1).over(w).alias("s1"),
        F.lag("s", 2).over(w).alias("s2"),
        F.lag("s", 3).over(w).alias("s3"),
    )
    parts = [
        lagged.agg(
            F.lit(k).alias("lag"),
            F.round(F.corr("s", f"s{k}"), 6).alias("autocorr"),
        )
        for k in (1, 2, 3)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("lag")


_WINSORIZE_ORACLE = """
WITH p AS (
  SELECT quantile_cont(o_totalprice, 0.05) AS p05,
         quantile_cont(o_totalprice, 0.95) AS p95
  FROM orders
),
w AS (
  SELECT o.o_totalprice AS raw,
         least(greatest(o.o_totalprice, p.p05), p.p95) AS wins,
         p.p05, p.p95
  FROM orders o CROSS JOIN p
)
SELECT round(MAX(p05), 6) AS p05,
       round(MAX(p95), 6) AS p95,
       round(AVG(raw), 6) AS mean_raw,
       round(AVG(wins), 6) AS mean_wins,
       round(stddev_samp(raw), 6) AS std_raw,
       round(stddev_samp(wins), 6) AS std_wins,
       CAST(COUNT(*) FILTER (WHERE raw < p05) AS BIGINT) AS n_clipped_low,
       CAST(COUNT(*) FILTER (WHERE raw > p95) AS BIGINT) AS n_clipped_high
FROM w
"""


@register("stat_winsorize", "G", oracle=_WINSORIZE_ORACLE,
          doc="Winsorization at the exact 5th/95th percentiles: clip order "
              "totals into [p05, p95] and report mean/std before vs after "
              "plus clip counts — the outlier treatment that preserves row "
              "count, complementing stat_mad_outliers' flagging")
def stat_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark percentile ≡ DuckDB
    quantile_cont) are sort-based per the agg_percentile honesty note;
    the clip pass is a broadcast of the 1-row percentile table over the
    scan — two passes total, no row-level shuffle."""
    orders = load(spark, sf_dir, "orders")
    p = orders.agg(
        F.percentile("o_totalprice", 0.05).alias("p05"),
        F.percentile("o_totalprice", 0.95).alias("p95"),
    )
    w = orders.crossJoin(F.broadcast(p)).select(
        F.col("o_totalprice").alias("raw"),
        F.least(F.greatest("o_totalprice", F.col("p05")), F.col("p95")).alias("wins"),
        "p05", "p95",
    )
    return w.agg(
        F.round(F.max("p05"), 6).alias("p05"),
        F.round(F.max("p95"), 6).alias("p95"),
        F.round(F.avg("raw"), 6).alias("mean_raw"),
        F.round(F.avg("wins"), 6).alias("mean_wins"),
        F.round(F.stddev_samp("raw"), 6).alias("std_raw"),
        F.round(F.stddev_samp("wins"), 6).alias("std_wins"),
        F.count(F.when(F.col("raw") < F.col("p05"), 1)).alias("n_clipped_low"),
        F.count(F.when(F.col("raw") > F.col("p95"), 1)).alias("n_clipped_high"),
    )


_T_TEST_ORACLE = """
WITH s AS (
  SELECT AVG(CASE WHEN event_type = 'purchase' THEN value END) AS m1,
         var_samp(CASE WHEN event_type = 'purchase' THEN value END) AS v1,
         COUNT(CASE WHEN event_type = 'purchase' THEN value END) AS n1,
         AVG(CASE WHEN event_type = 'click' THEN value END) AS m2,
         var_samp(CASE WHEN event_type = 'click' THEN value END) AS v2,
         COUNT(CASE WHEN event_type = 'click' THEN value END) AS n2
  FROM events WHERE event_type IN ('purchase', 'click')
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       round(m1 - m2, 6) AS mean_diff,
       round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
       round(pow(v1 / n1 + v2 / n2, 2)
             / (pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1)), 4)
         AS welch_df
FROM s
"""


@register("stat_t_test", "X", oracle=_T_TEST_ORACLE,
          doc="Welch two-sample t-test between purchase and click values: "
              "t statistic and Welch-Satterthwaite degrees of freedom "
              "from one conditional aggregate pass — the A/B significance "
              "readout next to events_ab_test's effect sizes")
def stat_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both samples reduce in a single conditional-aggregate scan (CASE
    inside avg/var_samp/count — NULLs fall out of all three identically
    on both engines); the statistic is arithmetic on one row. The
    cheapest possible significance test at any scale — one map-side-
    combined pass, six numbers of state."""
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    cv = F.when(F.col("event_type") == "click", F.col("value"))
    s = ev.agg(
        F.avg(pv).alias("m1"), F.var_samp(pv).alias("v1"), F.count(pv).alias("n1"),
        F.avg(cv).alias("m2"), F.var_samp(cv).alias("v2"), F.count(cv).alias("n2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    return s.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_diff"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
                + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
            ),
            4,
        ).alias("welch_df"),
    )


# Score quantization for the distinct-value cumulative passes (stat_auc,
# stat_gains_table, stat_ks_test): on a continuous score at 100x,
# |distinct| ~= |rows| and the ordered pass over distinct values
# degenerates back toward a row-grain sort. Rounding scores to this many
# decimals bounds the distinct count by the score RANGE (range * 10^4
# values) INDEPENDENT of row count — the same float-key guard
# events_whale_curve adopted in r4. Mirrored in every oracle.
SCORE_QUANT = 4

_AUC_ORACLE = f"""
WITH lab AS (
  SELECT round(value, {SCORE_QUANT}) AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events WHERE event_type IN ('purchase', 'click')
),
byv AS (
  SELECT score, SUM(label) AS np, SUM(1 - label) AS nn
  FROM lab GROUP BY score
),
cum AS (
  SELECT np, nn,
         COALESCE(SUM(nn) OVER (ORDER BY score NULLS FIRST
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS nn_before,
         SUM(np) OVER () AS tot_p,
         SUM(nn) OVER () AS tot_n
  FROM byv
)
SELECT CAST(MAX(tot_p) AS BIGINT) AS n_pos,
       CAST(MAX(tot_n) AS BIGINT) AS n_neg,
       round(SUM(np * (nn_before + nn / 2.0)) / (MAX(tot_p) * MAX(tot_n)), 6)
         AS auc
FROM cum
"""


@register("stat_auc", "X", oracle=_AUC_ORACLE,
          doc="Exact ROC AUC of event value as a purchase-vs-click "
              "classifier score: Mann-Whitney U with midrank tie "
              "handling, computed over the distinct-score aggregate — "
              "the ranking-metric readout of an eval pipeline")
def stat_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC = P(score_pos > score_neg) + P(equal)/2 — the U statistic,
    accumulated per distinct score: positives at a score see every
    strictly-lower negative fully and tied negatives at half weight.
    Same scale shape as stat_ks_test: raw rows reduce to one row per
    distinct score (map-side combined) BEFORE the single ordered
    cumulative pass, and scores are quantized to SCORE_QUANT decimals
    first, so the ordered pass touches at most range*10^4 rows — a
    cardinality bounded by the score RANGE, not the row count, even on
    continuous scores at 100x. Arithmetic stays integer-exact until the
    final division."""
    lab = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.round("value", SCORE_QUANT).alias("score"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
        )
    )
    byv = lab.groupBy("score").agg(
        F.sum("label").alias("np"), F.sum(1 - F.col("label")).alias("nn")
    )
    w_before = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    cum = byv.select(
        "np", "nn",
        F.coalesce(F.sum("nn").over(w_before), F.lit(0)).alias("nn_before"),
        F.sum("np").over(wall).alias("tot_p"),
        F.sum("nn").over(wall).alias("tot_n"),
    )
    return cum.agg(
        F.max("tot_p").cast("long").alias("n_pos"),
        F.max("tot_n").cast("long").alias("n_neg"),
        F.round(
            F.sum(F.col("np") * (F.col("nn_before") + F.col("nn") / 2.0))
            / (F.max("tot_p") * F.max("tot_n")),
            6,
        ).alias("auc"),
    )


_CALIBRATION_ORACLE = """
WITH lab AS (
  SELECT event_id, value AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events WHERE event_type IN ('purchase', 'click')
),
binned AS (
  SELECT label, score,
         ntile(10) OVER (ORDER BY score NULLS FIRST, event_id NULLS FIRST) AS bin
  FROM lab
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(AVG(CAST(label AS DOUBLE)), 6) AS frac_positive,
       round(AVG(score), 4) AS mean_score,
       round(MIN(score), 2) AS lo,
       round(MAX(score), 2) AS hi
FROM binned GROUP BY bin
ORDER BY bin
"""


@register("stat_calibration_bins", "X", oracle=_CALIBRATION_ORACLE,
          doc="Calibration curve: equal-frequency score deciles with the "
              "observed positive rate and mean score per bin — the "
              "reliability diagram behind every 'is this score a "
              "probability' review")
def stat_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ntile(10) deciles WITHOUT the global sort (r4 verdict item
    3). Unlike the equi-depth histograms, this output aggregates per-ROW
    facts (positive rate, mean score) so rows genuinely need bin labels:

    1. The 9 interior bin boundaries are exact order statistics at the
       ntile start ranks, and each boundary's tie-class below-count
       (rows strictly below the boundary value) comes out of the SAME
       candidate-window walk as the boundary itself (``c1`` — the r5
       verdict's pass-sharing fix; the old plan paid one more full
       corpus scan for the below-counts).
    2. Assignment is a broadcast range join: a row whose score equals no
       boundary is binned by comparing against the 9 broadcast values;
       rows ON a boundary value (a tie class ntile may split) get their
       exact global rank = below-count + row_number within the tie
       class ordered by event_id — a window hash-PARTITIONED by score,
       never a global sort — and are binned by rank arithmetic.

    Every stage partial-aggregates or hash-partitions; nothing funnels
    into one task. Skew note: a single score value dominating the data
    would make one tie-class partition large; that is the inherent cost
    of ntile's split-the-ties contract, and it is isolated to the tie
    branch (typically ~0 rows on continuous scores).

    CONTRACT: NULL scores are excluded up front (events.value is
    non-null in the dataset; without the filter a NULL score would
    satisfy neither the tie nor the non-tie predicate and silently drop
    — r5 advisor)."""
    lab = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .where(F.col("value").isNotNull())
        .select(
            "event_id",
            F.col("value").alias("score"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
        )
    )
    nb = 10
    windows = [
        (i / nb, ntile_start_sql(i + 1, nb), [("v1", f"b{i}"), ("c1", f"lt{i}")])
        for i in range(1, nb)
    ]
    # one-row frame consumed by both assignment branches: persist so the
    # boundary/below-count subtree evaluates once, not once per consumer
    bnd = scratch.persist(_exact_order_stats(
        lab, "score", windows, extra_eps=(nb + 2) / PCTL_SMALL_N
    ))
    # constant-key broadcast equi-join (NOT crossJoin: a one-row
    # BroadcastNestedLoopJoin evaluates every predicate interpreted,
    # outside codegen) with a non-foldable always-0 key — a literal key
    # constant-folds to `true` and the join degenerates to that same
    # BNLJ (see _bracketed_stats; r5 advisor)
    jj = lab.withColumn("_k", F.expr("pmod(hash(score), 1)")).join(
        F.broadcast(bnd.withColumn("_k", F.expr("pmod(hash(n), 1)"))), "_k"
    )
    # assignment expressions as SQL strings (py4j Column construction cost
    # — see _bracketed_stats)
    is_tie = " OR ".join(f"score = `b{i}`" for i in range(1, nb))
    nontie_bin = "1 + " + " + ".join(
        f"(CASE WHEN score > `b{i}` THEN 1 ELSE 0 END)" for i in range(1, nb)
    )
    nontie = jj.where(f"NOT ({is_tie})").selectExpr(
        "label", "score", f"CAST({nontie_bin} AS INT) AS bin"
    )
    lt_here = "COALESCE(" + ", ".join(
        f"CASE WHEN score = `b{i}` THEN `lt{i}` END" for i in range(1, nb)
    ) + ")"
    rank = f"({lt_here} + row_number() OVER (PARTITION BY score ORDER BY event_id NULLS FIRST) - 1)"
    # a NULL below-count (GK bracket-violation fallback) must yield a
    # NULL bin the parity gate catches, not a silent bin-1 assignment
    tie_bin = "CASE WHEN _rank IS NULL THEN NULL ELSE 1 + " + " + ".join(
        f"(CASE WHEN _rank >= {ntile_start_sql(i, nb)} THEN 1 ELSE 0 END)"
        for i in range(2, nb + 1)
    ) + " END"
    tie = (
        jj.where(is_tie)
        .selectExpr("label", "score", "n", f"{rank} AS _rank")
        .selectExpr("label", "score", f"CAST({tie_bin} AS INT) AS bin")
    )
    return (
        nontie.unionByName(tie)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg(F.col("label").cast("double")), 6).alias("frac_positive"),
            F.round(F.avg("score"), 4).alias("mean_score"),
            F.round(F.min("score"), 2).alias("lo"),
            F.round(F.max("score"), 2).alias("hi"),
        )
        .orderBy("bin")
    )


# CUPED cutoff: events strictly before this day are the pre-period
# covariate; at or after are the experiment metric.
CUPED_CUTOFF = "2024-01-15"

_CUPED_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         user_id % 2 AS variant,
         COALESCE(SUM(CASE WHEN ts < TIMESTAMP '{CUPED_CUTOFF}' THEN value END), 0)
           AS pre,
         COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '{CUPED_CUTOFF}' THEN value END), 0)
           AS post
  FROM events GROUP BY user_id
),
g AS (
  SELECT covar_samp(pre, post) / var_samp(pre) AS theta,
         AVG(pre) AS pre_mean,
         var_samp(post) AS var_post
  FROM per_user
),
adj AS (
  SELECT p.variant, p.post - g.theta * (p.pre - g.pre_mean) AS y,
         g.var_post
  FROM per_user p CROSS JOIN g
)
SELECT variant,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       round(AVG(y), 4) AS adj_mean,
       round(var_samp(y) / MAX(var_post), 6) AS var_ratio
FROM adj GROUP BY variant
ORDER BY variant
"""


@register("events_ab_cuped", "X", oracle=_CUPED_ORACLE,
          doc="CUPED variance reduction for the A/B readout: per-user "
              "pre-period covariate, theta = cov(pre,post)/var(pre), "
              "adjusted metric mean and residual-variance ratio per "
              "variant — the standard experimentation power lever")
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three aggregate passes, no window: users reduce in one
    conditional-aggregate groupBy; theta/means are a one-row broadcast
    cross join; the adjusted metric re-aggregates per variant. At 100 TB
    the per-user rollup is the only real shuffle — exactly how CUPED
    runs in production experiment platforms."""
    ev = load(spark, sf_dir, "events")
    cutoff = F.lit(CUPED_CUTOFF).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("ts") < cutoff, F.col("value"))), F.lit(0.0)).alias("pre"),
        F.coalesce(F.sum(F.when(F.col("ts") >= cutoff, F.col("value"))), F.lit(0.0)).alias("post"),
    ).select("*", (F.col("user_id") % 2).alias("variant"))
    g = per_user.agg(
        (F.covar_samp("pre", "post") / F.var_samp("pre")).alias("theta"),
        F.avg("pre").alias("pre_mean"),
        F.var_samp("post").alias("var_post"),
    )
    adj = per_user.crossJoin(F.broadcast(g)).select(
        "variant",
        (F.col("post") - F.col("theta") * (F.col("pre") - F.col("pre_mean"))).alias("y"),
        "var_post",
    )
    return (
        adj.groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(F.avg("y"), 4).alias("adj_mean"),
            F.round(F.var_samp("y") / F.max("var_post"), 6).alias("var_ratio"),
        )
        .orderBy("variant")
    )


# Two-sided alpha = 0.05, power = 0.80: (z_{0.975} + z_{0.80})^2.
POWER_Z2 = (1.959964 + 0.841621) ** 2
# Minimum detectable effect as a fraction of the metric mean.
POWER_MDE_FRAC = 0.05

_POWER_ORACLE = f"""
WITH s AS (
  SELECT event_type, AVG(value) AS mu, var_samp(value) AS v,
         COUNT(*) AS n_obs
  FROM events GROUP BY event_type
)
SELECT event_type,
       CAST(n_obs AS BIGINT) AS n_obs,
       round(mu, 4) AS mu,
       round({POWER_MDE_FRAC} * mu, 4) AS mde,
       CAST(ceil({POWER_Z2} * 2 * v / pow({POWER_MDE_FRAC} * mu, 2)) AS BIGINT)
         AS n_required_per_variant
FROM s
ORDER BY event_type
"""


@register("stat_power_analysis", "X", oracle=_POWER_ORACLE,
          doc=f"A/B sample-size calculator per metric: n per variant = "
              f"(z_a/2+z_b)^2 * 2 * var / MDE^2 at alpha=0.05, power=0.8, "
              f"MDE={POWER_MDE_FRAC:.0%} of the mean — the pre-experiment "
              "readout that decides whether a test is even runnable")
def stat_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One aggregate pass per metric then pure arithmetic — the cheapest
    query in the experimentation family, and the one that should run
    FIRST (CUPED and the t-test only matter if n_required is
    achievable). The z constants are fixed literals on both sides, so
    the ceil() boundary is deterministic."""
    ev = load(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.var_samp("value").alias("v"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    mde = POWER_MDE_FRAC * F.col("mu")
    return s.select(
        "event_type",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.round("mu", 4).alias("mu"),
        F.round(mde, 4).alias("mde"),
        F.ceil(POWER_Z2 * 2 * F.col("v") / F.pow(mde, 2)).cast("long").alias(
            "n_required_per_variant"
        ),
    )


_MANN_WHITNEY_ORACLE = f"""
WITH lab AS (
  SELECT round(value, {SCORE_QUANT}) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g1
  FROM events WHERE event_type IN ('purchase', 'click')
),
byv AS (
  SELECT v, SUM(g1) AS c1, SUM(1 - g1) AS c2, COUNT(*) AS cnt
  FROM lab GROUP BY v
),
ranked AS (
  SELECT c1, cnt,
         COALESCE(SUM(cnt) OVER (ORDER BY v NULLS FIRST
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cum_before,
         SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2,
         SUM(cnt * cnt * cnt - cnt) OVER () AS tie_term
  FROM byv
),
s AS (
  SELECT MAX(n1) AS n1, MAX(n2) AS n2, MAX(tie_term) AS tie_term,
         SUM(c1 * (cum_before + (cnt + 1) / 2.0)) AS r1
  FROM ranked
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       round(r1 - n1 * (n1 + 1) / 2.0, 4) AS u1,
       round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
             / sqrt(n1 * n2 / 12.0
                    * ((n1 + n2 + 1) - tie_term
                       / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE))), 6) AS z
FROM s
"""


@register("stat_mann_whitney", "X", oracle=_MANN_WHITNEY_ORACLE,
          doc="Mann-Whitney U (Wilcoxon rank-sum) between purchase and "
              "click values: midrank ties, tie-corrected normal "
              "approximation z — the nonparametric significance readout "
              "beside stat_t_test for metrics too skewed for a t-test")
def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank sums never materialize per-row ranks: values collapse to a
    grouped (value → per-group counts) table first — the same midrank-
    from-cumulative-counts formulation as stat_auc, so the expensive
    step is one partial+final groupBy on value plus a window over the
    DISTINCT values only — and values quantize to SCORE_QUANT decimals
    first, so that pass is bounded by range*10^4 rows regardless of the
    row count (same guard as stat_auc / stat_ks_test). The
    tie-correction term Σ(t³−t) falls out of the same grouped table for
    free. At 100 TB the distinct-value table is what you window over —
    never the raw events."""
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    lab = ev.select(
        F.round("value", SCORE_QUANT).alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g1"),
    )
    byv = lab.groupBy("v").agg(
        F.sum("g1").alias("c1"),
        F.sum(1 - F.col("g1")).alias("c2"),
        F.count(F.lit(1)).alias("cnt"),
    )
    w_order = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = byv.select(
        "c1",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_order), F.lit(0)).alias("cum_before"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).over(w_all).alias("tie_term"),
    )
    s = ranked.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max("tie_term").alias("tie_term"),
        F.sum(F.col("c1") * (F.col("cum_before") + (F.col("cnt") + 1) / 2.0)).alias("r1"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1 = F.col("r1") - n1 * (n1 + 1) / 2.0
    sigma = F.sqrt(
        n1 * n2 / 12.0
        * ((n1 + n2 + 1) - F.col("tie_term") / ((n1 + n2) * (n1 + n2 - 1)).cast("double"))
    )
    return s.select(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        F.round(u1, 4).alias("u1"),
        F.round((u1 - n1 * n2 / 2.0) / sigma, 6).alias("z"),
    )


# --- Poisson bootstrap ------------------------------------------------------
BOOTSTRAP_B = 32  # replicas; production uses 100-1000 — same plan, wider union

# Poisson(1) inverse-CDF ladder (cumulative probabilities for k = 0..4);
# rows draw a deterministic uniform from (event_id, replica) so every rerun
# and both engines resample identically — never rand().
_POIS_CDF = (0.367879441, 0.735758882, 0.919698603, 0.981011843, 0.996340153)

_POIS_CASE_SQL = (
    "CASE "
    + " ".join(f"WHEN u < {c} THEN {k}" for k, c in enumerate(_POIS_CDF))
    + " ELSE 5 END"
)

_BOOTSTRAP_ORACLE = f"""
WITH base AS (
  SELECT event_id, value FROM events WHERE event_type = 'purchase'
),
rep AS (
  SELECT b.b, base.value,
         (((event_id % 1000003) * 2654435761 + b.b * 40503) % 1000000)
           / 1000000.0 AS u
  FROM base CROSS JOIN (SELECT unnest(range({BOOTSTRAP_B})) AS b) b
),
w AS (SELECT b, value, {_POIS_CASE_SQL} AS wt FROM rep),
means AS (
  SELECT b, SUM(wt * value) / SUM(wt) AS m FROM w GROUP BY b
)
SELECT CAST({BOOTSTRAP_B} AS BIGINT) AS n_replicas,
       round((SELECT AVG(value) FROM base), 6) AS point_mean,
       round(quantile_cont(m, 0.025), 6) AS ci_lo,
       round(quantile_cont(m, 0.975), 6) AS ci_hi
FROM means
"""


@register("stat_bootstrap_ci", "X", oracle=_BOOTSTRAP_ORACLE,
          doc=f"Poisson-bootstrap 95% CI for the purchase-value mean: "
              f"{BOOTSTRAP_B} replicas, each row's replica weight drawn "
              "Poisson(1) from a deterministic (event_id, replica) uniform "
              "— the distributed bootstrap (no per-replica resample pass, "
              "no rand())")
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why Poisson bootstrap is THE scale formulation: a classical
    resample needs n draws per replica coordinated across the cluster;
    Poisson(1) weights are independent per (row, replica), so the whole
    thing is one map-side weight expression over a replicated scan —
    B× row amplification, fully partial-aggregated, no shuffle beyond
    the B-key groupBy. The deterministic hash uniform makes the CI
    reproducible run-to-run and engine-to-engine (the driver
    hash-compares); swap in a true RNG and nothing else changes."""
    ev = load(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    base = ev.select("event_id", "value")
    reps = spark.range(BOOTSTRAP_B).select(F.col("id").cast("long").alias("b"))
    u = (
        ((F.col("event_id") % 1000003) * F.lit(2654435761) + F.col("b") * 40503)
        % 1000000
    ) / 1000000.0
    wt = F.when(u < _POIS_CDF[0], 0)
    for k, c in enumerate(_POIS_CDF[1:], start=1):
        wt = wt.when(u < c, k)
    wt = wt.otherwise(5)
    means = (
        base.crossJoin(F.broadcast(reps))
        .select("b", "value", wt.alias("wt"))
        .groupBy("b")
        .agg((F.sum(F.col("wt") * F.col("value")) / F.sum("wt")).alias("m"))
    )
    point = base.agg(F.round(F.avg("value"), 6).alias("point_mean"))
    return (
        means.agg(
            F.round(F.percentile("m", 0.025), 6).alias("ci_lo"),
            F.round(F.percentile("m", 0.975), 6).alias("ci_hi"),
        )
        .crossJoin(F.broadcast(point))
        .select(
            F.lit(BOOTSTRAP_B).cast("long").alias("n_replicas"),
            "point_mean",
            "ci_lo",
            "ci_hi",
        )
    )


_KM_ORACLE = """
WITH seq AS (
  SELECT o_custkey, o_orderdate,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate NULLS FIRST, o_orderkey) AS nxt
  FROM orders
),
mx AS (SELECT MAX(o_orderdate) AS mx FROM orders),
dur AS (
  SELECT CAST(date_diff('day', o_orderdate, nxt) AS BIGINT) AS t, 1 AS ev
  FROM seq WHERE nxt IS NOT NULL
  UNION ALL
  SELECT CAST(date_diff('day', o_orderdate, mx.mx) AS BIGINT) AS t, 0 AS ev
  FROM seq CROSS JOIN mx WHERE nxt IS NULL
),
byt AS (
  SELECT t, SUM(ev) AS d, SUM(1 - ev) AS c, COUNT(*) AS cnt FROM dur GROUP BY t
),
risk AS (
  SELECT t, d, c,
         SUM(cnt) OVER (ORDER BY t DESC NULLS LAST
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
  FROM byt
),
km AS (
  SELECT t, d, c, n_risk,
         CASE WHEN MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY t ASC NULLS FIRST
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
              THEN 0.0
              ELSE exp(SUM(CASE WHEN d > 0 AND d < n_risk
                                THEN ln(1 - d / CAST(n_risk AS DOUBLE)) END)
                       OVER (ORDER BY t ASC NULLS FIRST
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         END AS s
  FROM risk
)
SELECT t, CAST(d AS BIGINT) AS d_events, CAST(c AS BIGINT) AS c_censored,
       CAST(n_risk AS BIGINT) AS n_risk, round(s, 6) AS survival
FROM km WHERE d > 0
"""


@register("stat_kaplan_meier", "X", oracle=_KM_ORACLE,
          doc="Kaplan-Meier survival curve for inter-purchase durations "
              "with right-censoring at the corpus horizon: per-duration "
              "at-risk counts via a descending running sum, survival as "
              "exp(Σ ln(1 − d/n)) with an exact zero-absorbing guard — "
              "the churn/time-to-reorder estimator")
def stat_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: durations reduce to the DISTINCT-duration table
    before any window (days-grain → thousands of rows at any corpus
    size), the at-risk count is the O(n) DESC running frame (never the
    O(n²) unbounded-following frame — same discipline as
    timeseries_interpolate), and the cumulative product rides
    exp-of-running-sum-of-logs. Spark's ln() returns NULL at 0 where
    DuckDB returns -inf, so the d = n_risk boundary (survival hits
    exactly zero) is handled by an explicit zero-absorbing flag instead
    of relying on engine-specific log semantics."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_orderdate", F.lead("o_orderdate").over(w).alias("nxt")
    )
    mx = orders.agg(F.max("o_orderdate").alias("mx"))
    events = seq.where(F.col("nxt").isNotNull()).select(
        F.datediff("nxt", "o_orderdate").cast("long").alias("t"), F.lit(1).alias("ev")
    )
    censored = (
        seq.where(F.col("nxt").isNull())
        .crossJoin(F.broadcast(mx))
        .select(F.datediff("mx", "o_orderdate").cast("long").alias("t"), F.lit(0).alias("ev"))
    )
    byt = events.unionAll(censored).groupBy("t").agg(
        F.sum("ev").alias("d"),
        F.sum(1 - F.col("ev")).alias("c"),
        F.count(F.lit(1)).alias("cnt"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = byt.select(
        "t", "d", "c", F.sum("cnt").over(w_desc).alias("n_risk")
    )
    w_asc = Window.orderBy(F.col("t").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hit_zero = (
        F.max(F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)).over(w_asc) == 1
    )
    log_sum = F.sum(
        F.when(
            (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
            F.log(1 - F.col("d") / F.col("n_risk").cast("double")),
        )
    ).over(w_asc)
    km = risk.select(
        "t",
        "d",
        "c",
        "n_risk",
        F.when(hit_zero, F.lit(0.0)).otherwise(F.exp(log_sum)).alias("s"),
    )
    return km.where(F.col("d") > 0).select(
        "t",
        F.col("d").cast("long").alias("d_events"),
        F.col("c").cast("long").alias("c_censored"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.round("s", 6).alias("survival"),
    )


_TWO_PROP_ORACLE = """
WITH arms AS (
  SELECT user_id % 2 AS arm,
         COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
),
s AS (
  SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n1,
         MAX(CASE WHEN arm = 0 THEN conv END) AS c1,
         MAX(CASE WHEN arm = 1 THEN n END) AS n2,
         MAX(CASE WHEN arm = 1 THEN conv END) AS c2
  FROM arms
)
SELECT CAST(COALESCE(n1, 0) AS BIGINT) AS n1,
       CAST(COALESCE(n2, 0) AS BIGINT) AS n2,
       round(c1 / CAST(n1 AS DOUBLE), 6) AS p1,
       round(c2 / CAST(n2 AS DOUBLE), 6) AS p2,
       round((c1 / CAST(n1 AS DOUBLE) - c2 / CAST(n2 AS DOUBLE))
             / sqrt(((c1 + c2) / CAST(n1 + n2 AS DOUBLE))
                    * (1 - (c1 + c2) / CAST(n1 + n2 AS DOUBLE))
                    * (1.0 / n1 + 1.0 / n2)), 6) AS z
FROM s
"""


@register("stat_two_proportions", "X", oracle=_TWO_PROP_ORACLE,
          doc="Two-proportion z-test on purchase conversion between "
              "deterministic A/B arms (user_id parity): pooled-variance z "
              "from one conditional-aggregate pass — the rate-metric "
              "significance readout beside stat_t_test's mean metric")
def stat_two_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same single-pass cost model as stat_t_test: both arms reduce in
    one conditional aggregate (map-side combined), the statistic is
    arithmetic on one row. At 100 TB a conversion-rate readout is
    exactly this plan with the arm column coming from the assignment
    service instead of a hash."""
    ev = load(spark, sf_dir, "events")
    arm = (F.col("user_id") % 2)
    is_conv = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    s = ev.agg(
        F.count(F.when(arm == 0, 1)).alias("n1"),
        F.sum(F.when(arm == 0, is_conv)).alias("c1"),
        F.count(F.when(arm == 1, 1)).alias("n2"),
        F.sum(F.when(arm == 1, is_conv)).alias("c2"),
    )
    # try_divide throughout: an empty arm divides by zero, and NULL (the
    # DuckDB division-by-zero result the oracle produces natively) is the
    # right undefined-statistic answer — ANSI's error is not
    p1 = F.try_divide(F.col("c1"), F.col("n1").cast("double"))
    p2 = F.try_divide(F.col("c2"), F.col("n2").cast("double"))
    pp = F.try_divide(
        F.col("c1") + F.col("c2"), (F.col("n1") + F.col("n2")).cast("double")
    )
    return s.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(
            F.try_divide(
                p1 - p2,
                F.sqrt(
                    pp * (1 - pp)
                    * (F.try_divide(F.lit(1.0), F.col("n1"))
                       + F.try_divide(F.lit(1.0), F.col("n2")))
                ),
            ),
            6,
        ).alias("z"),
    )


_SRM_ORACLE = """
WITH arms AS (
  SELECT user_id % 2 AS arm, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1
),
s AS (
  SELECT MAX(CASE WHEN arm = 0 THEN n_users END) AS n0,
         MAX(CASE WHEN arm = 1 THEN n_users END) AS n1
  FROM arms
)
SELECT CAST(n0 AS BIGINT) AS n_arm0, CAST(n1 AS BIGINT) AS n_arm1,
       round(pow(n0 - (n0 + n1) / 2.0, 2) / ((n0 + n1) / 2.0)
             + pow(n1 - (n0 + n1) / 2.0, 2) / ((n0 + n1) / 2.0), 6) AS chi2,
       pow(n0 - (n0 + n1) / 2.0, 2) / ((n0 + n1) / 2.0)
         + pow(n1 - (n0 + n1) / 2.0, 2) / ((n0 + n1) / 2.0) > 3.841 AS srm_detected
FROM s
"""


@register("events_ab_srm", "X", oracle=_SRM_ORACLE,
          doc="Sample-ratio-mismatch guardrail: chi-square of per-arm "
              "DISTINCT user counts against the expected 50/50 split "
              "(df=1, 5% critical value 3.841) — the experiment-validity "
              "check that must pass before any A/B readout is trusted")
def events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRM is the assignment-bug detector: if the arms' USER counts (not
    event counts — a heavy user inflates events but is one assignment)
    deviate beyond chance from the design ratio, every downstream
    metric comparison is invalid regardless of its p-value. One
    distinct-count aggregate, arithmetic on one row; the verdict
    boolean uses the unrounded statistic so the threshold cannot be
    crossed by rounding."""
    ev = load(spark, sf_dir, "events")
    arms = ev.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.countDistinct("user_id").alias("n_users")
    )
    s = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
    )
    exp = (F.col("n0") + F.col("n1")) / 2.0
    chi2 = F.pow(F.col("n0") - exp, 2) / exp + F.pow(F.col("n1") - exp, 2) / exp
    return s.select(
        F.col("n0").cast("long").alias("n_arm0"),
        F.col("n1").cast("long").alias("n_arm1"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm_detected"),
    )


_KAPPA_ORACLE = """
WITH rated AS (
  SELECT CASE WHEN len(string_split(text, ' ')) > 100 THEN 1 ELSE 0 END AS a,
         CASE WHEN n_chars > 500 THEN 1 ELSE 0 END AS b
  FROM documents
),
s AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree,
         SUM(a) AS a_pos, SUM(b) AS b_pos
  FROM rated
)
SELECT CAST(n AS BIGINT) AS n,
       round(agree / CAST(n AS DOUBLE), 6) AS po,
       round((a_pos * b_pos + (n - a_pos) * (n - b_pos))
             / CAST(n AS DOUBLE) / n, 6) AS pe,
       round((agree / CAST(n AS DOUBLE)
              - (a_pos * b_pos + (n - a_pos) * (n - b_pos)) / CAST(n AS DOUBLE) / n)
             / (1 - (a_pos * b_pos + (n - a_pos) * (n - b_pos)) / CAST(n AS DOUBLE) / n),
             6) AS kappa
FROM s
"""


@register("stat_cohens_kappa", "X", oracle=_KAPPA_ORACLE,
          doc="Cohen's kappa between two deterministic binary raters "
              "(token-count > 100 vs char-count > 500 — correlated "
              "through document length): observed vs chance agreement — "
              "the inter-annotator / classifier-agreement metric raw "
              "percent-agreement overstates")
def stat_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kappa is four counts and arithmetic: one conditional-aggregate
    scan yields n, agreements, and each rater's positive rate; chance
    agreement pe falls out of the marginals. The raters here are cheap
    length heuristics standing in for two labeling models — the point
    is the execution shape (agreement measurement as ONE pass over the
    co-rated corpus, no join between rater outputs)."""
    docs = load(spark, sf_dir, "documents")
    rated = docs.select(
        F.when(F.size(F.split("text", " ")) > 100, 1).otherwise(0).alias("a"),
        F.when(F.col("n_chars") > 500, 1).otherwise(0).alias("b"),
    )
    s = rated.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias("agree"),
        F.sum("a").alias("a_pos"),
        F.sum("b").alias("b_pos"),
    )
    n = F.col("n").cast("double")
    # try_divide: perfect chance agreement (pe = 1) makes kappa 0/0 —
    # undefined (NULL, DuckDB's division result), not an ANSI error
    po = F.try_divide(F.col("agree"), n)
    pe = F.try_divide(
        F.try_divide(
            F.col("a_pos") * F.col("b_pos")
            + (F.col("n") - F.col("a_pos")) * (F.col("n") - F.col("b_pos")),
            n,
        ),
        F.col("n"),
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round(F.try_divide(po - pe, 1 - pe), 6).alias("kappa"),
    )


def _midrank_cte(col: str) -> str:
    """DuckDB CTE body producing (v, mr): the average (mid)rank of each
    distinct value of ``col`` over lineitem — cumulative-count
    formulation, no per-row rank window."""
    return f"""
  SELECT v, cum_before + (cnt + 1) / 2.0 AS mr FROM (
    SELECT {col} AS v, COUNT(*) AS cnt,
           COALESCE(SUM(COUNT(*)) OVER (ORDER BY {col} NULLS FIRST
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum_before
    FROM lineitem GROUP BY {col}
  )"""


_SPEARMAN_ORACLE = f"""
WITH rq AS ({_midrank_cte("l_quantity")}),
rp AS ({_midrank_cte("l_extendedprice")})
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       round(corr(rq.mr, rp.mr), 6) AS spearman_rho,
       round(corr(l.l_quantity, l.l_extendedprice), 6) AS pearson_r
FROM lineitem l
JOIN rq ON rq.v = l.l_quantity
JOIN rp ON rp.v = l.l_extendedprice
"""


@register("stat_spearman", "G", oracle=_SPEARMAN_ORACLE,
          doc="Spearman rank correlation with midrank ties, computed "
              "WITHOUT per-row rank windows: distinct-value midranks from "
              "cumulative counts join back onto the facts, then Pearson "
              "on the ranks — beside agg_corr_pairs' raw-value Pearson "
              "for monotone-but-nonlinear relationships")
def stat_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The naive Spearman ranks every row with a GLOBAL sort window —
    single-task at scale. The aggregate formulation (same trick as
    stat_auc / stat_mann_whitney): ranks are a property of the DISTINCT
    value, so build the (value → midrank) table via grouped cumulative
    counts (|distinct| rows) and join it back keyed on the value —
    uniform keys, broadcast-sized for low-cardinality columns. The
    final correlation is one co-moment pass. Cardinality bound: both
    inputs are fixed-precision domains (l_quantity ~50 integers,
    l_extendedprice cent-denominated money), so |distinct| is bounded
    by the value RANGE, not the row count — a continuous input would
    need the SCORE_QUANT rounding guard stat_auc uses."""
    li = load(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")

    # ONE distinct-count scan serves both columns (r5 verdict item 7:
    # the midrank build re-aggregated the fact twice): stack each row
    # into (column, value) and count per key; the midrank window then
    # runs partitioned by column — two independent partitions, each
    # bounded by that column's distinct count, never the row count
    byv = li.selectExpr(
        "stack(2, 'q', CAST(l_quantity AS DOUBLE), "
        "'p', CAST(l_extendedprice AS DOUBLE)) AS (_cid, v)"
    ).groupBy("_cid", "v").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("_cid").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # persisted: BOTH rank lookups (rq/rp) read this frame — without it
    # each filter branch re-evaluates the stacked aggregate and the scan
    # runs twice, costing more than the two per-column aggregates it
    # replaced (measured in the r6 full bench)
    mr = scratch.persist(byv.select(
        "_cid", "v",
        (F.coalesce(F.sum("cnt").over(w), F.lit(0)) + (F.col("cnt") + 1) / 2.0).alias("mr"),
    ))
    rq = mr.where(F.col("_cid") == "q").select(
        F.col("v").alias("qv"), F.col("mr").alias("q_mr")
    )
    rp = mr.where(F.col("_cid") == "p").select(
        F.col("v").alias("pv"), F.col("mr").alias("p_mr")
    )
    joined = (
        li.join(F.broadcast(rq), F.col("l_quantity") == F.col("qv"))
        .join(rp, F.col("l_extendedprice") == F.col("pv"))
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.corr("q_mr", "p_mr"), 6).alias("spearman_rho"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("pearson_r"),
    )


_GAINS_ORACLE = f"""
WITH lab AS (
  SELECT round(value, {SCORE_QUANT}) AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events WHERE event_type IN ('purchase', 'click')
),
byv AS (
  SELECT score, COUNT(*) AS cnt, SUM(label) AS pos FROM lab GROUP BY score
),
mr AS (
  SELECT score, cnt, pos,
         COALESCE(SUM(cnt) OVER (ORDER BY score DESC NULLS LAST
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         SUM(cnt) OVER () AS n
  FROM byv
),
dec AS (
  -- decile of the MIDRANK (score desc): window-free, tie-consistent
  SELECT LEAST(CAST(ceil((cum_before + (cnt + 1) / 2.0) * 10 / n) AS INTEGER), 10)
           AS decile,
         cnt, pos
  FROM mr
),
g AS (
  SELECT decile, SUM(cnt) AS n_rows, SUM(pos) AS n_pos FROM dec GROUP BY decile
),
tot AS (SELECT SUM(n_pos) AS all_pos FROM g)
SELECT g.decile,
       CAST(g.n_rows AS BIGINT) AS n_rows,
       CAST(g.n_pos AS BIGINT) AS n_pos,
       round(SUM(g.n_pos) OVER (ORDER BY g.decile NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / CAST(tot.all_pos AS DOUBLE), 6) AS cum_gain
FROM g CROSS JOIN tot
"""


@register("stat_gains_table", "X", oracle=_GAINS_ORACLE,
          doc="Cumulative-gains table: score deciles (best first) with "
              "positive counts and the cumulative share of all positives "
              "captured — the targeting readout behind 'the top 20% of "
              "scores capture X% of conversions'; deciles assigned from "
              "grouped midranks, never a per-row ntile window")
def stat_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deciles are a rank property, and ranks are a property of the
    DISTINCT score — so the decile of every row falls out of the grouped
    midrank table (the stat_spearman trick applied to binning). Scores
    are quantized to SCORE_QUANT decimals first, bounding the midrank
    table at range*10^4 rows regardless of row count (continuous scores
    at 100x would otherwise make |distinct| ~ |rows|). Ties share a
    midrank and so land in ONE decile instead of splitting
    engine-dependently; the final cumulative window runs over ten
    rows."""
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    lab = ev.select(
        F.round("value", SCORE_QUANT).alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
    )
    byv = lab.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("pos")
    )
    w_desc = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mr = byv.select(
        "cnt", "pos",
        F.coalesce(F.sum("cnt").over(w_desc), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    dec = mr.select(
        F.least(
            F.ceil((F.col("cum_before") + (F.col("cnt") + 1) / 2.0) * 10 / F.col("n")).cast("int"),
            F.lit(10),
        ).alias("decile"),
        "cnt", "pos",
    )
    g = dec.groupBy("decile").agg(
        F.sum("cnt").alias("n_rows"), F.sum("pos").alias("n_pos")
    )
    tot = g.agg(F.sum("n_pos").alias("all_pos"))
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_pos").cast("long").alias("n_pos"),
            F.round(
                F.sum("n_pos").over(w_cum) / F.col("all_pos").cast("double"), 6
            ).alias("cum_gain"),
        )
    )
