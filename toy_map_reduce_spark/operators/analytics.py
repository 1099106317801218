"""Event-analytics operators (G tier): sessionization, funnel analysis,
SCD-2 change capture, and deterministic mode — the standard clickstream /
warehouse patterns, each as a window/aggregate composition with an exact
DuckDB oracle.

Generalizes the reference's group-and-fold data plane
(``WorkerServiceImpl.scala:123-154`` — the reduce phase is a per-key fold)
to ordered per-key computation: Spark's window functions are the per-key
fold with an ORDER BY, which the MapReduce model cannot express without a
secondary sort.

Scale notes (100 TB):
- Every operator here shuffles ONCE on its partition key (user_id) and all
  window work happens within those partitions — the layout a clickstream
  warehouse would bucket by anyway.
- Timestamps are floored to seconds on BOTH engines before any arithmetic:
  the parquet feed carries sub-microsecond precision that Spark (µs) and
  DuckDB (ns) truncate differently, so second-floor-first is the only
  cross-engine-stable contract (see SURVEY.md §8 hazard notes).
- All expressions are JVM-side built-ins — zero Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load

SESSION_GAP_SEC = 1800  # 30 min inactivity starts a new session


def _events_sec(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.date_trunc("second", F.col("ts")).alias("ts_sec"),
    )


_SESSIONIZE_ORACLE = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, value,
         date_trunc('second', ts) AS ts_sec
  FROM events
),
flagged AS (
  SELECT *,
         CASE WHEN epoch(ts_sec) - epoch(lag(ts_sec) OVER w) > {SESSION_GAP_SEC}
                   OR lag(ts_sec) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec NULLS FIRST, event_id NULLS FIRST)
),
sessions AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec NULLS FIRST, event_id NULLS FIRST
                              ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id,
       CAST(session_idx AS BIGINT) AS session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts_sec) AS session_start,
       CAST(epoch(MAX(ts_sec)) - epoch(MIN(ts_sec)) AS BIGINT) AS duration_sec,
       round(SUM(value), 2) AS sum_value
FROM sessions
GROUP BY user_id, session_idx
"""


@register("sessionize_events", "G", oracle=_SESSIONIZE_ORACLE,
          doc="Batch sessionization: per-user 30-min-gap session boundaries "
              "via lag + running sum of boundary flags, then per-session "
              "rollup — the one-shuffle clickstream pattern")
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization is the canonical gaps-and-islands problem:
    flag rows whose gap from the previous row exceeds the threshold, then a
    running sum of flags labels the islands. One shuffle on user_id; both
    windows and the final groupBy share that partitioning."""
    ev = _events_sec(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    prev = F.lag("ts_sec").over(w)
    is_new = F.when(
        prev.isNull()
        | (F.unix_timestamp("ts_sec") - F.unix_timestamp(prev) > SESSION_GAP_SEC),
        1,
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts_sec", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = ev.withColumn("is_new", is_new).withColumn(
        "session_idx", F.sum("is_new").over(run)
    )
    return sess.groupBy("user_id", F.col("session_idx").cast("long").alias("session_idx")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_sec").alias("session_start"),
        (F.unix_timestamp(F.max("ts_sec")) - F.unix_timestamp(F.min("ts_sec")))
        .cast("long")
        .alias("duration_sec"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


_FUNNEL_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type, date_trunc('second', ts) AS ts_sec FROM events
),
v AS (SELECT user_id, MIN(ts_sec) AS t_view FROM ev WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT ev.user_id, MIN(ev.ts_sec) AS t_click
  FROM ev JOIN v ON ev.user_id = v.user_id
  WHERE ev.event_type = 'click' AND ev.ts_sec > v.t_view
  GROUP BY ev.user_id
),
p AS (
  SELECT ev.user_id, MIN(ev.ts_sec) AS t_purchase
  FROM ev JOIN c ON ev.user_id = c.user_id
  WHERE ev.event_type = 'purchase' AND ev.ts_sec > c.t_click
  GROUP BY ev.user_id
)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase
"""


@register("events_funnel", "G", oracle=_FUNNEL_ORACLE,
          doc="Ordered funnel view→click→purchase: each stage's entry time "
              "must strictly follow the previous stage's; per-stage user "
              "counts. Stage joins are per-user aggregates, never row-level "
              "sequence scans")
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan, one user_id shuffle (r14, guide §2.4). The r13 shape
    was three stage-wise groupBy(user).min(ts) frames joined forward —
    correct, but its executed plan derived the events scan THREE times
    with three user_id exchanges, two broadcast joins, and three
    single-partition count exchanges (AQE reused none of them: each
    branch projects/filters differently, so the exchanges never
    canonicalize equal). The stage recursion collapses into running
    minimums over ONE per-user time-ordered window pass:

      t_view_run(p)  = min view ts among events <= p — for any event at
                       position p this equals the user's global first
                       view ts whenever that view precedes p (order is
                       by (ts, event_id), so earlier position <=> lower
                       ts), which is exactly when the stage predicate
                       ts > t_view can hold;
      a click qualifies iff its ts > t_view_run at its position —
                       bit-identical to "ts > MIN(view ts)" because a
                       qualifying click necessarily sits after the
                       first view in the order;
      t_click_run    = the same running-min trick one level up (its
                       window reuses the SAME (partition, order) spec,
                       so Catalyst stacks both Window operators over one
                       exchange + sort);
      a purchase qualifies iff ts > t_click_run.

    The funnel counts are then one per-user aggregate (no exchange —
    the window output is already hash-clustered by user_id) and one
    single-row rollup. Ties break exactly as before: an event at the
    same truncated second as the stage entry fails the strict >.
    NULL-ts events never enter a running min and never pass >, and a
    user whose only views carry NULL ts still counts in n_view (flag,
    not timestamp) — both matching the join formulation."""
    ev = _events_sec(spark, sf_dir)
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_view = F.col("event_type") == "view"
    is_click = F.col("event_type") == "click"
    is_purchase = F.col("event_type") == "purchase"
    staged = (
        ev.select("user_id", "event_type", "ts_sec", "event_id")
        .withColumn("t_view_run", F.min(F.when(is_view, F.col("ts_sec"))).over(w_run))
        .withColumn(
            "qual_click_ts",
            F.when(is_click & (F.col("ts_sec") > F.col("t_view_run")), F.col("ts_sec")),
        )
        .withColumn("t_click_run", F.min("qual_click_ts").over(w_run))
        .withColumn(
            "qual_purchase",
            is_purchase & (F.col("ts_sec") > F.col("t_click_run")),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max(is_view).alias("has_view"),
        F.max(F.col("qual_click_ts").isNotNull()).alias("has_click"),
        F.max(F.col("qual_purchase")).alias("has_purchase"),
    )
    return per_user.agg(
        F.count(F.when(F.col("has_view"), True)).alias("n_view"),
        F.count(F.when(F.col("has_click"), True)).alias("n_click"),
        F.count(F.when(F.col("has_purchase"), True)).alias("n_purchase"),
    )


_SCD2_ORACLE = """
WITH ev AS (
  SELECT event_id, user_id, event_type, date_trunc('second', ts) AS ts_sec
  FROM events
),
dedup AS (
  SELECT * FROM (
    SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_sec NULLS FIRST, event_id NULLS FIRST) AS prev_type
    FROM ev
  ) WHERE prev_type IS NULL OR prev_type <> event_type
),
ranged AS (
  SELECT user_id, event_type, ts_sec AS effective_from,
         lead(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec NULLS FIRST, event_id NULLS FIRST) AS effective_to
  FROM dedup
)
SELECT user_id, event_type, effective_from, effective_to,
       effective_to IS NULL AS is_current
FROM ranged
"""


@register("cdc_scd2", "G", oracle=_SCD2_ORACLE,
          doc="Slowly-changing-dimension type 2 from a change feed: collapse "
              "consecutive repeats of each user's event_type, then assign "
              "[effective_from, effective_to) validity ranges via lead(); "
              "open range = current row")
def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC fold: a change feed becomes a versioned dimension in two
    window passes over one user_id shuffle — lag() to drop no-op changes,
    lead() to close each version's validity interval. This is the batch
    formulation of what MERGE-based SCD maintenance does row-at-a-time."""
    ev = _events_sec(spark, sf_dir).select("event_id", "user_id", "event_type", "ts_sec")
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    dedup = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .drop("prev_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    ranged = dedup.select(
        "user_id",
        "event_type",
        F.col("ts_sec").alias("effective_from"),
        F.lead("ts_sec").over(w2).alias("effective_to"),
    )
    return ranged.withColumn("is_current", F.col("effective_to").isNull())


_AGG_MODE_ORACLE = """
SELECT user_id, event_type AS mode_type, CAST(cnt AS BIGINT) AS cnt
FROM (
  SELECT user_id, event_type, COUNT(*) AS cnt,
         row_number() OVER (PARTITION BY user_id ORDER BY COUNT(*) DESC NULLS LAST, event_type ASC NULLS FIRST) AS rn
  FROM events
  GROUP BY user_id, event_type
) WHERE rn = 1
"""


@register("agg_mode", "G", oracle=_AGG_MODE_ORACLE,
          doc="Deterministic per-key mode: most frequent event_type per "
              "user, ties broken lexicographically — count-then-rank, never "
              "a value-list collect")
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in mode() has engine-defined tie-breaking, so the portable
    formulation is count + rank with an explicit total order. The groupBy
    pre-aggregates map-side, and the rank window runs over at most
    |distinct types| rows per user — skew-immune."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), F.col("cnt").cast("long").alias("cnt"))
    )


MIN_SUPPORT = 2  # co-occurrence count threshold across orders

_COPURCHASE_ORACLE = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS support
FROM pairs
GROUP BY part_a, part_b
HAVING COUNT(*) >= {MIN_SUPPORT}
"""


@register("itemsets_copurchase", "G", oracle=_COPURCHASE_ORACLE,
          doc="Frequent-pair mining (market-basket / co-occurrence): "
              "distinct items per basket, ordered within-basket self-join, "
              "support threshold — the same inverted-index-join shape as "
              "dedup_ngram_jaccard (basket = posting list), so the same "
              "hot-basket cap applies if baskets are unbounded")
def itemsets_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A basket of k items emits k(k-1)/2 pairs — quadratic in basket
    size, NOT corpus size. TPC-H baskets are ≤7 items so no cap is needed;
    a crawl-scale basket column would reuse capped_shingles' aggregate +
    broadcast anti-join mechanism verbatim (operators/dedup.py)."""
    li = load(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= MIN_SUPPORT)
    )


ZSCORE_THRESHOLD = 2.0

_ZSCORE_ORACLE = f"""
WITH stats AS (
  SELECT user_id, AVG(value) AS mu, stddev_samp(value) AS sigma
  FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id,
       CAST(round((e.value - s.mu) / s.sigma * 1000000) AS BIGINT) AS micro_z
FROM events e JOIN stats s ON e.user_id = s.user_id
WHERE s.sigma > 0 AND abs((e.value - s.mu) / s.sigma) > {ZSCORE_THRESHOLD}
"""


@register("window_outlier_zscore", "G", oracle=_ZSCORE_ORACLE,
          doc="Per-key z-score outlier detection: each event scored against "
              "its user's mean/stddev, |z| > 2 flagged; micro-int z values. "
              "Aggregate-then-join (map-side partial agg), not a per-key "
              "window — same skew logic as the shingle df cap")
def window_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats-then-join beats a window here for the same reason as the
    shingle df count: the aggregate combines map-side so a hot user never
    lands in one task, and the per-user stats frame is small enough to
    broadcast into the scoring pass."""
    ev = load(spark, sf_dir, "events")
    stats = ev.groupBy("user_id").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "user_id")
        .where((F.col("sigma") > 0) & (F.abs(z) > ZSCORE_THRESHOLD))
        .select(
            "event_id",
            "user_id",
            F.round(z * 1_000_000).cast("long").alias("micro_z"),
        )
    )


_RETENTION_ORACLE = """
WITH ev AS (
  SELECT user_id, date_trunc('week', date_trunc('second', ts)) AS wk FROM events
),
cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id),
activity AS (SELECT DISTINCT ev.user_id, cohort_wk, ev.wk
             FROM ev JOIN cohort ON ev.user_id = cohort.user_id)
SELECT cohort_wk,
       CAST(floor((epoch(wk) - epoch(cohort_wk)) / (7 * 86400)) AS BIGINT) AS week_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
FROM activity
GROUP BY 1, 2
"""


@register("events_retention", "G", oracle=_RETENTION_ORACLE,
          doc="Cohort retention matrix: users bucketed by first-activity "
              "week, distinct-active counts per (cohort, week offset) — "
              "the warehouse query behind every retention curve")
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort assignment is one groupBy(user) min; the matrix is a distinct
    + count over (cohort, offset) — two shuffles on user-ish keys, output
    bounded by weeks², independent of event volume."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("week", F.date_trunc("second", F.col("ts"))).alias("wk"),
    )
    cohort = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    activity = ev.join(cohort, "user_id").select("user_id", "cohort_wk", "wk").distinct()
    offset = F.floor(
        (F.unix_timestamp("wk") - F.unix_timestamp("cohort_wk")) / (7 * 86400)
    ).cast("long")
    return activity.groupBy("cohort_wk", offset.alias("week_offset")).agg(
        F.countDistinct("user_id").cast("long").alias("n_active")
    )


_RFM_ORACLE = """
WITH rfm AS (
  SELECT o_custkey AS custkey,
         MAX(o_orderdate) AS last_order,
         COUNT(*) AS frequency,
         SUM(round(o_totalprice, 2)) AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT custkey, frequency,
         ntile(4) OVER (ORDER BY last_order NULLS FIRST, custkey NULLS FIRST) AS r_score,
         ntile(4) OVER (ORDER BY frequency NULLS FIRST, custkey NULLS FIRST) AS f_score,
         ntile(4) OVER (ORDER BY monetary NULLS FIRST, custkey NULLS FIRST) AS m_score
  FROM rfm
)
SELECT CAST(r_score AS INTEGER) AS r_score,
       CAST(f_score AS INTEGER) AS f_score,
       CAST(m_score AS INTEGER) AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(frequency) AS BIGINT) AS total_orders
FROM scored
GROUP BY 1, 2, 3
"""


@register("orders_rfm", "G", oracle=_RFM_ORACLE,
          doc="RFM segmentation: per-customer recency/frequency/monetary "
              "quartiles via ntile (custkey tiebreak = deterministic total "
              "order), segment sizes — the classic customer-value cube")
def orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each ntile is an exact distributed rank (functions/ranks.py:
    range-partitioned row_number + the uneven-remainder band formula) over
    the CUSTOMER-grain frame — no single-task sort anywhere, so the plan
    survives a 10^9-customer feed. The three orderings share ONE rank
    pass (the r6 verdict's top item): the customer aggregate is melted to
    (custkey, metric, value) — 3 narrow rows per customer — and ranked by
    a single with_global_order(part_cols=["metric"]) call, so ONE range
    shuffle + persist + offset broadcast replaces three. Each metric maps
    order-preservingly onto one DOUBLE value column: unix_micros for the
    recency timestamp (NTZ→TIMESTAMP is safe under the session's fixed
    UTC zone) and the exact-in-double count for frequency (both
    injective, so ties still break only on custkey — the repo-wide total
    -order contract the DuckDB oracle shares). A custkey-grain pivot
    (conditional agg, one hash shuffle) reassembles the score triple. The
    range-partition count is size-aware (parts_for): the aggregate is
    counted once off its persisted cache, so a 10^4-customer frame ranks
    in a couple of partitions while a 10^9-customer feed still fans to
    the full shuffle width. The same count doubles as the ntile group
    size (every metric ranks all n customers), so the primitive's
    whole-group totals subtree is skipped entirely."""
    from toy_map_reduce_spark.functions.ranks import (
        ntile_from_rn, parts_for, with_global_order,
    )

    orders = load(spark, sf_dir, "orders")
    rfm = scratch.persist(
        orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round("o_totalprice", 2)).alias("monetary"),
        )
    )
    n_cust = rfm.count()  # materializes the cache; sizes the range shuffle
    melted = rfm.select(
        "custkey",
        "frequency",
        F.expr(
            "stack(3,"
            " 'r', CAST(unix_micros(CAST(last_order AS TIMESTAMP)) AS DOUBLE),"
            " 'f', CAST(frequency AS DOUBLE),"
            " 'm', monetary) AS (metric, value)"
        ),
    )
    ranked = with_global_order(
        melted,
        [F.col("value"), F.col("custkey")],
        part_cols=["metric"],
        rn_col="_rn",
        parts=parts_for(3 * n_cust, spark),
    )
    score = ntile_from_rn(F.col("_rn"), F.lit(n_cust), 4)
    scored = ranked.groupBy("custkey").agg(
        F.first("frequency").alias("frequency"),
        F.max(F.when(F.col("metric") == "r", score)).alias("r_score"),
        F.max(F.when(F.col("metric") == "f", score)).alias("f_score"),
        F.max(F.when(F.col("metric") == "m", score)).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("frequency").cast("long").alias("total_orders"),
    )


_GAPS_ISLANDS_ORACLE = """
WITH months AS (
  SELECT DISTINCT o_custkey AS custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS m
  FROM orders
),
grp AS (
  SELECT custkey, m,
         m - row_number() OVER (PARTITION BY custkey ORDER BY m NULLS FIRST) AS island_key
  FROM months
)
SELECT custkey,
       MIN(m) AS island_start,
       MAX(m) AS island_end,
       CAST(COUNT(*) AS BIGINT) AS island_len
FROM grp
GROUP BY custkey, island_key
"""


@register("window_gaps_islands", "G", oracle=_GAPS_ISLANDS_ORACLE,
          doc="Gaps-and-islands: maximal runs of consecutive active months "
              "per customer via the m - row_number() island-key trick — "
              "one window + one aggregate, no self-join")
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical SQL formulation: a run of consecutive month indexes
    has constant (m - row_number), so islands fall out of a single
    groupBy. Both the window and the aggregate partition on custkey —
    one shuffle total, versus the naive not-exists self-join which
    shuffles the table twice and breaks under skew. Month index is
    integer arithmetic, so the oracle matches exactly."""
    months = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("custkey"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("bigint")
            .alias("m"),
        )
        .distinct()
    )
    w = Window.partitionBy("custkey").orderBy("m")
    grp = months.withColumn("island_key", F.col("m") - F.row_number().over(w))
    return grp.groupBy("custkey", "island_key").agg(
        F.min("m").alias("island_start"),
        F.max("m").alias("island_end"),
        F.count(F.lit(1)).alias("island_len"),
    ).drop("island_key")


_TRANSITIONS_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY date_trunc('second', ts) NULLS FIRST, event_id NULLS FIRST)
           AS next_type
  FROM events
)
SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
FROM ordered
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


@register("events_transitions", "G", oracle=_TRANSITIONS_ORACLE,
          doc="Event-type transition matrix: per-user lead() pairs "
              "(what follows what), corpus-wide counts — the Markov-chain "
              "input behind next-action models and funnel discovery")
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One window shuffle on user_id (bounded per-user history), one
    partial+final count on the (from, to) pair — transition matrices
    over 100 TB of clickstream are exactly this two-stage shape. The
    (ts_sec, event_id) ordering tiebreak keeps lead() deterministic
    when two events share a second."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.date_trunc("second", F.col("ts")), F.col("event_id")
    )
    paired = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    return paired.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )


_AB_TEST_ORACLE = """
WITH assigned AS (
  SELECT user_id % 2 AS bucket, event_type, value
  FROM events
)
SELECT bucket, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(value), 2) AS total_value,
       round(var_samp(value), 4) AS value_var
FROM assigned
GROUP BY bucket, event_type
"""


@register("events_ab_test", "G", oracle=_AB_TEST_ORACLE,
          doc="Experiment readout: deterministic hash-bucket assignment "
              "(user_id % 2 — every rerun and engine agrees on arms), "
              "per-arm per-event-type count/total/variance — the inputs a "
              "t-test needs, computed as one partial+final aggregate")
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment-by-hash is the scale contract for experimentation:
    no assignment table to join (a 10⁹-user assignment join is the #1
    self-inflicted shuffle in experiment pipelines) and arms are stable
    under replays. Variance aggregates merge associatively, so the
    whole readout is one map-side-combining pass."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select((F.col("user_id") % 2).alias("bucket"), "event_type", "value")
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.var_samp("value"), 4).alias("value_var"),
        )
    )


_PARETO_ABC_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT o_custkey, rev_cents,
         CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC NULLS LAST, o_custkey NULLS FIRST
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_cents,
         CAST(SUM(rev_cents) OVER () AS BIGINT) AS total_cents
  FROM cust
)
SELECT o_custkey, rev_cents,
       CASE WHEN cum_cents * 10 <= total_cents * 8 THEN 'A'
            WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
"""


@register("orders_pareto_abc", "G", oracle=_PARETO_ABC_ORACLE,
          doc="Pareto / ABC segmentation: customers ranked by revenue, "
              "running integer-cents share classed A (≤80%), B (≤95%), "
              "C — the inventory/CRM 80-20 analysis, boundary tests in "
              "exact integer arithmetic")
def orders_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The running revenue share needs a global order; it is computed as a
    distributed range-partitioned running sum (functions/ranks.py) over
    the customer aggregate — no single-task sort, so the plan holds at
    10^9 customers, not just at |customers| << |orders|. Class boundaries
    compare cum*10 ≤ total*8 in BIGINT cents, so no float share can flip
    a customer's class cross-engine. The range-shuffle width is sized to
    the aggregate's actual cardinality (parts_for over a persisted count)
    so the toy-scale frame doesn't pay 32 partitions of fixed overhead."""
    from toy_map_reduce_spark.functions.ranks import parts_for, with_global_order

    orders = load(spark, sf_dir, "orders")
    cust = scratch.persist(
        orders.groupBy("o_custkey").agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_cents")
        )
    )
    ranked = with_global_order(
        cust,
        [F.col("rev_cents").desc(), F.col("o_custkey")],
        cumsums={"cum_cents": "rev_cents"},
        totals={"total_cents": "rev_cents"},
        parts=parts_for(cust.count(), spark),
    )
    return ranked.select(
        "o_custkey",
        "rev_cents",
        F.when(F.col("cum_cents") * 10 <= F.col("total_cents") * 8, "A")
        .when(F.col("cum_cents") * 100 <= F.col("total_cents") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


_CONVERSION_TIME_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN date_trunc('second', ts) END) AS first_view,
         MIN(CASE WHEN event_type = 'purchase' THEN date_trunc('second', ts) END) AS first_purchase
  FROM events
  GROUP BY user_id
),
conv AS (
  SELECT user_id,
         CAST(epoch(first_purchase) - epoch(first_view) AS BIGINT) AS secs
  FROM firsts
  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase >= first_view
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       CAST(MIN(secs) AS BIGINT) AS min_secs,
       round(quantile_cont(secs, 0.5), 2) AS median_secs,
       round(quantile_cont(secs, 0.9), 2) AS p90_secs,
       CAST(MAX(secs) AS BIGINT) AS max_secs
FROM conv
"""


@register("events_conversion_time", "G", oracle=_CONVERSION_TIME_ORACLE,
          doc="Time-to-convert distribution: first view → first purchase "
              "latency per user, min/median/p90/max over converters — the "
              "product-analytics companion to events_funnel's stage counts")
def events_conversion_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One conditional-MIN aggregate per user (map-side combining over
    the event stream), then one tiny percentile over |converters| rows —
    the latency distribution costs one scan regardless of event volume.
    Integer epoch seconds in, exact interpolated percentiles out."""
    ev = load(spark, sf_dir, "events")
    sec = F.date_trunc("second", F.col("ts"))
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", sec)).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", sec)).alias("first_purchase"),
    )
    conv = firsts.where(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        (F.unix_timestamp("first_purchase") - F.unix_timestamp("first_view")).alias("secs")
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("secs").cast("bigint").alias("min_secs"),
        F.round(F.expr("percentile(secs, 0.5)"), 2).alias("median_secs"),
        F.round(F.expr("percentile(secs, 0.9)"), 2).alias("p90_secs"),
        F.max("secs").cast("bigint").alias("max_secs"),
    )


_DAU_WAU_ORACLE = """
WITH days AS (
  SELECT DISTINCT date_trunc('day', ts) AS d FROM events
),
acts AS (
  SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
)
SELECT days.d AS day,
       CAST(COUNT(DISTINCT CASE WHEN acts.d = days.d THEN acts.user_id END) AS BIGINT) AS dau,
       CAST(COUNT(DISTINCT acts.user_id) AS BIGINT) AS wau
FROM days
JOIN acts ON acts.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
GROUP BY days.d
"""


@register("events_dau_wau", "G", oracle=_DAU_WAU_ORACLE,
          doc="DAU / trailing-7-day WAU per day: day spine range-joined to "
              "daily-active facts, conditional distinct for the same-day "
              "count — the engagement dashboard's stickiness inputs")
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A trailing-window COUNT DISTINCT is not window-expressible (frames
    can't dedup), so the scalable form is: reduce events to (day, user)
    once — the heavy, map-side-combining step — then credit each activity
    to the 7 trailing windows it belongs to and count distinct per day.
    Join fan-out is exactly 7 rows per (day, user): linear, bounded,
    skew-free.

    r13 optimization (guide §3.1/§3.3): the old form range-joined the day
    spine to the facts ((d >= day-6) AND (d <= day)), a pure non-equi
    predicate that plans as BroadcastNestedLoopJoin — |days| x |acts|
    predicate evaluations, i.e. QUADRATIC in timeline length (a year of
    days = 365 passes over the activity table; the r13 baseline plan
    carried the BNLJ node). Exploding the 7-day offset per activity row
    turns it into a broadcast EQUI join against the day spine (hash
    probe, 7 rows per act regardless of timeline length); the spine join
    also restores the original semantics exactly — a window day with no
    same-day activity never appears, same as the range join. Same rows,
    hash-verified at all three SFs; plan: BroadcastNestedLoopJoin ->
    BroadcastHashJoin."""
    ev = load(spark, sf_dir, "events")
    acts = ev.select(
        F.date_trunc("day", F.col("ts")).alias("d"), "user_id"
    ).distinct()
    days = acts.select("d").distinct().withColumnRenamed("d", "day")
    expanded = acts.select(
        "d", "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k")
    ).select(
        F.timestamp_add("DAY", F.col("k"), F.col("d")).alias("day"),
        "user_id",
        (F.col("k") == 0).alias("same_day"),
    )
    joined = expanded.join(F.broadcast(days), "day")
    return joined.groupBy("day").agg(
        F.count_distinct(
            F.when(F.col("same_day"), F.col("user_id"))
        ).cast("bigint").alias("dau"),
        F.count_distinct("user_id").cast("bigint").alias("wau"),
    )


_PEAK_RATE_ORACLE = """
WITH pts AS (
  SELECT user_id, date_trunc('second', ts) AS ts_sec, event_id FROM events
),
rated AS (
  SELECT user_id,
         CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_sec NULLS FIRST
                             RANGE BETWEEN INTERVAL 60 SECOND PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS trailing_min_cnt
  FROM pts
)
SELECT user_id,
       CAST(MAX(trailing_min_cnt) AS BIGINT) AS peak_per_min,
       CAST(COUNT(*) AS BIGINT) AS total_events
FROM rated
GROUP BY user_id
"""


@register("events_peak_rate", "G", oracle=_PEAK_RATE_ORACLE,
          doc="Peak request rate per user: trailing-60s event count via a "
              "time-RANGE window frame, then per-user max — the "
              "rate-limiting / abuse-detection signal")
def events_peak_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on user_id serves both the RANGE-frame window (time-
    based, so simultaneous events count together regardless of row
    order) and the max aggregate. Per-user history is bounded, so the
    frame scan is linear — the streaming twin would keep a 60s state
    buffer per key (stream_tumbling's state shape)."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", F.date_trunc("second", F.col("ts")).alias("ts_sec")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts_sec"))
        .rangeBetween(-60, 0)
    )
    rated = pts.select(
        "user_id", F.count(F.lit(1)).over(w).alias("trailing_min_cnt")
    )
    return rated.groupBy("user_id").agg(
        F.max("trailing_min_cnt").cast("bigint").alias("peak_per_min"),
        F.count(F.lit(1)).alias("total_events"),
    )


_BEHAVIOR_ENTROPY_ORACLE = """
WITH cnt AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, event_type
),
tot AS (
  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY user_id
)
SELECT cnt.user_id,
       CAST(MAX(n) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       round(SUM(-(CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)), 6)
         AS entropy_bits
FROM cnt JOIN tot USING (user_id)
GROUP BY cnt.user_id
"""


@register("events_behavior_entropy", "G", oracle=_BEHAVIOR_ENTROPY_ORACLE,
          doc="Behavioral entropy per user: Shannon entropy of the "
              "event-type distribution — near-zero entropy (one repeated "
              "action) is the classic bot/scripted-traffic signal")
def events_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two stacked mergeable aggregates (per-(user, type) counts, then
    per-user entropy over ≤ |event types| rows) — the scan dominates at
    any scale, and the entropy arithmetic runs over a handful of rows
    per user. Same sum-of-p-log-p float discipline as agg_entropy
    (6 dp over a few bounded terms)."""
    ev = load(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        cnt.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            F.round(F.sum(-p * F.log2(p)), 6).alias("entropy_bits"),
        )
    )


_GINI_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents NULLS FIRST, o_custkey NULLS FIRST) AS BIGINT) AS i
  FROM cust WHERE cents IS NOT NULL
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s0,
         CAST(SUM(i * cents) AS BIGINT) AS s1
  FROM ranked
)
SELECT n, s0 AS total_cents,
       CAST(floor(1000000.0 * (2 * s1 - (n + 1) * s0) / (n * s0)) AS BIGINT)
         AS gini_micro
FROM sums
"""


@register("orders_gini", "G", oracle=_GINI_ORACLE,
          doc="Gini coefficient of customer revenue concentration via the "
              "rank formula G = (2·Σi·x(i) − (n+1)·Σx) / (n·Σx) over "
              "ascending-sorted integer cents — one number auditing the "
              "80/20 shape orders_pareto_abc classes row-by-row")
def orders_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank formula needs one global ordering over the customer
    aggregate; the rank is a distributed range-partitioned row_number
    (functions/ranks.py) — no single-task sort even at 10^9 customers.
    All sums are exact BIGINTs; only the final normalization divides, and
    the floored micro-int can't flip because both engines divide the same
    exact integers. Range-shuffle width sized to the aggregate's counted
    cardinality (parts_for), same rationale as orders_pareto_abc."""
    from toy_map_reduce_spark.functions.ranks import parts_for, with_global_order

    orders = load(spark, sf_dir, "orders")
    cust = scratch.persist(
        orders.groupBy("o_custkey").agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
        ).where(F.col("cents").isNotNull())
    )
    ranked = with_global_order(
        cust, [F.col("cents"), F.col("o_custkey")], rn_col="i",
        parts=parts_for(cust.count(), spark),
    ).select("cents", "i")
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s0"),
        F.sum(F.col("i") * F.col("cents")).alias("s1"),
    )
    return sums.select(
        "n",
        F.col("s0").alias("total_cents"),
        F.floor(
            1000000.0 * (2 * F.col("s1") - (F.col("n") + 1) * F.col("s0"))
            / (F.col("n") * F.col("s0"))
        ).cast("bigint").alias("gini_micro"),
    )


_LONGEST_STREAK_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY date_trunc('second', ts) NULLS FIRST, event_id NULLS FIRST) AS rn,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY date_trunc('second', ts) NULLS FIRST, event_id NULLS FIRST) AS rn_t
  FROM events
),
runs AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS run_len
  FROM ordered
  GROUP BY user_id, event_type, rn - rn_t
)
SELECT user_id,
       CAST(MAX(run_len) AS BIGINT) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_runs
FROM runs
GROUP BY user_id
"""


@register("events_longest_streak", "G", oracle=_LONGEST_STREAK_ORACLE,
          doc="Longest same-event-type run per user: the rn − rn_by_type "
              "islands trick on equality runs (vs window_gaps_islands' "
              "consecutive-value runs) — streaks, retries, and repeated- "
              "action bursts in one window pass")
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two row_numbers over the same (ts, id) order differ by a constant
    within each maximal same-type run, so runs fall out of one groupBy —
    no self-join, no iteration. Both windows and the aggregate partition
    on user_id: a single shuffle serves everything."""
    ev = load(spark, sf_dir, "events")
    ord_cols = [F.date_trunc("second", F.col("ts")), F.col("event_id")]
    w_all = Window.partitionBy("user_id").orderBy(*ord_cols)
    w_typ = Window.partitionBy("user_id", "event_type").orderBy(*ord_cols)
    ordered = ev.select(
        "user_id",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias("grp"),
    )
    runs = ordered.groupBy("user_id", "event_type", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return runs.groupBy("user_id").agg(
        F.max("run_len").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_runs"),
    )


PATH_LEN = 5    # first-N event types per converting user
PATH_TOP = 10   # most common paths reported

_PATH_TO_CONVERSION_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_id, event_type, date_trunc('second', ts) AS ts_sec
  FROM events
),
conv AS (
  SELECT user_id, MIN(ts_sec) AS conv_ts FROM ev
  WHERE event_type = 'purchase' GROUP BY user_id
),
pre AS (
  SELECT e.user_id, e.event_type, e.ts_sec, e.event_id,
         row_number() OVER (PARTITION BY e.user_id
                            ORDER BY e.ts_sec NULLS FIRST, e.event_id NULLS FIRST) AS rn
  FROM ev e JOIN conv c ON e.user_id = c.user_id
  WHERE e.ts_sec < c.conv_ts
),
paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ts_sec, event_id) AS path
  FROM pre WHERE rn <= {PATH_LEN}
  GROUP BY user_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
FROM paths GROUP BY path
ORDER BY n_users DESC NULLS LAST, path NULLS FIRST
LIMIT {PATH_TOP}
"""


@register("events_path_to_conversion", "G", oracle=_PATH_TO_CONVERSION_ORACLE,
          doc=f"Path-to-conversion mining: the first {PATH_LEN} event types "
              "each user emits strictly before their first purchase, "
              "joined into a '>'-path and ranked by user count — the "
              "attribution-path readout of a clickstream warehouse")
def events_path_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle keys user_id for both the conversion lookup and the
    per-user window; the path assembly sorts the ≤{PATH_LEN} collected
    structs AFTER collection (array_sort), so shuffle arrival order can't
    leak into the string. Path cardinality is bounded by event-type^N, so
    the final count is broadcast-small."""
    ev = _events_sec(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts_sec"
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts_sec").alias("conv_ts"))
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    pre = (
        ev.join(conv, "user_id")
        .where(F.col("ts_sec") < F.col("conv_ts"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PATH_LEN)
    )
    paths = pre.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts_sec", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(PATH_TOP)
    )


_INTERPURCHASE_ORACLE = """
WITH g AS (
  SELECT o_custkey, o_orderdate, o_orderkey,
         date_diff('day',
                   lag(CAST(o_orderdate AS DATE))
                     OVER (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(AVG(gap_days), 4) AS avg_gap_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap_days,
       CAST(MIN(gap_days) AS BIGINT) AS min_gap_days
FROM g GROUP BY o_custkey
HAVING COUNT(*) >= 2
"""


@register("orders_interpurchase", "G", oracle=_INTERPURCHASE_ORACLE,
          doc="Inter-purchase cadence per customer: day gaps between "
              "consecutive orders via lag over a deterministically "
              "tie-broken order sequence — the reorder-cycle input to "
              "churn and replenishment models")
def orders_interpurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on o_custkey serves both the lag window and the final
    aggregate (same-key window→groupBy reuses the exchange); gaps are
    integer day arithmetic on DATE-cast timestamps, exact on both
    engines."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = orders.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        ).alias("gap_days"),
    )
    return (
        g.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("gap_days"), 4).alias("avg_gap_days"),
            F.max("gap_days").cast("long").alias("max_gap_days"),
            F.min("gap_days").cast("long").alias("min_gap_days"),
        )
        .where(F.col("n_orders") >= 2)
    )


_CUMULATIVE_USERS_ORACLE = """
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events
  WHERE ts IS NOT NULL GROUP BY user_id
),
new_by_day AS (
  SELECT first_day AS day, COUNT(*) AS new_users FROM firsts GROUP BY first_day
),
dau AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS dau FROM events
  WHERE ts IS NOT NULL GROUP BY day
)
SELECT d.day,
       CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day NULLS FIRST
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users,
       CAST(d.dau AS BIGINT) AS dau
FROM dau d LEFT JOIN new_by_day n ON d.day = n.day
"""


@register("events_cumulative_users", "G", oracle=_CUMULATIVE_USERS_ORACLE,
          doc="Running distinct-user count by day via the first-touch "
              "trick: min(day) per user, daily new-user counts, cumulative "
              "sum — exact cumulative COUNT DISTINCT without any "
              "distinct-over-window state")
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct is NOT computed as a distinct-over-window (state
    grows with users seen); the first-touch reduction makes it a plain
    cumulative SUM over the tiny daily rollup. Two keyed groupBys + one
    days-length window — the scalable form of a growth dashboard's
    headline curve."""
    ev = load(spark, sf_dir, "events").where(F.col("ts").isNotNull()).select(
        "user_id", F.to_date("ts").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    new_by_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    dau = ev.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    j = dau.join(new_by_day, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users"), "dau"
    )
    return j.select(
        "day",
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
        F.col("dau").cast("long").alias("dau"),
    )


_HOURLY_HEATMAP_ORACLE = """
WITH t AS (
  SELECT isodow(ts) AS dow_iso, hour(ts) AS hr FROM events
),
c AS (
  SELECT dow_iso, hr, COUNT(*) AS n FROM t GROUP BY dow_iso, hr
)
SELECT CAST(dow_iso AS INT) AS dow_iso, CAST(hr AS INT) AS hr,
       CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS frac
FROM c
"""


@register("events_hourly_heatmap", "G", oracle=_HOURLY_HEATMAP_ORACLE,
          doc="Day-of-week × hour activity heatmap with traffic share — "
              "ISO day numbering on both engines (Spark weekday+1 ≡ "
              "DuckDB isodow), sidestepping the Sunday=1 vs Sunday=0 "
              "convention trap the engines disagree on")
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dayofweek() is the classic cross-engine trap (Spark Sunday=1,
    DuckDB Sunday=0); ISO numbering is the only convention both engines
    express natively. The heatmap is a ≤168-cell aggregate — the
    share-of-total window runs over those cells, not raw events."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy(
        (F.weekday("ts") + 1).cast("int").alias("dow_iso"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    return c.select(
        "dow_iso", "hr", "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias("frac"),
    )


_ATTRIBUTION_ORACLE = """
WITH tagged AS (
  SELECT user_id, event_id, ts, event_type, value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events WHERE event_type IN ('purchase', 'click', 'view')
),
seg AS (
  SELECT *,
         SUM(is_p) OVER (PARTITION BY user_id
                         ORDER BY ts DESC NULLS LAST, is_p ASC NULLS FIRST, event_id DESC NULLS LAST
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS seg_id
  FROM tagged
),
grouped AS (
  SELECT user_id, seg_id,
         SUM(CASE WHEN is_p = 0 THEN 1 ELSE 0 END) AS n_touches,
         MAX(CASE WHEN is_p = 1 THEN value END) AS purchase_value
  FROM seg GROUP BY user_id, seg_id
),
credit AS (
  SELECT s.event_type,
         g.purchase_value / g.n_touches AS credit
  FROM seg s
  JOIN grouped g ON s.user_id = g.user_id AND s.seg_id = g.seg_id
  WHERE s.is_p = 0 AND g.purchase_value IS NOT NULL AND g.n_touches > 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_credited_touches,
       round(SUM(credit), 4) AS attributed_value
FROM credit GROUP BY event_type
ORDER BY event_type
"""


@register("events_attribution_linear", "G", oracle=_ATTRIBUTION_ORACLE,
          doc="Linear multi-touch attribution: each purchase's value "
              "split equally across the click/view touches since the "
              "user's previous purchase, rolled up per channel — the "
              "union-tag segment trick (reverse cumulative purchase "
              "count), no interval join")
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Touches attach to their following purchase via a DESC-ordered
    running purchase count (purchases sort before their preceding
    touches at equal ts by the is_p tie-break) — one shuffle on user_id,
    one ordered pass, same linear shape as join_asof. The naive
    formulation is a per-purchase interval join (quadratic in bursty
    users); the segment id makes it a groupBy. Unconverted trailing
    touches fall in a segment with no purchase and drop out."""
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click", "view")
    )
    tagged = ev.select(
        "user_id", "event_id", "ts", "event_type", "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("is_p").asc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = tagged.withColumn("seg_id", F.sum("is_p").over(w))
    grouped = seg.groupBy("user_id", "seg_id").agg(
        F.sum(F.when(F.col("is_p") == 0, 1).otherwise(0)).alias("n_touches"),
        F.max(F.when(F.col("is_p") == 1, F.col("value"))).alias("purchase_value"),
    )
    credit = (
        seg.where(F.col("is_p") == 0)
        .join(grouped, ["user_id", "seg_id"])
        .where(F.col("purchase_value").isNotNull() & (F.col("n_touches") > 0))
        .select(
            "event_type",
            (F.col("purchase_value") / F.col("n_touches")).alias("credit"),
        )
    )
    return (
        credit.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_credited_touches"),
            F.round(F.sum("credit"), 4).alias("attributed_value"),
        )
        .orderBy("event_type")
    )


_RUNRATE_ORACLE = """
WITH today AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders),
mtd AS (
  SELECT SUM(o_totalprice) AS mtd_rev, COUNT(*) AS mtd_orders
  FROM orders, today
  WHERE date_trunc('month', o_orderdate) = date_trunc('month', today.d)
),
prev AS (
  SELECT SUM(o_totalprice) AS prev_rev
  FROM orders, today
  WHERE date_trunc('month', o_orderdate)
        = date_trunc('month', today.d - INTERVAL 1 MONTH)
)
SELECT today.d AS as_of,
       CAST(mtd.mtd_orders AS BIGINT) AS mtd_orders,
       round(mtd.mtd_rev, 2) AS mtd_revenue,
       round(mtd.mtd_rev / day(today.d)
             * day(last_day(today.d)), 2) AS projected_month_revenue,
       round(prev.prev_rev, 2) AS prev_month_revenue,
       round(mtd.mtd_rev / day(today.d) * day(last_day(today.d))
             / prev.prev_rev - 1, 6) AS projected_mom_growth
FROM today, mtd, prev
"""


@register("orders_runrate_projection", "G", oracle=_RUNRATE_ORACLE,
          doc="Month-to-date run-rate projection anchored at the fixture's "
              "max order date (deterministic 'today'): MTD revenue, "
              "linear full-month projection, and projected MoM growth vs "
              "the last complete month")
def orders_runrate_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Today' is max(o_orderdate) — data-anchored, never wall clock, so
    the query is replay-deterministic (the no-now() rule every oracle-
    checked query here lives by). Three scans reduce to one row each and
    cross-join broadcast; at scale the month filters push down to
    partition pruning when orders is date-partitioned."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("d"), "o_totalprice"
    )
    today = o.agg(F.max("d").alias("today"))
    j = o.crossJoin(F.broadcast(today))
    mtd = j.where(
        F.date_trunc("month", "d") == F.date_trunc("month", "today")
    ).agg(
        F.sum("o_totalprice").alias("mtd_rev"),
        F.count(F.lit(1)).alias("mtd_orders"),
        F.max("today").alias("as_of"),
    )
    prev = j.where(
        F.date_trunc("month", "d")
        == F.date_trunc("month", F.add_months(F.col("today"), -1))
    ).agg(F.sum("o_totalprice").alias("prev_rev"))
    proj = (
        F.col("mtd_rev") / F.dayofmonth("as_of") * F.dayofmonth(F.last_day("as_of"))
    )
    return mtd.crossJoin(F.broadcast(prev)).select(
        F.col("as_of"),
        F.col("mtd_orders").cast("long").alias("mtd_orders"),
        F.round("mtd_rev", 2).alias("mtd_revenue"),
        F.round(proj, 2).alias("projected_month_revenue"),
        F.round("prev_rev", 2).alias("prev_month_revenue"),
        F.round(proj / F.col("prev_rev") - 1, 6).alias("projected_mom_growth"),
    )


RULE_MIN_CONF = 0.2

_ASSOC_RULES_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM items),
isup AS (SELECT l_partkey, COUNT(*) AS s FROM items GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS s_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {MIN_SUPPORT}
),
rules AS (
  SELECT part_a AS antecedent, part_b AS consequent, s_ab FROM pairs
  UNION ALL
  SELECT part_b, part_a, s_ab FROM pairs
)
SELECT r.antecedent, r.consequent, CAST(r.s_ab AS BIGINT) AS support,
       round(r.s_ab / CAST(sa.s AS DOUBLE), 6) AS confidence,
       round(r.s_ab / CAST(sa.s AS DOUBLE) / (sc.s / CAST(n.n_baskets AS DOUBLE)), 6) AS lift
FROM rules r
JOIN isup sa ON sa.l_partkey = r.antecedent
JOIN isup sc ON sc.l_partkey = r.consequent
CROSS JOIN n
WHERE r.s_ab / CAST(sa.s AS DOUBLE) >= {RULE_MIN_CONF}
"""


@register("itemsets_assoc_rules", "G", oracle=_ASSOC_RULES_ORACLE,
          doc="Association rules over the frequent pairs: both rule "
              "directions scored with confidence = supp(ab)/supp(a) and "
              "lift vs the consequent's base rate, confidence-thresholded "
              "— the recommendation layer on top of itemsets_copurchase")
def itemsets_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three aggregates (basket count, item supports, pair supports) and
    two joins keyed on item id. The item-support table is |items| rows —
    broadcast below ~100M items, hash-join above; the pair table is
    already support-thresholded before any join, so the rule scoring
    never touches the quadratic candidate space. Lift needs the global
    basket count: one scalar broadcast, the same one-row pattern as
    dedup_incremental."""
    li = load(spark, sf_dir, "lineitem")
    # four consumers (basket count, supports, both join sides) — persist
    # so the distinct shuffle runs once
    items = scratch.persist(li.select("l_orderkey", "l_partkey").distinct())
    n = items.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    isup = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    a, b = items.alias("a"), items.alias("b")
    # both rule directions read this; persist or the basket self-join
    # (the expensive stage) runs twice
    pairs = scratch.persist(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .where(F.col("s_ab") >= MIN_SUPPORT)
    )
    rules = pairs.select(
        F.col("part_a").alias("antecedent"), F.col("part_b").alias("consequent"), "s_ab"
    ).unionAll(
        pairs.select(
            F.col("part_b").alias("antecedent"), F.col("part_a").alias("consequent"), "s_ab"
        )
    )
    sa = isup.select(F.col("l_partkey").alias("antecedent"), F.col("s").alias("s_a"))
    sc = isup.select(F.col("l_partkey").alias("consequent"), F.col("s").alias("s_c"))
    conf = F.col("s_ab") / F.col("s_a").cast("double")
    return (
        rules.join(sa, "antecedent")
        .join(sc, "consequent")
        .crossJoin(F.broadcast(n))
        .where(conf >= RULE_MIN_CONF)
        .select(
            "antecedent",
            "consequent",
            F.col("s_ab").cast("long").alias("support"),
            F.round(conf, 6).alias("confidence"),
            F.round(conf / (F.col("s_c") / F.col("n_baskets").cast("double")), 6).alias("lift"),
        )
    )


_RANK_SHIFT_ORACLE = """
WITH mid AS (
  -- midpoint in integer epoch-microseconds: identical floor on both
  -- engines (interval halving would carry sub-microsecond fractions)
  SELECT make_timestamp((epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2) AS m
  FROM events
),
halves AS (
  SELECT e.event_type,
         SUM(CASE WHEN e.ts < mid.m THEN 1 ELSE 0 END) AS n_first,
         SUM(CASE WHEN e.ts >= mid.m THEN 1 ELSE 0 END) AS n_second
  FROM events e CROSS JOIN mid
  GROUP BY e.event_type
)
SELECT event_type,
       CAST(n_first AS BIGINT) AS n_first,
       CAST(n_second AS BIGINT) AS n_second,
       CAST(rank() OVER (ORDER BY n_first DESC NULLS LAST, event_type NULLS LAST) AS INTEGER) AS rank_first,
       CAST(rank() OVER (ORDER BY n_second DESC NULLS LAST, event_type NULLS LAST) AS INTEGER) AS rank_second,
       CAST(CAST(rank() OVER (ORDER BY n_first DESC NULLS LAST, event_type NULLS LAST) AS INTEGER)
            - CAST(rank() OVER (ORDER BY n_second DESC NULLS LAST, event_type NULLS LAST) AS INTEGER)
            AS INTEGER) AS rank_gain
FROM halves
"""


@register("events_rank_shift", "G", oracle=_RANK_SHIFT_ORACLE,
          doc="Rank-shift (mover) analysis: event-type volume ranks in the "
              "first vs second half of the timeline and the rank delta — "
              "the risers-and-fallers readout trend dashboards lead with")
def events_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both periods reduce in ONE conditional-aggregate pass against a
    broadcast midpoint scalar (never two scans), and the rank windows
    run over the tiny per-type table — |event types| rows, so the
    unpartitioned windows are bounded by construction, not by luck.
    Tie-broken on event_type so ranks are total and cross-engine
    stable."""
    ev = load(spark, sf_dir, "events")
    # midpoint in integer epoch-MICROseconds (unix_timestamp would floor
    # to seconds and disagree with the oracle on boundary rows); the sum
    # is ~3.4e15, exact in the double division, floored by the long cast
    mid = ev.agg(
        F.timestamp_micros(
            ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2).cast("long")
        ).alias("m")
    )
    halves = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ts") < F.col("m"), 1).otherwise(0)).alias("n_first"),
            F.sum(F.when(F.col("ts") >= F.col("m"), 1).otherwise(0)).alias("n_second"),
        )
    )
    w1 = Window.orderBy(F.col("n_first").desc(), F.col("event_type").asc_nulls_last())
    w2 = Window.orderBy(F.col("n_second").desc(), F.col("event_type").asc_nulls_last())
    return halves.select(
        "event_type",
        F.col("n_first").cast("long").alias("n_first"),
        F.col("n_second").cast("long").alias("n_second"),
        F.rank().over(w1).cast("int").alias("rank_first"),
        F.rank().over(w2).cast("int").alias("rank_second"),
        (F.rank().over(w1) - F.rank().over(w2)).cast("int").alias("rank_gain"),
    )


_SEGMENT_MIGRATION_ORACLE = """
WITH years AS (
  SELECT o_custkey, year(o_orderdate) AS yr, SUM(o_totalprice) AS spend
  FROM orders GROUP BY 1, 2
),
bounds AS (SELECT MIN(yr) AS y1, MAX(yr) AS y2 FROM years),
seg AS (
  SELECT y.o_custkey, y.yr,
         CASE WHEN y.spend >= 300000 THEN 'high'
              WHEN y.spend >= 100000 THEN 'mid'
              ELSE 'low' END AS segment
  FROM years y
),
mat AS (
  SELECT COALESCE(a.segment, 'absent') AS seg_from,
         COALESCE(b.segment, 'absent') AS seg_to,
         COUNT(*) AS n_customers
  FROM bounds
  CROSS JOIN (SELECT DISTINCT o_custkey FROM years) c
  LEFT JOIN seg a ON a.o_custkey = c.o_custkey AND a.yr = bounds.y1
  LEFT JOIN seg b ON b.o_custkey = c.o_custkey AND b.yr = bounds.y2
  GROUP BY 1, 2
)
SELECT seg_from, seg_to, CAST(n_customers AS BIGINT) AS n_customers
FROM mat
"""


@register("orders_segment_migration", "G", oracle=_SEGMENT_MIGRATION_ORACLE,
          doc="Customer segment-migration matrix: spend tier in the first "
              "year vs the last year (absent = no orders that year), "
              "customer counts per (from, to) cell — the churn/upgrade "
              "flow chart behind retention planning")
def orders_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One aggregate produces per-(customer, year) spend; segments are a
    CASE over that; the matrix is two keyed left joins from the
    customer spine against the first/last-year segment slices (each a
    fraction of customers, dimension-shaped) and a final tiny groupBy.
    Everything keys on o_custkey — uniform, partial-aggregated, no
    windows."""
    orders = load(spark, sf_dir, "orders")
    years = orders.groupBy(
        "o_custkey", F.year("o_orderdate").alias("yr")
    ).agg(F.sum("o_totalprice").alias("spend"))
    bounds = years.agg(F.min("yr").alias("y1"), F.max("yr").alias("y2"))
    seg = years.select(
        "o_custkey",
        "yr",
        F.when(F.col("spend") >= 300000, "high")
        .when(F.col("spend") >= 100000, "mid")
        .otherwise("low")
        .alias("segment"),
    )
    spine = years.select("o_custkey").distinct().crossJoin(F.broadcast(bounds))
    a = seg.select(
        F.col("o_custkey").alias("ck_a"), F.col("yr").alias("yr_a"),
        F.col("segment").alias("seg_a"),
    )
    b = seg.select(
        F.col("o_custkey").alias("ck_b"), F.col("yr").alias("yr_b"),
        F.col("segment").alias("seg_b"),
    )
    mat = (
        spine.join(a, (F.col("o_custkey") == F.col("ck_a")) & (F.col("yr_a") == F.col("y1")), "left")
        .join(b, (F.col("o_custkey") == F.col("ck_b")) & (F.col("yr_b") == F.col("y2")), "left")
        .groupBy(
            F.coalesce("seg_a", F.lit("absent")).alias("seg_from"),
            F.coalesce("seg_b", F.lit("absent")).alias("seg_to"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    return mat


_FULFILLMENT_ORACLE = """
WITH lat AS (
  SELECT o.o_orderpriority,
         date_diff('day', o.o_orderdate, MIN(l.l_shipdate)) AS days_to_first_ship
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(AVG(days_to_first_ship), 4) AS mean_days,
       round(quantile_cont(days_to_first_ship, 0.50), 4) AS p50_days,
       round(quantile_cont(days_to_first_ship, 0.90), 4) AS p90_days,
       round(quantile_cont(days_to_first_ship, 0.99), 4) AS p99_days
FROM lat GROUP BY o_orderpriority
"""


@register("orders_fulfillment_latency", "G", oracle=_FULFILLMENT_ORACLE,
          doc="Order-to-first-ship latency percentiles per priority class: "
              "per-order min ship date joined back to order dates, then "
              "p50/p90/p99 per priority — the operational SLA readout for "
              "a fulfillment funnel")
def orders_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-order reduction (min ship date) runs BEFORE the percentile
    aggregation — lineitem collapses ~4:1 on its join key first, so the
    sort-based exact percentile sees orders, not lineitems. Priority
    classes are 5 keys; at 100 TB the swap to percentile_approx is one
    function name (agg_approx_percentile demonstrates that surface)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    lat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            "o_orderpriority",
            F.datediff("first_ship", "o_orderdate").alias("days_to_first_ship"),
        )
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.avg("days_to_first_ship"), 4).alias("mean_days"),
        F.round(F.percentile("days_to_first_ship", 0.50), 4).alias("p50_days"),
        F.round(F.percentile("days_to_first_ship", 0.90), 4).alias("p90_days"),
        F.round(F.percentile("days_to_first_ship", 0.99), 4).alias("p99_days"),
    )


_HHI_ORACLE = """
WITH rev AS (
  SELECT l_partkey, l_suppkey,
         SUM(l_extendedprice * (1 - l_discount)) AS r
  FROM lineitem GROUP BY 1, 2
),
tot AS (SELECT l_partkey, SUM(r) AS t, COUNT(*) AS n_supp FROM rev GROUP BY 1)
SELECT r.l_partkey,
       CAST(MAX(t.n_supp) AS BIGINT) AS n_suppliers,
       CAST(round(SUM(pow(r.r / t.t, 2)) * 10000) AS BIGINT) AS hhi
FROM rev r JOIN tot t ON t.l_partkey = r.l_partkey
GROUP BY r.l_partkey
HAVING MAX(t.n_supp) >= 2
"""


@register("orders_supplier_hhi", "G", oracle=_HHI_ORACLE,
          doc="Supplier-concentration index per part: Herfindahl-Hirschman "
              "(sum of squared revenue shares, 0-10000 scale) over each "
              "part's supplier mix — the supply-chain-risk screen; "
              "single-supplier parts excluded (HHI trivially 10000)")
def orders_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained aggregates on the same l_partkey key — Catalyst reuses
    the partitioning, so the share computation costs no extra shuffle;
    the squared-share sum is integer-scaled (×10000, HHI's conventional
    basis points) and rounded to an integer so cross-engine float fuzz
    cannot flip a row."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r")
    )
    tot = rev.groupBy("l_partkey").agg(
        F.sum("r").alias("t"), F.count(F.lit(1)).alias("n_supp")
    )
    return (
        rev.join(tot, "l_partkey")
        .groupBy("l_partkey")
        .agg(
            F.max("n_supp").cast("long").alias("n_suppliers"),
            # try_divide: a part with zero total revenue has no shares
            F.round(F.sum(F.pow(F.try_divide(F.col("r"), F.col("t")), 2)) * 10000)
            .cast("long").alias("hhi"),
        )
        .where(F.col("n_suppliers") >= 2)
    )


_MARKOV_ACC_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS nxt
  FROM events
),
pairs AS (SELECT event_type AS cur, nxt FROM seq WHERE nxt IS NOT NULL),
trans AS (SELECT cur, nxt, COUNT(*) AS n FROM pairs GROUP BY cur, nxt),
pred AS (
  SELECT cur, nxt AS predicted FROM (
    SELECT cur, nxt, row_number() OVER (PARTITION BY cur ORDER BY n DESC NULLS LAST, nxt NULLS FIRST) AS rn
    FROM trans
  ) WHERE rn = 1
)
SELECT p.cur AS state,
       pr.predicted,
       CAST(SUM(p2.n) AS BIGINT) AS n_transitions,
       CAST(SUM(CASE WHEN p2.nxt = pr.predicted THEN p2.n ELSE 0 END) AS BIGINT) AS n_correct,
       round(SUM(CASE WHEN p2.nxt = pr.predicted THEN p2.n ELSE 0 END)
             / CAST(SUM(p2.n) AS DOUBLE), 6) AS accuracy
FROM (SELECT DISTINCT cur FROM trans) p
JOIN pred pr ON pr.cur = p.cur
JOIN trans p2 ON p2.cur = p.cur
GROUP BY p.cur, pr.predicted
"""


@register("events_markov_accuracy", "G", oracle=_MARKOV_ACC_ORACLE,
          doc="First-order Markov next-event baseline evaluated in-corpus: "
              "per-state argmax transition as the prediction, accuracy = "
              "share of observed transitions it gets right — the sanity "
              "baseline every sequence model must beat")
def events_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train and evaluate in two aggregates over the same transition
    table: pair counts (one lead window per user — bounded state, then a
    partial-aggregated groupBy), argmax via the (n desc, state) total
    order, and accuracy by joining predictions back onto the counts —
    the transition matrix is |states|² rows, so every join is
    broadcast-sized regardless of corpus scale."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "event_type", F.lead("event_type").over(w).alias("nxt"))
        .where(F.col("nxt").isNotNull())
        .select(F.col("event_type").alias("cur"), "nxt")
    )
    trans = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    # argmax tiebreak must be (n desc, nxt ASC) — max(struct(n, nxt)) would
    # break ties toward the LARGEST state name; use min over negated n
    pred = (
        trans.groupBy("cur")
        .agg(F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("nxt").alias("nxt"))).alias("m"))
        .select("cur", F.col("m.nxt").alias("predicted"))
    )
    return (
        trans.join(pred, "cur")
        .groupBy(F.col("cur").alias("state"), "predicted")
        .agg(
            F.sum("n").cast("long").alias("n_transitions"),
            F.sum(F.when(F.col("nxt") == F.col("predicted"), F.col("n")).otherwise(0))
            .cast("long").alias("n_correct"),
        )
        .select(
            "state", "predicted", "n_transitions", "n_correct",
            F.round(F.col("n_correct") / F.col("n_transitions").cast("double"), 6).alias("accuracy"),
        )
    )


_HIERARCHY_SHARE_ORACLE = """
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         SUM(o.o_totalprice) AS nation_rev
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2
),
reg AS (SELECT region, SUM(nation_rev) AS region_rev FROM rev GROUP BY 1),
tot AS (SELECT SUM(nation_rev) AS grand FROM rev)
SELECT rev.region, rev.nation,
       round(rev.nation_rev, 2) AS nation_rev,
       round(rev.nation_rev / reg.region_rev, 6) AS share_of_region,
       round(reg.region_rev / tot.grand, 6) AS region_share_of_total
FROM rev JOIN reg ON reg.region = rev.region CROSS JOIN tot
"""


@register("orders_hierarchy_share", "G", oracle=_HIERARCHY_SHARE_ORACLE,
          doc="Percent-of-parent through the region→nation hierarchy: each "
              "nation's share of its region and each region's share of "
              "the total, from one fact aggregation re-rolled twice — "
              "the drill-down contribution view next to agg_rollup's "
              "subtotal grid")
def orders_hierarchy_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact table aggregates ONCE (orders → nation grain, keyed
    through two broadcast-sized dimension joins); region totals and the
    grand total re-aggregate the already-tiny nation table, and both
    join back as broadcasts. Contrast a window formulation, which would
    re-shuffle the fact rows per level."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum("o_totalprice").alias("nation_rev"))
    )
    reg = rev.groupBy("region").agg(F.sum("nation_rev").alias("region_rev"))
    tot = rev.agg(F.sum("nation_rev").alias("grand"))
    return (
        rev.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region", "nation",
            F.round("nation_rev", 2).alias("nation_rev"),
            F.round(F.col("nation_rev") / F.col("region_rev"), 6).alias("share_of_region"),
            F.round(F.col("region_rev") / F.col("grand"), 6).alias("region_share_of_total"),
        )
    )


_DUP_PAYMENTS_ORACLE = """
SELECT o_custkey, o_orderdate, round(o_totalprice, 2) AS amount,
       CAST(COUNT(*) AS BIGINT) AS n_dupes,
       CAST(MIN(o_orderkey) AS BIGINT) AS first_orderkey
FROM orders
GROUP BY o_custkey, o_orderdate, round(o_totalprice, 2)
HAVING COUNT(*) > 1
"""


@register("orders_duplicate_payments", "G", oracle=_DUP_PAYMENTS_ORACLE,
          doc="Duplicate-payment audit: orders sharing (customer, date, "
              "amount) — the double-charge screen every finance pipeline "
              "runs; one composite-key aggregate, map-side combined")
def orders_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact-table cousin of dedup_exact: the composite business key
    plays the content hash's role, the groupBy partial-aggregates so a
    pathological duplicate storm stays one combiner row per task, and
    amounts are rounded to cents BEFORE grouping so float representation
    can't split a true duplicate into two groups."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            "o_custkey", "o_orderdate", F.round("o_totalprice", 2).alias("amount")
        )
        .agg(
            F.count(F.lit(1)).alias("n_dupes"),
            F.min("o_orderkey").alias("first_orderkey"),
        )
        .where(F.col("n_dupes") > 1)
    )


_WATERFALL_ORACLE = """
WITH monthly AS (
  SELECT c.c_mktsegment AS segment,
         CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
         SUM(o.o_totalprice) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
mx AS (
  SELECT MAX(month) AS m1, MAX(month) - INTERVAL 1 MONTH AS m0 FROM monthly
),
cur AS (
  SELECT segment, rev FROM monthly, mx WHERE month = CAST(mx.m1 AS DATE)
),
prev AS (
  SELECT segment, rev FROM monthly, mx WHERE month = CAST(mx.m0 AS DATE)
)
SELECT COALESCE(cur.segment, prev.segment) AS segment,
       round(COALESCE(prev.rev, 0), 2) AS rev_prior,
       round(COALESCE(cur.rev, 0), 2) AS rev_latest,
       round(COALESCE(cur.rev, 0) - COALESCE(prev.rev, 0), 2) AS delta
FROM cur FULL OUTER JOIN prev ON prev.segment = cur.segment
"""


@register("orders_waterfall", "G", oracle=_WATERFALL_ORACLE,
          doc="Month-over-month revenue waterfall: the latest month's "
              "per-segment revenue against the prior month with signed "
              "deltas — the decomposition that explains WHICH segments "
              "moved a topline change; segments absent a month contribute "
              "their full swing")
def orders_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One fact aggregation to (segment, month) grain through a keyed
    dimension join; the waterfall itself is two filters of that tiny
    rollup against a broadcast (latest, prior) month pair. The spine is
    the FULL OUTER union of segments present in EITHER month (revenue
    coalesced to 0 on the absent side): a segment with prior-month
    revenue but none in the latest month still contributes its full
    negative swing, which is what makes the per-segment deltas sum to
    the topline move — the whole point of a waterfall."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.trunc("o_orderdate", "month").alias("month"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    mx = monthly.agg(
        F.max("month").alias("m1"),
        F.add_months(F.max("month"), -1).alias("m0"),
    )
    t = monthly.crossJoin(F.broadcast(mx))
    cur = t.where(F.col("month") == F.col("m1")).select("segment", F.col("rev").alias("rev_latest"))
    prev = t.where(F.col("month") == F.col("m0")).select("segment", F.col("rev").alias("rev_prior"))
    return (
        cur.join(prev, "segment", "full_outer")
        .select(
            "segment",
            F.round(F.coalesce("rev_prior", F.lit(0.0)), 2).alias("rev_prior"),
            F.round(F.coalesce("rev_latest", F.lit(0.0)), 2).alias("rev_latest"),
            F.round(
                F.coalesce("rev_latest", F.lit(0.0))
                - F.coalesce("rev_prior", F.lit(0.0)),
                2,
            ).alias("delta"),
        )
    )


_COPRESENCE_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
                   IS NULL
                   OR date_diff('second',
                                lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST),
                                ts) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
tagged AS (
  SELECT user_id, event_type,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_no
  FROM seq
),
present AS (SELECT DISTINCT user_id, session_no, event_type FROM tagged),
n_sessions AS (SELECT COUNT(DISTINCT (user_id, session_no)) AS total FROM present)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(COUNT(*) AS BIGINT) AS n_sessions_together,
       round(COUNT(*) / CAST(ns.total AS DOUBLE), 6) AS support
FROM present a
JOIN present b
  ON a.user_id = b.user_id AND a.session_no = b.session_no
 AND a.event_type < b.event_type
CROSS JOIN n_sessions ns
GROUP BY a.event_type, b.event_type, ns.total
"""


@register("events_session_copresence", "G", oracle=_COPRESENCE_ORACLE,
          doc="Within-session event-type co-presence: type pairs appearing "
              "in the same 30-minute-gap session with session support — "
              "market-basket mining where the basket is a computed "
              "session, not a given order")
def events_session_copresence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session assembly is the gaps-and-islands pass (per-user windows,
    bounded state); the basket join then runs on the DISTINCT
    (session, type) presence table — a session with 500 clicks
    contributes each type once, so pair fan-out is bounded by the TYPE
    count squared per session, never event count. The same cap logic as
    itemsets_copurchase, earned by the distinct instead of a threshold."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    seq = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0).alias("new_s"),
    )
    w_run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # The presence table feeds THREE consumers (a-side, b-side, total),
    # and without the persist each re-derives the whole scan + session
    # window stack. The distinct (session, type) table is bounded by
    # sessions x types, far smaller than events.
    present = scratch.persist(
        seq.select(
            "user_id", "event_type", F.sum("new_s").over(w_run).alias("session_no")
        )
        .distinct()
    )
    total = present.select("user_id", "session_no").distinct().agg(
        F.count(F.lit(1)).alias("total")
    )
    a, b = present.alias("a"), present.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_no") == F.col("b.session_no"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
        .agg(F.count(F.lit(1)).alias("n_sessions_together"))
        .crossJoin(F.broadcast(total))
        .select(
            "type_a", "type_b",
            F.col("n_sessions_together").cast("long").alias("n_sessions_together"),
            F.round(F.col("n_sessions_together") / F.col("total").cast("double"), 6).alias("support"),
        )
    )


_HALFLIFE_ORACLE = """
WITH first_seen AS (
  SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0 FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id,
         CAST(date_diff('day', f.d0, CAST(date_trunc('day', e.ts) AS DATE)) // 7 AS INTEGER) AS wk
  FROM events e JOIN first_seen f ON f.user_id = e.user_id
),
cohort AS (SELECT COUNT(*) AS n0 FROM first_seen),
ret AS (
  SELECT wk, COUNT(*) / CAST(c.n0 AS DOUBLE) AS rate
  FROM activity CROSS JOIN cohort c
  WHERE wk >= 1
  GROUP BY wk, c.n0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_weeks,
       round(regr_slope(ln(rate), wk), 6) AS log_slope,
       round(CASE WHEN regr_slope(ln(rate), wk) < 0
                  THEN -ln(2) / regr_slope(ln(rate), wk) END, 4) AS half_life_weeks,
       round(exp(regr_intercept(ln(rate), wk)), 6) AS fitted_week0
FROM ret
"""


@register("events_retention_halflife", "X", oracle=_HALFLIFE_ORACLE,
          doc="Retention half-life: weekly return rates (weeks since each "
              "user's first day) fitted to exponential decay by linear "
              "regression on the log — the single number that summarizes "
              "the retention curve events_retention tabulates; NULL "
              "half-life when the slope isn't negative")
def events_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curve fitting as an aggregate: ln(rate) ~ week through
    regr_slope/regr_intercept (streaming co-moments, one pass over the
    weeks-sized table). The heavy work is the per-user first-day join
    and the distinct (user, week) reduction — both keyed on user_id.
    Week 0 is excluded from the fit (it is 1.0 by construction and
    would bias the slope)."""
    ev = load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    first = ev.groupBy("user_id").agg(F.min(day).alias("d0"))
    activity = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            F.floor(F.datediff(day, F.col("d0")) / 7).cast("int").alias("wk"),
        )
        .distinct()
    )
    n0 = first.agg(F.count(F.lit(1)).alias("n0"))
    ret = (
        activity.where(F.col("wk") >= 1)
        .groupBy("wk")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(n0))
        .select("wk", (F.col("n") / F.col("n0").cast("double")).alias("rate"))
    )
    slope = F.regr_slope(F.log("rate"), F.col("wk").cast("double"))
    icept = F.regr_intercept(F.log("rate"), F.col("wk").cast("double"))
    return ret.agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
        F.round(slope, 6).alias("log_slope"),
        F.round(
            F.when(slope < 0, -F.log(F.lit(2.0)) / slope), 4
        ).alias("half_life_weeks"),
        F.round(F.exp(icept), 6).alias("fitted_week0"),
    )


_TEMPORAL_SIM_ORACLE = """
WITH how AS (
  SELECT event_type,
         (isodow(ts) - 1) * 24 + hour(ts) AS hw,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
norm AS (
  SELECT event_type, hw, n,
         sqrt(SUM(n * n) OVER (PARTITION BY event_type)) AS nrm
  FROM how
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       round(SUM(a.n * b.n / (a.nrm * b.nrm)), 6) AS cosine
FROM norm a
JOIN norm b ON a.hw = b.hw AND a.event_type < b.event_type
GROUP BY a.event_type, b.event_type
"""


@register("events_temporal_similarity", "G", oracle=_TEMPORAL_SIM_ORACLE,
          doc="Behavioral-fingerprint similarity: each event type's "
              "168-bin hour-of-week activity profile compared pairwise by "
              "cosine — types that co-move temporally (bot traffic, "
              "batch jobs) cluster near 1.0; the join is keyed on the "
              "hour bin, never a profile cross product")
def events_temporal_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The profile table is |types| × 168 rows after one rollup — the
    pairwise cosine then decomposes into a sum over the SHARED hour
    bins (sparse dot product via the hw equi-join), so no profile
    vectors ever materialize as arrays and no pair loop exists. ISO
    day-of-week is derived with the pinned (dayofweek+5)%7+1
    convention; all arithmetic is exact-integer until the final
    normalized sum."""
    ev = load(spark, sf_dir, "events")
    iso_dow = (F.dayofweek("ts") + 5) % 7 + 1
    how = ev.groupBy(
        "event_type",
        ((iso_dow - 1) * 24 + F.hour("ts")).alias("hw"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type")
    norm = how.select(
        "event_type", "hw", "n",
        F.sqrt(F.sum(F.col("n") * F.col("n")).over(w)).alias("nrm"),
    )
    a, b = norm.alias("a"), norm.alias("b")
    return (
        a.join(
            b,
            (F.col("a.hw") == F.col("b.hw"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.round(
                F.sum(F.col("a.n") * F.col("b.n") / (F.col("a.nrm") * F.col("b.nrm"))),
                6,
            ).alias("cosine")
        )
    )


_DISCOUNT_BANDS_ORACLE = """
SELECT CAST(round(l_discount * 100) AS INTEGER) AS discount_pct,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       round(AVG(l_quantity), 4) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS net_revenue,
       CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,4))) AS DOUBLE) AS discount_given
FROM lineitem
GROUP BY 1
"""


@register("orders_discount_bands", "G", oracle=_DISCOUNT_BANDS_ORACLE,
          doc="Discount-band effectiveness: per discount percentage point, "
              "line volume, average quantity, net revenue, and the margin "
              "given away — the pricing table behind 'does a deeper "
              "discount actually move quantity'")
def orders_discount_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hash aggregate on an integer-rounded band key (rounding BEFORE
    grouping, the same float-key discipline as
    orders_duplicate_payments). Reading across rows answers the pricing
    question directly: if avg_qty barely rises with the band while
    discount_given grows linearly, the discount is charity."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.round(F.col("l_discount") * 100).cast("int").alias("discount_pct"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .cast("decimal(38,4)")).cast("double").alias("net_revenue"),
            F.sum((F.col("l_extendedprice") * F.col("l_discount"))
                  .cast("decimal(38,4)")).cast("double").alias("discount_given"),
        )
    )


_NEW_RETURNING_ORACLE = """
WITH first_seen AS (
  SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0
  FROM events GROUP BY user_id
),
daily AS (
  SELECT DISTINCT CAST(date_trunc('day', e.ts) AS DATE) AS day, e.user_id, f.d0
  FROM events e JOIN first_seen f ON f.user_id = e.user_id
)
SELECT day,
       CAST(SUM(CASE WHEN day = d0 THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       CAST(SUM(CASE WHEN day > d0 THEN 1 ELSE 0 END) AS BIGINT) AS returning_users,
       round(SUM(CASE WHEN day > d0 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS returning_share
FROM daily GROUP BY day
"""


@register("events_new_vs_returning", "G", oracle=_NEW_RETURNING_ORACLE,
          doc="Daily new-vs-returning user mix: each active user tagged by "
              "whether today is their first-seen day — the growth-"
              "composition curve (a rising DAU that is all 'new' churns; "
              "all 'returning' stalls)")
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen is one min-aggregate per user (the same spine
    feature_churn_labels and events_retention build); tagging is a
    keyed join back and the mix is a per-day conditional count over the
    DISTINCT (day, user) presence table, so heavy users count once per
    day. All keys uniform, no windows."""
    ev = load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    first = ev.groupBy("user_id").agg(F.min(day).alias("d0"))
    daily = (
        ev.select(day.alias("day"), "user_id")
        .distinct()
        .join(first, "user_id")
    )
    return daily.groupBy("day").agg(
        F.sum(F.when(F.col("day") == F.col("d0"), 1).otherwise(0)).cast("long").alias("new_users"),
        F.sum(F.when(F.col("day") > F.col("d0"), 1).otherwise(0)).cast("long").alias("returning_users"),
        F.round(
            F.sum(F.when(F.col("day") > F.col("d0"), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("returning_share"),
    )


_WHALE_CURVE_ORACLE = """
WITH per_user AS (
  SELECT user_id, round(SUM(value), 2) AS v FROM events GROUP BY user_id
),
byv AS (
  SELECT v, COUNT(*) AS cnt, SUM(v) AS tot_v FROM per_user GROUP BY v
),
mr AS (
  SELECT v, cnt, tot_v,
         COALESCE(SUM(cnt) OVER (ORDER BY v DESC NULLS LAST
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
         SUM(cnt) OVER () AS n
  FROM byv
),
dec AS (
  SELECT LEAST(CAST(ceil((cum_before + (cnt + 1) / 2.0) * 10 / n) AS INTEGER), 10)
           AS decile,
         cnt, tot_v
  FROM mr
),
g AS (SELECT decile, SUM(cnt) AS n_users, SUM(tot_v) AS rev FROM dec GROUP BY decile),
tot AS (SELECT SUM(rev) AS grand FROM g)
SELECT g.decile,
       CAST(g.n_users AS BIGINT) AS n_users,
       round(g.rev, 2) AS revenue,
       round(g.rev / tot.grand, 6) AS revenue_share,
       round(SUM(g.rev) OVER (ORDER BY g.decile NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / tot.grand, 6)
         AS cum_share
FROM g CROSS JOIN tot
"""


@register("events_whale_curve", "G", oracle=_WHALE_CURVE_ORACLE,
          doc="Whale curve: users bucketed into value deciles (biggest "
              "spenders first) with revenue shares and the cumulative "
              "concentration curve — 'the top 10% of users drive X% of "
              "value'; deciles from grouped midranks, the same window-"
              "free binning as stat_gains_table")
def events_whale_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user totals are one partial-aggregated pass; deciles fall out
    of the distinct-total midrank table (users with EQUAL totals share a
    decile — the property that keeps the cut deterministic cross-
    engine); the curve itself windows over ten rows. Reading cum_share
    at decile 1 against orders_pareto_abc's customer version shows
    whether event value concentrates harder than order revenue.

    The per-user total is rounded to cents BEFORE it becomes the midrank
    grouping key: float accumulation order differs between Spark partial
    aggregation and any other engine, so grouping on the raw double can
    split tie groups nondeterministically and shift decile cuts. Rounding
    the key (mirrored in the oracle) makes the tie structure — and hence
    the deciles — engine- and partitioning-independent, the same guard
    orders_duplicate_payments applies to its float key."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.round(F.sum("value"), 2).alias("v"))
    byv = per_user.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("tot_v")
    )
    w_desc = Window.orderBy(F.col("v").desc()).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mr = byv.select(
        "cnt", "tot_v",
        F.coalesce(F.sum("cnt").over(w_desc), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    dec = mr.select(
        F.least(
            F.ceil((F.col("cum_before") + (F.col("cnt") + 1) / 2.0) * 10 / F.col("n")).cast("int"),
            F.lit(10),
        ).alias("decile"),
        "cnt", "tot_v",
    )
    g = dec.groupBy("decile").agg(
        F.sum("cnt").alias("n_users"), F.sum("tot_v").alias("rev")
    )
    tot = g.agg(F.sum("rev").alias("grand"))
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            F.col("n_users").cast("long").alias("n_users"),
            F.round("rev", 2).alias("revenue"),
            F.round(F.col("rev") / F.col("grand"), 6).alias("revenue_share"),
            F.round(F.sum("rev").over(w_cum) / F.col("grand"), 6).alias("cum_share"),
        )
    )
