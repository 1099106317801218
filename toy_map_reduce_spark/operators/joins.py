"""Join operators (G tier). The reference has NO joins (SURVEY.md §2.D) —
its model could express them only as hand-built reduce-side merges; here
each variant is declared and Catalyst/AQE picks the physical strategy.

Scale notes (100 TB):

* ``join_broadcast`` pins the strategy with ``F.broadcast`` for dimension
  tables — no shuffle of the 100 TB fact side at all.
* The fact-fact equi-joins shuffle both sides on the join key; AQE
  (enabled in the session factory) coalesces post-shuffle partitions and
  splits skewed ones at runtime.
* ``join_range`` keeps an equi conjunct (`l_orderkey = o_orderkey`) so the
  planner can hash/sort-merge on it and evaluate the interval predicate as
  a post-join filter — a pure theta join would be a cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load


_JOIN_INNER_ORACLE = """
SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, o.o_orderstatus,
       l.l_extendedprice * (1 - l.l_discount) AS net_price
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus <> 'P'
"""


@register("join_inner", "G", oracle=_JOIN_INNER_ORACLE,
          doc="Equi inner join fact-to-fact (shuffle hash / sort-merge, AQE-tuned)")
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") != "P")
    return li.join(orders, li.l_orderkey == orders.o_orderkey, "inner").select(
        "l_orderkey",
        "l_linenumber",
        "o_custkey",
        "o_orderstatus",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


_JOIN_LEFT_ORACLE = """
SELECT o.o_orderkey, o.o_totalprice, b.l_linenumber, b.l_quantity
FROM orders o
LEFT JOIN (SELECT l_orderkey, l_linenumber, l_quantity
           FROM lineitem WHERE l_quantity > 45) b
  ON o.o_orderkey = b.l_orderkey
"""


@register("join_left", "G", oracle=_JOIN_LEFT_ORACLE,
          doc="Left outer join with an unmatched right side (null-extension semantics)")
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    bulky = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )
    return orders.join(bulky, orders.o_orderkey == bulky.l_orderkey, "left").select(
        "o_orderkey", "o_totalprice", "l_linenumber", "l_quantity"
    )


_JOIN_SEMI_ORACLE = """
SELECT c.c_custkey, c.c_name, c.c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
"""


@register("join_semi", "G", oracle=_JOIN_SEMI_ORACLE,
          doc="Left semi join (EXISTS): customers having a big order")
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 150000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


_JOIN_ANTI_ORACLE = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
"""


@register("join_anti", "G", oracle=_JOIN_ANTI_ORACLE,
          doc="Left anti join (NOT EXISTS): customers with no urgent orders")
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    urgent = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


_JOIN_FULL_ORACLE = """
SELECT a.custkey AS f_custkey, a.n_f, b.custkey AS o_custkey, b.n_o
FROM (SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_f
      FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) a
FULL JOIN (SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_o
           FROM orders WHERE o_orderstatus = 'O' GROUP BY 1) b
  ON a.custkey = b.custkey
"""


@register("join_full", "G", oracle=_JOIN_FULL_ORACLE,
          doc="Full outer join: customers' finished vs open order counts, "
              "null-extended on both sides")
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    f = (
        orders.where(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("f_custkey"))
        .agg(F.count(F.lit(1)).alias("n_f"))
    )
    o = (
        orders.where(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("o_custkey"))
        .agg(F.count(F.lit(1)).alias("n_o"))
    )
    return f.join(o, f.f_custkey == o.o_custkey, "full_outer").select(
        "f_custkey", "n_f", "o_custkey", "n_o"
    )


_JOIN_BROADCAST_ORACLE = """
SELECT p.p_brand,
       round(SUM(l.l_quantity), 2) AS sum_qty,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""


@register("join_broadcast", "G", oracle=_JOIN_BROADCAST_ORACLE,
          doc="Broadcast hash join: dimension (part) broadcast to every "
              "executor — the 100 TB fact side never shuffles for the join")
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "inner")
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .cast("decimal(38,4)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


_JOIN_RANGE_ORACLE = """
SELECT o.o_orderkey, l.l_linenumber, o.o_orderdate, l.l_shipdate
FROM orders o
JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <  o.o_orderdate + INTERVAL 60 DAY
"""


@register("join_range", "G", oracle=_JOIN_RANGE_ORACLE,
          doc="Equi + interval-range join: ships within 60 days of order date; "
              "the equi conjunct keeps it hash-joinable (no cross product)")
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate < orders.o_orderdate + F.expr("INTERVAL 60 DAYS"))
    )
    return orders.join(li, cond, "inner").select(
        "o_orderkey", "l_linenumber", "o_orderdate", "l_shipdate"
    )


_JOIN_SKEW_SALTED_ORACLE = """
SELECT s.s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       round(SUM(l_quantity), 2) AS sum_qty
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_nationkey
"""

_SALT_N = 8


@register("join_skew_salted", "G", oracle=_JOIN_SKEW_SALTED_ORACLE,
          doc="Salted join: THE skew-mitigation pattern for a hot join key — "
              "fact side salted with a per-row hash, dimension side "
              "replicated SALT_N×, join on (key, salt). Result provably "
              "identical to the plain join (same oracle)")
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """When one join key holds a disproportionate share of the fact rows,
    a plain shuffle join sends them all to one reducer. Salting splits each
    key's rows over _SALT_N reducers at the cost of replicating the (small)
    dimension side _SALT_N× — bounded, predictable, and unlike AQE skew
    handling it also works for aggregation-following-join pipelines. The
    salt derives from row identity (orderkey, linenumber), never rand(),
    so the query stays re-run deterministic."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_quantity",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_SALT_N)).alias("salt"),
    )
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sup_rep = sup.withColumn(
        "salt", F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(_SALT_N)]))
    )
    joined = li.join(
        sup_rep,
        (li.l_suppkey == sup_rep.s_suppkey) & (li.salt == sup_rep.salt),
    )
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


_JOIN_MULTI_KEY_ORACLE = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         round(AVG(l_quantity), 6) AS avg_qty,
         CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)
SELECT l.l_orderkey, l.l_linenumber, ps.avg_qty, ps.n_lines,
       l.l_quantity > ps.avg_qty AS above_avg
FROM lineitem l
JOIN ps ON l.l_partkey = ps.l_partkey AND l.l_suppkey = ps.l_suppkey
"""


@register("join_multi_key", "G", oracle=_JOIN_MULTI_KEY_ORACLE,
          doc="Composite-key equi join: fact joined back to a per-(partkey, "
              "suppkey) aggregate on BOTH key columns. The aggregate side "
              "leaves its groupBy already partitioned on the join key (its "
              "exchange is reusable, not repeated); at test scale AQE "
              "broadcasts the aggregate instead")
def join_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return li.join(ps, ["l_partkey", "l_suppkey"]).select(
        "l_orderkey",
        "l_linenumber",
        "avg_qty",
        "n_lines",
        (F.col("l_quantity") > F.col("avg_qty")).alias("above_avg"),
    )


_JOIN_NULL_SAFE_ORACLE = """
WITH o AS (
  SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS status_key, o_totalprice
  FROM orders
),
s AS (
  SELECT NULLIF(status, 'P') AS status_key, label FROM (
    VALUES ('F', 'finished'), ('O', 'open'), ('P', 'pending')
  ) AS t(status, label)
)
SELECT o.o_orderkey, o.status_key, s.label, round(o.o_totalprice, 2) AS price
FROM o JOIN s ON o.status_key IS NOT DISTINCT FROM s.status_key
"""


@register("join_null_safe", "G", oracle=_JOIN_NULL_SAFE_ORACLE,
          doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL "
              "keys match NULL keys instead of vanishing — the semantics a "
              "nullable join key actually needs (plain = silently drops "
              "every NULL row)")
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif("o_orderstatus", F.lit("P")).alias("status_key"),
        "o_totalprice",
    )
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")], ["status", "label"]
    ).select(F.nullif("status", F.lit("P")).alias("dim_key"), "label")
    return orders.join(
        dim, orders.status_key.eqNullSafe(dim.dim_key)
    ).select(
        "o_orderkey", "status_key", "label", F.round("o_totalprice", 2).alias("price")
    )


_DPP_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_returnflag = 'R'
GROUP BY l_returnflag
"""


@register("join_dpp_partitioned", "G", oracle=_DPP_ORACLE,
          doc="Dynamic partition pruning: fact table laid out as "
              "Hive-partitioned parquet on l_returnflag, joined to a "
              "filtered dim — Spark injects a runtime subquery into the "
              "fact scan so non-matching PARTITIONS are never read "
              "(plan-asserted). The single biggest I/O lever on a "
              "partitioned 100 TB fact")
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dim's filter (is_return) is only resolvable at runtime from the
    dim rows, so static pushdown can't prune the fact; DPP closes that gap
    by evaluating the dim side first and broadcasting the surviving
    partition keys into the fact scan. At 100 TB with ~daily partitions
    this is the difference between scanning 3 years and 3 days."""
    from toy_map_reduce_spark import scratch

    path = scratch.path("dpp_fact")
    dim_path = scratch.path("dpp_dim")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    # Two DPP eligibility subtleties, both load-bearing: the dim must be a
    # real scan (a filter over a LocalRelation constant-folds away, leaving
    # no Filter node), and its predicate must be a shape Spark considers
    # "likely selective" (an equality comparison qualifies; a bare boolean
    # attribute does not)
    spark.createDataFrame(
        [("A", "keep"), ("N", "keep"), ("R", "return")], ["flag", "kind"]
    ).write.mode("overwrite").parquet(dim_path)

    # explicit schema: a zero-row write leaves no part files to infer from
    fact = spark.read.schema(li.schema).parquet(path)
    dim = spark.read.parquet(dim_path)
    joined = fact.join(
        F.broadcast(dim.where(F.col("kind") == "return")),
        fact["l_returnflag"] == dim["flag"],
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
    )


_THETA_TIER_ORACLE = """
WITH tiers(tier, lo, hi) AS (
  VALUES ('T1', 0.0, 50000.0), ('T2', 50000.0, 150000.0),
         ('T3', 150000.0, 300000.0), ('T4', 300000.0, 1000000000.0)
)
SELECT tier,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(SUM(round(o_totalprice, 2)), 2) AS total
FROM orders JOIN tiers
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY tier
"""


@register("join_theta_tier", "G", oracle=_THETA_TIER_ORACLE,
          doc="Pure non-equi (theta) join: orders banded into literal "
              "price tiers via range containment — no equi key at all, "
              "so the only legal plan is a broadcast nested-loop join")
def join_theta_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """With no equality conjunct Catalyst cannot hash-partition either
    side; the correct scale play is exactly what happens here — the
    4-row tier table broadcasts and the fact side streams through a
    BroadcastNestedLoopJoin with zero shuffle. The anti-pattern (two
    large sides, pure theta) degenerates to a cartesian product and is
    the join shape to *reject* at review time, not optimize."""
    spark_tiers = spark.createDataFrame(
        [("T1", 0.0, 50000.0), ("T2", 50000.0, 150000.0),
         ("T3", 150000.0, 300000.0), ("T4", 300000.0, 1000000000.0)],
        "tier string, lo double, hi double",
    )
    orders = load(spark, sf_dir, "orders")
    joined = orders.join(
        F.broadcast(spark_tiers),
        (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.round("o_totalprice", 2)), 2).alias("total"),
    )


_LATERAL_TOPN_SQL = """
SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.top_price
FROM {c} AS c,
LATERAL (SELECT o_orderkey, round(o_totalprice, 2) AS top_price
         FROM {o}
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC NULLS LAST, o_orderkey
         LIMIT 2) AS o
"""


@register("join_lateral_topn", "G",
          oracle=_LATERAL_TOPN_SQL.format(c="customer", o="orders"),
          doc="Correlated LATERAL subquery join: top-2 orders per customer "
              "expressed as a per-row dependent subquery with ORDER BY + "
              "LIMIT — the join-shaped twin of window_rank's row_number "
              "formulation, same SQL text on both engines")
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst decorrelates the lateral subquery into a join +
    per-key top-k (DomainJoin rewrite) rather than executing it per
    outer row — the plan converges with the window formulation, which
    is exactly why exposing LATERAL costs nothing at scale: the
    surface is per-row, the execution is set-oriented. Deterministic
    (o_totalprice, o_orderkey) ordering so LIMIT 2 ties can't flip."""

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return spark.sql(_LATERAL_TOPN_SQL, c=c, o=o)


_JOIN_RIGHT_ORACLE = """
SELECT o_orderkey, o_totalprice_r, c_custkey, c_name
FROM (
  SELECT o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice_r,
         c.c_custkey, c.c_name
  FROM (SELECT * FROM orders WHERE o_orderstatus = 'O') o
  RIGHT OUTER JOIN customer c ON o.o_custkey = c.c_custkey
)
"""


@register("join_right", "G", oracle=_JOIN_RIGHT_ORACLE,
          doc="Right outer join: every customer survives, open orders "
              "attach where they exist — the literal RIGHT OUTER surface "
              "completing the outer-join family (left/full registered "
              "separately)")
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst canonicalizes RIGHT OUTER to a LEFT OUTER with sides
    swapped, so the build/stream choice (and the broadcast of the
    filtered orders side here) is unchanged — registered because the
    surface is part of the contract, not because the engine needs new
    machinery."""
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    cust = load(spark, sf_dir, "customer")
    return orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"], "right_outer"
    ).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice_r"),
        "c_custkey",
        "c_name",
    )


# Inline campaign calendar (the fixture's events span 2024-01): literal
# intervals, byte-identical between builder and oracle.
_CAMPAIGNS = [
    ("new_year", "2024-01-01 00:00:00", "2024-01-03 23:59:59"),
    ("flash_sale", "2024-01-10 12:00:00", "2024-01-11 12:00:00"),
    ("weekend_push", "2024-01-13 00:00:00", "2024-01-14 23:59:59"),
    ("retention_wave", "2024-01-20 06:00:00", "2024-01-25 18:00:00"),
    ("month_end", "2024-01-28 00:00:00", "2024-01-31 00:00:00"),
]

_CAMPAIGN_VALUES = ", ".join(
    f"('{n}', TIMESTAMP '{s}', TIMESTAMP '{e}')" for n, s, e in _CAMPAIGNS
)

_INTERVAL_OVERLAP_ORACLE = f"""
WITH campaigns(campaign, c_start, c_end) AS (VALUES {_CAMPAIGN_VALUES}),
activity AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         MIN(date_trunc('second', ts)) AS a_start,
         MAX(date_trunc('second', ts)) AS a_end
  FROM events GROUP BY user_id, day
),
cdays AS (
  SELECT campaign, c_start, c_end,
         CAST(unnest(range(CAST(c_start AS DATE), CAST(c_end AS DATE) + 1,
                           INTERVAL 1 DAY)) AS DATE) AS day
  FROM campaigns
),
hits AS (
  SELECT c.campaign, a.user_id, a.day,
         least(a.a_end, c.c_end) AS o_end,
         greatest(a.a_start, c.c_start) AS o_start
  FROM activity a JOIN cdays c ON a.day = c.day
  WHERE a.a_start <= c.c_end AND a.a_end >= c.c_start
)
SELECT campaign,
       CAST(COUNT(*) AS BIGINT) AS n_user_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(epoch(o_end) AS BIGINT) - CAST(epoch(o_start) AS BIGINT))
            AS BIGINT) AS overlap_sec
FROM hits
GROUP BY campaign
"""


@register("join_interval_overlap", "G", oracle=_INTERVAL_OVERLAP_ORACLE,
          doc="Interval-overlap join: per-user daily activity spans "
              "[min ts, max ts] matched against a campaign calendar by "
              "interval intersection, with exact overlap-seconds — the "
              "attribution-window join, day-bucketed for scale")
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-correct interval join: campaigns explode into their
    covered DAYS (sequence over the date range), so the fact side joins on
    a day equi-key and the precise interval predicate is a post-join
    filter over an already-tiny candidate set. Two large interval sets
    joined on raw overlap would be a cartesian product — the day bucket is
    what makes Catalyst plan a hash join. Overlap arithmetic is integer
    epoch seconds after second-floor on both engines."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("second", "ts").alias("ts_sec"),
        F.to_date("ts").alias("day"),
    )
    activity = ev.groupBy("user_id", "day").agg(
        F.min("ts_sec").alias("a_start"), F.max("ts_sec").alias("a_end")
    )
    campaigns = spark.createDataFrame(
        _CAMPAIGNS, "campaign string, c_start_s string, c_end_s string"
    ).select(
        "campaign",
        F.to_timestamp("c_start_s").alias("c_start"),
        F.to_timestamp("c_end_s").alias("c_end"),
    )
    cdays = campaigns.select(
        "campaign", "c_start", "c_end",
        F.explode(
            F.sequence(F.to_date("c_start"), F.to_date("c_end"))
        ).alias("day"),
    )
    hits = (
        activity.join(F.broadcast(cdays), "day")
        .where((F.col("a_start") <= F.col("c_end")) & (F.col("a_end") >= F.col("c_start")))
        .select(
            "campaign", "user_id",
            F.least("a_end", "c_end").alias("o_end"),
            F.greatest("a_start", "c_start").alias("o_start"),
        )
    )
    return hits.groupBy("campaign").agg(
        F.count(F.lit(1)).alias("n_user_days"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(
            F.unix_timestamp("o_end") - F.unix_timestamp("o_start")
        ).alias("overlap_sec"),
    )


SCD2_CUTOVER = "1995-07-01"  # dim version boundary (fixture dates span 1992-1998)

_SCD2_LOOKUP_ORACLE = f"""
WITH cents AS (
  SELECT c_custkey, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
  FROM customer
),
dim AS (
  SELECT c_custkey, DATE '1990-01-01' AS valid_from, DATE '{SCD2_CUTOVER}' AS valid_to,
         bal_cents, 'v1' AS version
  FROM cents
  UNION ALL
  SELECT c_custkey, DATE '{SCD2_CUTOVER}', DATE '9999-12-31',
         CAST(floor(bal_cents * 1.05 + 0.5) AS BIGINT), 'v2'
  FROM cents
),
j AS (
  SELECT d.version, o.o_orderkey, d.bal_cents
  FROM orders o JOIN dim d
    ON o.o_custkey = d.c_custkey
   AND CAST(o.o_orderdate AS DATE) >= d.valid_from
   AND CAST(o.o_orderdate AS DATE) < d.valid_to
)
SELECT version,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(bal_cents) AS BIGINT) AS bal_sum_cents
FROM j GROUP BY version
"""


@register("join_scd2_lookup", "G", oracle=_SCD2_LOOKUP_ORACLE,
          doc="Point-in-time SCD2 lookup: orders joined to the customer-"
              "dimension version valid at order date (equi key + validity "
              "interval) — the temporal dimension join every warehouse "
              "fact load performs, the consumer side of cdc_scd2")
def join_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join keeps an EQUI conjunct (custkey) so Catalyst hash-joins on
    it and evaluates the validity-interval predicate as a post-join
    filter — the same only-legal-plan note as join_range. Each fact row
    matches exactly one version by construction (half-open intervals
    partition time), so row counts are preserved — the invariant the
    aggregate exposes. Balances travel as integer CENTS end-to-end:
    round(x*1.05, 2) re-rounds a float product, whose half-cent edges
    resolve differently per engine across 10⁵ customers (observed at
    sf0.01) — floor(cents*1.05 + 0.5) on exact integers is bit-stable."""
    cust = load(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
    v1 = cust.select(
        "c_custkey",
        F.lit("1990-01-01").cast("date").alias("valid_from"),
        F.lit(SCD2_CUTOVER).cast("date").alias("valid_to"),
        cents.alias("bal_cents"), F.lit("v1").alias("version"),
    )
    v2 = cust.select(
        "c_custkey",
        F.lit(SCD2_CUTOVER).cast("date").alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
        F.floor(cents * 1.05 + 0.5).cast("long").alias("bal_cents"),
        F.lit("v2").alias("version"),
    )
    dim = v1.unionByName(v2)
    orders = load(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    j = orders.join(
        dim,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (od >= F.col("valid_from"))
        & (od < F.col("valid_to")),
    )
    return j.groupBy("version").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("bal_cents").cast("long").alias("bal_sum_cents"),
    )


# --- Fuzzy entity-resolution join (inline corpora) ---------------------
# Canonical entity names vs dirty mentions; matching threshold is
# levenshtein <= FUZZY_MAX_DIST. Blocking = (first char, length//4) with
# the canonical side exploded into every bucket its +/-FUZZY_MAX_DIST
# length neighborhood covers, so length-based blocking is provably
# lossless at the threshold (|len(a)-len(b)| <= lev(a,b)); the residual
# recall loss is the first-character block — the classic, documented
# cost/recall tradeoff of blocked entity resolution.
FUZZY_MAX_DIST = 2
FUZZY_LEN_BUCKET = 4

_CANON_ROWS = [
    (1, "apache spark"), (2, "duckdb"), (3, "postgresql"),
    (4, "clickhouse"), (5, "snowflake"),
]
_MENTION_ROWS = [
    (101, "apache spork"), (102, "duck db"), (103, "postgres"),
    (104, "click house"), (105, "snowflak"), (106, "sparky"),
    (107, "postgresql"), (108, "mysql"),
]

_CANON_VALUES = ", ".join(f"({i}, '{n}')" for i, n in _CANON_ROWS)
_MENTION_VALUES = ", ".join(f"({i}, '{n}')" for i, n in _MENTION_ROWS)

_FUZZY_ORACLE = f"""
WITH canon(canon_id, name) AS (VALUES {_CANON_VALUES}),
mention(mention_id, mention) AS (VALUES {_MENTION_VALUES}),
cblocks AS (
  SELECT canon_id, name, substr(name, 1, 1) AS c1, u.b
  FROM canon,
       LATERAL (SELECT DISTINCT unnest([
         GREATEST(length(name) - {FUZZY_MAX_DIST}, 0) // {FUZZY_LEN_BUCKET},
         length(name) // {FUZZY_LEN_BUCKET},
         (length(name) + {FUZZY_MAX_DIST}) // {FUZZY_LEN_BUCKET}]) AS b) u
),
cand AS (
  SELECT m.mention_id, m.mention, c.canon_id, c.name,
         levenshtein(m.mention, c.name) AS dist
  FROM mention m
  JOIN cblocks c
    ON substr(m.mention, 1, 1) = c.c1
   AND length(m.mention) // {FUZZY_LEN_BUCKET} = c.b
  WHERE levenshtein(m.mention, c.name) <= {FUZZY_MAX_DIST}
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY mention_id
                               ORDER BY dist NULLS FIRST, name NULLS FIRST) AS rn
  FROM cand
)
SELECT m.mention_id, m.mention, b.name AS matched,
       CAST(b.dist AS BIGINT) AS distance
FROM mention m LEFT JOIN best b ON m.mention_id = b.mention_id AND b.rn = 1
"""


@register("join_fuzzy_block", "X", oracle=_FUZZY_ORACLE,
          doc=f"Blocked fuzzy entity-resolution join (inline corpora): "
              f"levenshtein ≤ {FUZZY_MAX_DIST} matching under "
              "(first-char, length-bucket) blocking with the canonical "
              "side exploded across its length neighborhood — lossless "
              "in length at the threshold, best match per mention")
def join_fuzzy_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The edit-distance filter only runs inside blocks — the all-pairs
    levenshtein a naive fuzzy join would do is the quadratic blow-up
    this operator exists to avoid at 100 TB. Length blocking is exact
    (|len diff| bounds edit distance); first-char blocking is the
    documented recall tradeoff. Best-match selection is an explicit
    row_number over (distance, name), deterministic on both engines."""
    canon = spark.createDataFrame(_CANON_ROWS, ["canon_id", "name"])
    mention = spark.createDataFrame(_MENTION_ROWS, ["mention_id", "mention"])
    b = FUZZY_LEN_BUCKET
    d = FUZZY_MAX_DIST
    cblocks = canon.select(
        "canon_id", "name",
        F.substring("name", 1, 1).alias("c1"),
        F.explode(
            F.array_distinct(
                F.array(
                    (F.greatest(F.length("name") - d, F.lit(0)) / b).cast("long"),
                    (F.length("name") / b).cast("long"),
                    ((F.length("name") + d) / b).cast("long"),
                )
            )
        ).alias("blk"),
    )
    cand = (
        mention.join(
            F.broadcast(cblocks),
            (F.substring("mention", 1, 1) == F.col("c1"))
            & ((F.length("mention") / b).cast("long") == F.col("blk")),
        )
        .select(
            "mention_id", "mention", "name",
            F.levenshtein("mention", "name").alias("dist"),
        )
        .where(F.col("dist") <= d)
    )
    w = Window.partitionBy("mention_id").orderBy("dist", "name")
    best = cand.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return mention.join(
        F.broadcast(best.select("mention_id", "name", "dist")), "mention_id", "left"
    ).select(
        "mention_id", "mention",
        F.col("name").alias("matched"),
        F.col("dist").cast("long").alias("distance"),
    )


# --- Geo radius join (inline corpora) ----------------------------------
# 1-degree grid blocking: one degree of latitude is ~111 km >= the
# search radius, so a store exploded into its 3x3 neighbor cells meets
# every point within GEO_RADIUS_KM at an equi join — never a cross join.
# Corpus distances keep a >3 km margin from the radius so cross-engine
# trig ULP differences cannot flip a boundary row.
GEO_RADIUS_KM = 50.0
EARTH_R_KM = 6371.0

_STORE_ROWS = [
    (1, 52.52, 13.405),   # Berlin
    (2, 48.8566, 2.3522), # Paris
    (3, 51.5074, -0.1278),# London
]
_POINT_ROWS = [
    (101, 52.45, 13.30),  # ~9 km from Berlin
    (102, 52.90, 13.40),  # ~42 km from Berlin
    (103, 48.85, 2.40),   # ~3.6 km from Paris
    (104, 50.11, 8.68),   # Frankfurt — no store in range
    (105, 51.47, -0.45),  # ~22 km from London
    (106, 53.00, 13.00),  # ~60 km from Berlin — outside radius
    (107, 48.86, 2.35),   # ~0.4 km from Paris
]

_STORE_VALUES = ", ".join(f"({i}, {la}, {lo})" for i, la, lo in _STORE_ROWS)
_POINT_VALUES = ", ".join(f"({i}, {la}, {lo})" for i, la, lo in _POINT_ROWS)

_GEO_ORACLE = f"""
WITH store(store_id, s_lat, s_lon) AS (VALUES {_STORE_VALUES}),
pt(point_id, p_lat, p_lon) AS (VALUES {_POINT_VALUES}),
scell AS (
  SELECT store_id, s_lat, s_lon,
         CAST(floor(s_lat) AS BIGINT) + di.d AS cla,
         CAST(floor(s_lon) AS BIGINT) + dj.d AS clo
  FROM store,
       LATERAL (SELECT unnest([-1, 0, 1]) AS d) di,
       LATERAL (SELECT unnest([-1, 0, 1]) AS d) dj
),
cand AS (
  SELECT p.point_id, s.store_id,
         2 * {EARTH_R_KM} * asin(sqrt(
           pow(sin(radians(s.s_lat - p.p_lat) / 2), 2)
           + cos(radians(p.p_lat)) * cos(radians(s.s_lat))
             * pow(sin(radians(s.s_lon - p.p_lon) / 2), 2))) AS dist_km
  FROM pt p
  JOIN scell s
    ON CAST(floor(p.p_lat) AS BIGINT) = s.cla
   AND CAST(floor(p.p_lon) AS BIGINT) = s.clo
)
SELECT point_id, store_id, round(dist_km, 3) AS dist_km
FROM cand WHERE dist_km <= {GEO_RADIUS_KM}
"""


@register("join_geo_radius", "X", oracle=_GEO_ORACLE,
          doc=f"Geo radius join (inline corpora): points matched to "
              f"stores within {GEO_RADIUS_KM:.0f} km by exact haversine, "
              "candidates found via 1-degree grid-cell equi join (store "
              "exploded to 3×3 neighbor cells) — spatial join without a "
              "cross product")
def join_geo_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grid join bounds candidates to nearby cells, so the haversine
    runs on a sliver of the cross product — the standard scale shape for
    radius joins (same blocking philosophy as LSH bucketing, in
    coordinate space). The exploded store side is 9 rows/store and
    broadcasts."""
    store = spark.createDataFrame(_STORE_ROWS, ["store_id", "s_lat", "s_lon"])
    pt = spark.createDataFrame(_POINT_ROWS, ["point_id", "p_lat", "p_lon"])
    scell = (
        store.select(
            "*", F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("di")
        )
        .select("*", F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dj"))
        .select(
            "store_id", "s_lat", "s_lon",
            (F.floor("s_lat").cast("long") + F.col("di")).alias("cla"),
            (F.floor("s_lon").cast("long") + F.col("dj")).alias("clo"),
        )
    )
    cand = pt.join(
        F.broadcast(scell),
        (F.floor("p_lat").cast("long") == F.col("cla"))
        & (F.floor("p_lon").cast("long") == F.col("clo")),
    )
    hav = (
        2 * EARTH_R_KM
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("s_lat") - F.col("p_lat")) / 2), 2)
                + F.cos(F.radians("p_lat")) * F.cos(F.radians("s_lat"))
                * F.pow(F.sin(F.radians(F.col("s_lon") - F.col("p_lon")) / 2), 2)
            )
        )
    )
    return (
        cand.select("point_id", "store_id", hav.alias("dist_km"))
        .where(F.col("dist_km") <= GEO_RADIUS_KM)
        .select("point_id", "store_id", F.round("dist_km", 3).alias("dist_km"))
    )


_RUNTIME_BLOOM_ORACLE = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       round(SUM(l.l_extendedprice), 2) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY o.o_orderpriority
"""


@register("join_runtime_bloom", "G", oracle=_RUNTIME_BLOOM_ORACLE,
          doc="Runtime Bloom-filter join surface: the selective-filter "
              "fact-fact join shape whose lineitem side Catalyst prunes "
              "before the shuffle via an injected might_contain filter "
              "at production sizes — injection plan-asserted under "
              "scale-emulating confs in tests")
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The biggest shuffle lever on selective fact-fact joins at 100 TB:
    without it every lineitem row shuffles and only then meets the
    filtered orders; with it the scan side hits a Bloom of the surviving
    join keys first, so shuffle volume tracks SELECTIVITY, not table
    size. Injection requires that NEITHER side fits broadcast (a
    broadcast join already avoids shuffling the fact rows), so at
    fixture scale the query correctly planned as a broadcast join and
    no filter appears; tests/test_plans.py emulates production sizes
    (broadcast off, application-side floor lowered) and asserts
    might_contain is injected — the conf set a 100 TB deployment runs
    with out of the box."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


_LATERAL_DFAPI_ORACLE = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
     LATERAL (
       SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
       FROM orders o WHERE o.o_custkey = c.c_custkey
       ORDER BY o.o_totalprice DESC NULLS LAST, o.o_orderkey ASC LIMIT 2
     ) t
"""


@register("join_lateral_dfapi", "G", oracle=_LATERAL_DFAPI_ORACLE,
          doc="DataFrame.lateralJoin (Spark 4 API): per-customer top-2 "
              "orders via a correlated subquery expressed with outer() "
              "column references — the DataFrame-native spelling of the "
              "SQL LATERAL join_lateral_topn demonstrates")
def join_lateral_dfapi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst decorrelates the lateral subquery into the same
    window-rank plan the SQL form gets — the API surface differs, the
    physical plan does not (that equivalence is exactly what makes the
    DataFrame spelling safe to adopt). The (price desc, orderkey asc)
    order is total, so the top-2 cut is cross-engine deterministic."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders")
    sub = (
        orders.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(2)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )
    return cust.lateralJoin(sub).select("c_custkey", "o_orderkey", "o_totalprice")
