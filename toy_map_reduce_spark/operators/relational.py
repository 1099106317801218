"""Relational generalization tier (G): scan/project/filter/aggregate/sort.

The reference's MapReduce model (map → partition → shuffle → grouped
reduce, reference ``user/UserDefinedFunctions.scala`` +
``worker/services/WorkerServiceImpl.scala:58-154``) provably expresses the
relational algebra (grouping = shuffle key, selection/projection = map,
aggregation = reduce); here each algebra operator is declared directly to
Catalyst instead of being hand-compiled to map/reduce stages.

Scale notes (100 TB):

* Projections/filters are expressed on the scan so Catalyst pushes them
  into the parquet reader (``PushedFilters`` / pruned ``ReadSchema`` —
  verified in tests/test_plans.py). The reference read whole files and
  filtered nothing (``WorkerServiceImpl.scala:60``).
* Aggregations run as partial (map-side) + final HashAggregate — the
  combiner the reference lacked; shuffle volume is |groups|, not |rows|.
* ``sort_limit`` is a top-k: Spark plans ``TakeOrderedAndProject``, which
  keeps a per-partition k-heap and merges k·partitions rows at the driver
  — never a global sort of 100 TB.
* Aggregated doubles are ``round()``-ed identically on both engine and
  oracle side: cross-engine float summation order differs (SURVEY.md §7.4)
  and the driver hash-compares values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load


_SCAN_PROJECT_ORACLE = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
       l_quantity > 25 AS bulky
FROM lineitem
"""


@register("scan_project", "G", oracle=_SCAN_PROJECT_ORACLE,
          doc="Scan + projection + per-row arithmetic (column-pruned parquet read)")
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net.alias("net_price"),
        (net * (1 + F.col("l_tax"))).alias("charged"),
        (F.col("l_quantity") > 25).alias("bulky"),
    )


_FILTER_PRED_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag, l_shipdate
FROM lineitem
WHERE l_quantity BETWEEN 5 AND 45
  AND l_returnflag IN ('A', 'R')
  AND (l_discount < 0.03 OR l_tax >= 0.06)
  AND l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_linestatus LIKE 'F%'
"""


@register("filter_pred", "G", oracle=_FILTER_PRED_ORACLE,
          doc="Conjunctive/disjunctive predicates, BETWEEN, IN, LIKE (parquet pushdown)")
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.where(
        F.col("l_quantity").between(5, 45)
        & F.col("l_returnflag").isin("A", "R")
        & ((F.col("l_discount") < 0.03) | (F.col("l_tax") >= 0.06))
        & (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & F.col("l_linestatus").like("F%")
    ).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        "l_returnflag", "l_shipdate",
    )


# TPC-H Q1-shaped: the canonical partial+final hash aggregation.
_AGG_BASIC_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
       round(AVG(l_quantity), 6) AS avg_qty,
       round(MIN(l_discount), 6) AS min_disc,
       round(MAX(l_discount), 6) AS max_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@register("agg_basic", "G", oracle=_AGG_BASIC_ORACLE,
          doc="Hash aggregation: sum/avg/min/max/count per group (TPC-H Q1 shape)")
def agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))
        .cast("double").alias("sum_base_price"),
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
              .cast("decimal(38,4)")).cast("double").alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.min("l_discount"), 6).alias("min_disc"),
        F.round(F.max("l_discount"), 6).alias("max_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


_AGG_DISTINCT_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS distinct_orders,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_distinct", "G", oracle=_AGG_DISTINCT_ORACLE,
          doc="Exact distinct aggregation (expand + two-phase agg under the hood)")
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("distinct_orders"),
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register("agg_approx_distinct", "G", oracle=None,
          doc="HyperLogLog++ approximate count-distinct — no exact SQL oracle "
              "(DuckDB's HLL differs); rows-only check + pytest bound test")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB this is THE way to count distincts: fixed-size sketch per
    group, mergeable map-side, no expand+reshuffle like exact distinct."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
    )


_AGG_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
HAVING COUNT(*) > 0
"""


@register("agg_rollup", "G", oracle=_AGG_ROLLUP_ORACLE,
          doc="ROLLUP grouping-set hierarchy (subtotals + grand total)")
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # cnt > 0 on both sides pins the empty-input contract: Spark's
    # grouping sets emit nothing for a zero-row input, DuckDB emits the
    # standard's grand-total row — the filter is a no-op on real data
    # (every Spark group has >= 1 row) and aligns the degenerate case
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    ).where(F.col("cnt") > 0)


_AGG_CUBE_ORACLE = """
SELECT c_mktsegment, c_nationkey,
       round(SUM(c_acctbal), 2) AS sum_bal,
       round(AVG(c_acctbal), 6) AS avg_bal,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM customer
GROUP BY CUBE (c_mktsegment, c_nationkey)
HAVING COUNT(*) > 0
"""


@register("agg_cube", "G", oracle=_AGG_CUBE_ORACLE,
          doc="CUBE over all grouping-set combinations")
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    # cnt > 0: empty-input contract, see agg_rollup
    return cust.cube("c_mktsegment", "c_nationkey").agg(
        F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
        F.count(F.lit(1)).alias("cnt"),
    ).where(F.col("cnt") > 0)


_SORT_LIMIT_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC
LIMIT 100
"""


@register("sort_limit", "G", oracle=_SORT_LIMIT_ORACLE,
          doc="Top-k: ORDER BY ... NULLS FIRST LIMIT plans TakeOrderedAndProject (per-"
              "partition heap, no global sort); o_orderkey tiebreak makes it deterministic")
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .limit(100)
    )


# One ANSI-SQL text, two engines: the Spark side runs it through spark.sql
# over an sf-scoped view, the oracle side runs the identical string over the
# DuckDB view — demonstrating the engine's SQL entry path (not just the
# DataFrame API) with zero semantic translation.
# Money sums accumulate in DECIMAL, not DOUBLE (r9): at sf0.1 the two
# engines' double-summation orders drift ~1e-3 over 600k rows — past the
# 0.005 halfway margin of round(,2), which flipped sum_disc_price's last
# digit (the first scale-dependent parity failure, PARITY_r9 sf0.1). The
# per-row product is IEEE-identical cross-engine and lies within ~1e-11
# of its true 4/6-decimal value, so the DECIMAL cast recovers the exact
# value and the sum is order-independent — the same reason a 1000-node
# cluster's nondeterministic partial-sum order can't change the answer.
_TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
       round(CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
       round(CAST(SUM(CAST(l_discount AS DECIMAL(38,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM {table}
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("sql_tpch_q1", "G", oracle=_TPCH_Q1_SQL.format(table="lineitem"),
          doc="TPC-H Q1 via the spark.sql() SQL surface — the IDENTICAL "
              "ANSI string runs on both engines (no dialect translation), "
              "proving the SQL entry path end-to-end")
def sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_TPCH_Q1_SQL, table=load(spark, sf_dir, "lineitem"))


# TPC-H Q3/Q5/Q10 (adapted to the fixture's trimmed column set and
# 1995-2001 date domain): multi-way joins with selective dimension filters
# — the workload Catalyst's join reordering, broadcast selection, and
# filter pushdown exist for. The IDENTICAL ANSI string runs on both
# engines; ORDER BY/LIMIT is omitted (the driver compares unordered sets,
# and revenue-tie top-k is nondeterministic across engines). Revenue
# rounds to 4 decimals, NOT 2: price*(1-discount) is a true 4-decimal
# quantity, so its sums are exact 4-decimal multiples and rounding there
# has no halfway cases — while round(..., 2) lands on genuine .xx5
# halfway points that cross-engine summation order flips (observed:
# 245262.575 → .57 vs .58 at sf0.01).

_TPCH_Q3_SQL = """
SELECT l_orderkey,
       round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       o_orderdate, o_orderpriority
FROM {c}, {o}, {l}
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
"""


@register("sql_tpch_q3", "G",
          oracle=_TPCH_Q3_SQL.format(c="customer", o="orders", l="lineitem"),
          doc="TPC-H Q3 (shipping priority): 3-way join, selective segment "
              "filter, revenue aggregate — identical ANSI string on both "
              "engines")
def sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    return spark.sql(_TPCH_Q3_SQL, c=c, o=o, l=l)


_TPCH_Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
FROM {c}, {o}, {l}, {s}, {n}, {r}
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


@register("sql_tpch_q5", "G",
          oracle=_TPCH_Q5_SQL.format(c="customer", o="orders", l="lineitem",
                                     s="supplier", n="nation", r="region"),
          doc="TPC-H Q5 (local supplier volume): 6-way join through two "
              "dimension chains — the join-reordering stress case; small "
              "dims must broadcast")
def sql_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = {
        k: load(spark, sf_dir, t)
        for k, t in (("c", "customer"), ("o", "orders"), ("l", "lineitem"),
                     ("s", "supplier"), ("n", "nation"), ("r", "region"))
    }
    return spark.sql(_TPCH_Q5_SQL, **tables)


_TPCH_Q10_SQL = """
SELECT c_custkey, c_name,
       round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       n_name
FROM {c}, {o}, {l}, {n}
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
  AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
"""


@register("sql_tpch_q10", "G",
          oracle=_TPCH_Q10_SQL.format(c="customer", o="orders", l="lineitem", n="nation"),
          doc="TPC-H Q10 (returned items): fact-fact join with a quarter "
              "date window and returnflag filter, customer-grain revenue")
def sql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    n = load(spark, sf_dir, "nation")
    return spark.sql(_TPCH_Q10_SQL, c=c, o=o, l=l, n=n)


_TPCH_Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM {l}
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("sql_tpch_q6", "G",
          oracle=_TPCH_Q6_SQL.format(l="lineitem"),
          doc="TPC-H Q6 (forecast revenue change): pure filter-aggregate "
              "on the fact table — the predicate-pushdown showcase; every "
              "filter reaches the parquet scan and only 4 columns are read")
def sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No join, no window: at 100 TB this is a scan whose cost is set
    entirely by pushdown (row-group skipping on l_shipdate) and column
    pruning — the plan must show PushedFilters + a 4-column ReadSchema."""

    return spark.sql(_TPCH_Q6_SQL, l=load(spark, sf_dir, "lineitem"))


_TPCH_Q4_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM {o}
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM {l}
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


@register("sql_tpch_q4", "G",
          oracle=_TPCH_Q4_SQL.format(o="orders", l="lineitem"),
          doc="TPC-H Q4 (order priority checking), adapted to the "
              "generator's schema: the correlated EXISTS probes "
              "l_shipdate > o_orderdate in place of the commit/receipt "
              "columns the synthetic lineitem does not carry")
def sql_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst rewrites the correlated EXISTS to a left-semi hash join on
    l_orderkey — one shuffle each side, no row explosion, and the date
    filter halves the build side before the join."""

    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    return spark.sql(_TPCH_Q4_SQL, o=o, l=l)


_TPCH_Q14_SQL = """
WITH joined AS (
  SELECT CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                        THEN l_extendedprice * (1 - l_discount)
                        ELSE 0 END AS DECIMAL(38,4))) AS DOUBLE) AS promo_revenue,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)))
              AS DOUBLE) AS total_revenue
  FROM {l} JOIN {p} ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
)
SELECT promo_revenue, total_revenue,
       CAST(floor(1000000 * promo_revenue / total_revenue) AS BIGINT)
         AS promo_micro_ratio
FROM joined
"""


@register("sql_tpch_q14", "G",
          oracle=_TPCH_Q14_SQL.format(l="lineitem", p="part"),
          doc="TPC-H Q14 (promotion effect): fact-dim join + conditional "
              "aggregate; the ratio is floored to a micro-int AFTER both "
              "sums are rounded to their true 4-decimal precision, so the "
              "division runs on bit-identical doubles in both engines")
def sql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part is the small side — AQE broadcasts it, so the month of
    lineitem never shuffles; the CASE folds both sums into one pass."""

    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return spark.sql(_TPCH_Q14_SQL, l=l, p=p)


_TPCH_Q18_SQL = """
WITH big AS (
  SELECT l_orderkey, round(SUM(l_quantity), 2) AS sum_qty
  FROM {l} GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 250
)
SELECT c_name, c_custkey, o_orderkey,
       date_trunc('second', o_orderdate) AS orderdate,
       round(o_totalprice, 2) AS totalprice, sum_qty
FROM big
JOIN {o} ON o_orderkey = l_orderkey
JOIN {c} ON c_custkey = o_custkey
"""


@register("sql_tpch_q18", "G",
          oracle=_TPCH_Q18_SQL.format(l="lineitem", o="orders", c="customer"),
          doc="TPC-H Q18 (large-volume customers): HAVING-filtered "
              "aggregate driving a two-hop join back to order and "
              "customer detail (threshold 250 sized to the synthetic "
              "quantity distribution)")
def sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aggregate runs FIRST and its survivors (~1% of orders) drive
    the joins — at 100 TB the big-side scan happens once and the join
    probes are against a tiny filtered build, which AQE broadcasts."""

    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return spark.sql(_TPCH_Q18_SQL, l=l, o=o, c=c)


_GROUP_BY_ALL_SQL = """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM {t}
GROUP BY ALL
ORDER BY ALL
"""


@register("sql_group_by_all", "G",
          oracle=_GROUP_BY_ALL_SQL.format(t="lineitem"),
          doc="GROUP BY ALL / ORDER BY ALL: the infer-the-keys syntax both "
              "engines support natively — every non-aggregate select item "
              "becomes a grouping key, identical SQL text on both sides")
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure surface sugar: Catalyst expands ALL to the explicit key list
    during analysis, so the plan is byte-identical to agg_basic's — what
    the query buys is resilience to select-list edits in maintained
    reports (add a column, the grouping follows)."""

    return spark.sql(_GROUP_BY_ALL_SQL, t=load(spark, sf_dir, "lineitem"))


_PIPE_SQL = """
FROM {t}
|> WHERE o_orderstatus = 'F'
|> AGGREGATE round(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS n
   GROUP BY o_orderpriority
|> WHERE n > 10
|> ORDER BY o_orderpriority
"""

_PIPE_ORACLE = """
SELECT o_orderpriority, round(SUM(o_totalprice), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
HAVING COUNT(*) > 10
ORDER BY o_orderpriority
"""


@register("sql_pipe_syntax", "G", oracle=_PIPE_ORACLE,
          doc="SQL pipe syntax (|> WHERE / AGGREGATE / ORDER BY): the "
              "Spark 4 linear query form — filter, grouped aggregate, "
              "post-aggregation filter, order — checked against the "
              "classic SELECT/HAVING equivalent")
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipe operators are pure analysis-time sugar: Catalyst lowers the
    chain to the same Aggregate/Filter plan as the HAVING form, so the
    physical shape (partial+final aggregate) is unchanged — the surface
    exists so maintained pipelines read top-to-bottom."""

    df = spark.sql(_PIPE_SQL, t=load(spark, sf_dir, "orders"))
    from pyspark.sql import functions as _F

    return df.select("o_orderpriority", "revenue", _F.col("n").cast("long").alias("n"))


_PARAM_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(AVG(o_totalprice), 4) AS avg_price
FROM orders
WHERE o_totalprice > 200000 AND o_orderstatus = 'O'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("sql_parameterized", "G", oracle=_PARAM_ORACLE,
          doc="Parameterized SQL (Spark 4 named parameter markers + "
              "DataFrame template args): threshold and status bound via "
              ":params, the table via {df} interpolation — the "
              "injection-safe query surface for applications")
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameter markers bind as literals during analysis (Catalyst
    constant-folds them like inline constants — same plan as the literal
    query), so the surface costs nothing at runtime; what it buys is
    plan-cache reuse and no string-splicing injection risk."""
    orders = load(spark, sf_dir, "orders")
    df = spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               round(AVG(o_totalprice), 4) AS avg_price
        FROM {orders}
        WHERE o_totalprice > :minp AND o_orderstatus = :status
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"minp": 200000, "status": "O"},
        orders=orders,
    )
    return df.select(
        "o_orderpriority", F.col("n").cast("long").alias("n"), "avg_price"
    )


_STAR_EXCEPT_SQL = """
SELECT * EXCEPT (o_orderstatus, o_orderpriority)
FROM {t}
WHERE o_orderkey < 100
"""

_STAR_EXCEPT_ORACLE = """
SELECT * EXCLUDE (o_orderstatus, o_orderpriority)
FROM orders
WHERE o_orderkey < 100
"""


@register("sql_star_except", "G", oracle=_STAR_EXCEPT_ORACLE,
          doc="SELECT * EXCEPT(...) projection syntax (DuckDB: EXCLUDE): "
              "drop-columns-by-name star expansion — the maintainable "
              "form of wide-table projection, resolved at analysis time "
              "so pruning still reaches the scan")
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-except expands during analysis to an explicit column list,
    so Catalyst's column pruning works exactly as if the survivors were
    typed out — worth pinning because wide fact tables (hundreds of
    columns at 100 TB) make explicit select lists unmaintainable."""

    return spark.sql(_STAR_EXCEPT_SQL, t=load(spark, sf_dir, "orders"))
