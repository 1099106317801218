"""The rest of the TPC-H suite (Q7/Q8/Q12/Q13/Q15/Q16/Q17/Q19/Q22 plus
the adapted Q2/Q9/Q11/Q20/Q21) through the spark.sql() surface —
Q1/Q3/Q4/Q5/Q6/Q10/Q14/Q18 live in operators/relational.py. Together: all
22 TPC-H query shapes.

Adaptations to the fixture schema are localized and documented per query:
Q12's ship modes → shipping-latency buckets, Q16's partsupp → distinct
(l_partkey, l_suppkey) pairs, Q22's phone country code → c_nationkey % 7.
The five partsupp/commit-date-dependent queries derive their missing
columns deterministically from lineitem: supply cost → floored micro-int
unit price (Q2), stock value → shipped cents (Q11), available quantity →
shipped quantity share (Q20), receipt lateness → ship latency vs order
date (Q21), and Q9's cost basis → 60% of p_retailprice.

Cross-engine float discipline (SURVEY.md §7.4, tightened in r9): revenue
sums over LARGE groups accumulate in DECIMAL(38,4) — the per-row product
is IEEE-identical cross-engine and within ~1e-11 of its true 4-decimal
value, so the cast recovers the exact value and the sum is
order-independent (r9's sf0.1 sweep proved the old round-after-double-sum
form drifts past the halfway margin once sums span ~100k rows; the same
property is what makes the answers stable under a 1000-node cluster's
nondeterministic partial-sum order). Small-group revenue (per-order Q3,
per-customer Q10) keeps round(,4): drift over <10 terms is ~1e-14.
Ratios are floored micro-ints computed AFTER both operands are exact;
every correlated-average comparison (Q17, Q22) is rewritten into exact
integer arithmetic (qty*5*N < sum; cents*N > total_cents) so no filter
can flip on a cross-engine ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load


def _tables(spark: SparkSession, sf_dir: str, **tables: str) -> dict[str, DataFrame]:
    return {k: load(spark, sf_dir, t) for k, t in tables.items()}


_TPCH_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(volume AS DECIMAL(38,4))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM {s}, {l}, {o}, {c}, {n} AS n1, {n2} AS n2
  WHERE s_suppkey = l_suppkey
    AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey
    AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
) AS shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@register("sql_tpch_q7", "G",
          oracle=_TPCH_Q7_SQL.format(s="supplier", l="lineitem", o="orders",
                                     c="customer", n="nation", n2="nation"),
          doc="TPC-H Q7 (volume shipping): directional nation-pair trade "
              "volume by ship year; the nation dim joins twice under "
              "different aliases with a symmetric pair predicate")
def sql_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both nation sides broadcast (25 rows each); the OR-pair predicate
    cannot push below the joins, but each single-nation conjunct CAN and
    Catalyst infers n_name IN (...) filters on both dim scans — at 100 TB
    the fact table shuffles once, on l_orderkey, for the orders join."""
    v = _tables(spark, sf_dir, s="supplier", l="lineitem", o="orders",
                c="customer", n="nation")
    return spark.sql(_TPCH_Q7_SQL, n2=v["n"], **v)


_TPCH_Q8_SQL = """
WITH all_nations AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM {p}, {s}, {l}, {o}, {c}, {n} AS n1, {n2} AS n2, {r}
  WHERE p_partkey = l_partkey
    AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey
    AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey
    AND n1.n_regionkey = r_regionkey
    AND r_name = 'ASIA'
    AND s_nationkey = n2.n_nationkey
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    AND p_type = 'PROMO'
),
per_year AS (
  SELECT o_year,
         CAST(SUM(CAST(CASE WHEN nation = 'NATION_7' THEN volume ELSE 0 END
                       AS DECIMAL(38,4))) AS DOUBLE) AS nation_volume,
         CAST(SUM(CAST(volume AS DECIMAL(38,4))) AS DOUBLE) AS total_volume
  FROM all_nations
  GROUP BY o_year
)
SELECT o_year, nation_volume, total_volume,
       CAST(floor(1000000 * nation_volume / total_volume) AS BIGINT)
         AS mkt_share_micro
FROM per_year
"""


@register("sql_tpch_q8", "G",
          oracle=_TPCH_Q8_SQL.format(p="part", s="supplier", l="lineitem",
                                     o="orders", c="customer", n="nation",
                                     n2="nation", r="region"),
          doc="TPC-H Q8 (national market share): 8-way join, share of one "
              "supplier nation in a region's PROMO-part market by year; "
              "ratio floored to a micro-int after 4-decimal rounding")
def sql_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deepest join tree in the suite: one fact (lineitem) against
    orders plus four broadcast dims. Catalyst pushes p_type, r_name and
    the date window below the joins, so the fact side is pre-filtered
    before its single shuffle; the share division runs on already-rounded
    (bit-identical) doubles so the floor cannot flip cross-engine."""
    v = _tables(spark, sf_dir, p="part", s="supplier", l="lineitem",
                o="orders", c="customer", n="nation", r="region")
    return spark.sql(_TPCH_Q8_SQL, n2=v["n"], **v)


_TPCH_Q12_SQL = """
SELECT latency_bucket,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM (
  SELECT o_orderpriority,
         CASE WHEN l_shipdate < o_orderdate + INTERVAL '30' DAY THEN 'fast'
              WHEN l_shipdate < o_orderdate + INTERVAL '90' DAY THEN 'normal'
              ELSE 'slow' END AS latency_bucket
  FROM {o}, {l}
  WHERE o_orderkey = l_orderkey
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
) AS shipped
GROUP BY latency_bucket
"""


@register("sql_tpch_q12", "G",
          oracle=_TPCH_Q12_SQL.format(o="orders", l="lineitem"),
          doc="TPC-H Q12 (shipping priority by mode), adapted: the schema "
              "carries no l_shipmode/commitdate, so lines bucket by "
              "ship-latency (shipdate - orderdate) instead — same "
              "conditional-count-per-bucket shape, integer-only output")
def sql_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join on the order key with the year filter pushed to the
    lineitem scan; counts only, so no float discipline is needed."""
    v = _tables(spark, sf_dir, o="orders", l="lineitem")
    return spark.sql(_TPCH_Q12_SQL, **v)


_TPCH_Q13_SQL = """
WITH c_orders AS (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM {c} LEFT OUTER JOIN {o}
    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM c_orders
GROUP BY c_count
"""


@register("sql_tpch_q13", "G",
          oracle=_TPCH_Q13_SQL.format(c="customer", o="orders"),
          doc="TPC-H Q13 (customer distribution): left-outer join with a "
              "non-key ON condition, count per customer, then a histogram "
              "of the counts (zero-order customers land in bucket 0)")
def sql_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two cascaded aggregations, each with map-side partials; the outer
    join keeps order-less customers, which COUNT(o_orderkey) — not
    COUNT(*) — correctly scores as 0."""
    v = _tables(spark, sf_dir, c="customer", o="orders")
    return spark.sql(_TPCH_Q13_SQL, **v)


_TPCH_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                       AS BIGINT)) AS BIGINT) AS total_revenue_tm
  FROM {l}
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue_tm
FROM {s} JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue_tm = (SELECT MAX(total_revenue_tm) FROM revenue)
"""


@register("sql_tpch_q15", "G",
          oracle=_TPCH_Q15_SQL.format(l="lineitem", s="supplier"),
          doc="TPC-H Q15 (top supplier): per-supplier quarter revenue as "
              "exact tenth-milli BIGINTs, argmax via scalar subquery — "
              "the double-vs-double equality the original spec relies on "
              "is made cross-engine-safe by integer revenue units")
def sql_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CTE aggregates once and is referenced twice (join probe +
    scalar MAX); revenue must be an exact integer because the WHERE is an
    EQUALITY on an aggregate — the one TPC-H query where a ulp of
    cross-engine drift changes the row set, not just a printed digit."""
    v = _tables(spark, sf_dir, l="lineitem", s="supplier")
    return spark.sql(_TPCH_Q15_SQL, **v)


_TPCH_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      FROM {l}) AS ps
JOIN {p} ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#3'
  AND p_type NOT IN ('PROMO', 'SMALL')
  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM {s} WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@register("sql_tpch_q16", "G",
          oracle=_TPCH_Q16_SQL.format(l="lineitem", p="part", s="supplier"),
          doc="TPC-H Q16 (supplier-part relationship), adapted: partsupp "
              "is reconstructed as DISTINCT (l_partkey, l_suppkey) and "
              "the complaints exclusion becomes negative-balance "
              "suppliers; NOT IN exercises the null-aware anti join")
def sql_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTINCT pair projection is the expensive step (one shuffle on
    the pair); the NOT IN subquery is a broadcast null-aware anti join
    against a ~dozen-row exclusion list, and part is a broadcast dim."""
    v = _tables(spark, sf_dir, l="lineitem", p="part", s="supplier")
    return spark.sql(_TPCH_Q16_SQL, **v)


_TPCH_Q17_SQL = """
WITH agg AS (
  SELECT l_partkey AS agg_partkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(COUNT(*) AS BIGINT) AS n_qty
  FROM {l}
  GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_small_lines
FROM {l2}
JOIN {p} ON p_partkey = l_partkey
JOIN agg ON agg_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND 5 * n_qty * CAST(l_quantity AS BIGINT) < sum_qty
"""


@register("sql_tpch_q17", "G",
          oracle=_TPCH_Q17_SQL.format(l="lineitem", l2="lineitem", p="part"),
          doc="TPC-H Q17 (small-quantity-order revenue): the correlated "
              "avg-quantity subquery decorrelated into a per-part "
              "aggregate join; qty < 0.2*avg rewritten exactly as "
              "5*N*qty < sum over integer quantities (no float filter)")
def sql_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-part aggregate shuffles once on l_partkey and joins back
    to the fact on the same key — co-partitioned, so AQE can plan the
    second join shuffle-free; the brand filter broadcasts via part."""
    v = _tables(spark, sf_dir, l="lineitem", p="part")
    return spark.sql(_TPCH_Q17_SQL, l2=v["l"], **v)


_TPCH_Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM {l} JOIN {p} ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


@register("sql_tpch_q19", "G",
          oracle=_TPCH_Q19_SQL.format(l="lineitem", p="part"),
          doc="TPC-H Q19 (discounted revenue): disjunction of conjunctive "
              "brand/size/quantity clauses over a fact-dim join — the "
              "classic OR-of-ANDs pushdown/CNF-conversion stress case")
def sql_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst extracts the common p_partkey = l_partkey equi-key so
    this stays a hash join (not nested-loop), and derives IN/range
    filters for each side from the OR arms to prune both scans."""
    v = _tables(spark, sf_dir, l="lineitem", p="part")
    return spark.sql(_TPCH_Q19_SQL, **v)


_TPCH_Q22_SQL = """
WITH pos AS (
  SELECT CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
           AS bal_cents,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {c}
  WHERE c_acctbal > 0.0
)
SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(acctbal_cents) AS BIGINT) AS totacctbal_cents
FROM (
  SELECT CAST(c_nationkey % 7 AS BIGINT) AS cntrycode,
         CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
  FROM {c2}, pos
  WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n > bal_cents
    AND NOT EXISTS (SELECT 1 FROM {o} WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
) AS custsale
GROUP BY cntrycode
"""


@register("sql_tpch_q22", "G",
          oracle=_TPCH_Q22_SQL.format(c="customer", c2="customer", o="orders"),
          doc="TPC-H Q22 (global sales opportunity), adapted: country "
              "code is c_nationkey % 7 (no phone column) and 'never "
              "ordered' becomes 'dormant since 1999' (the dense synthetic "
              "orders cover every customer); the above-average-balance "
              "filter runs as exact integer arithmetic cents*N > "
              "total_cents, and NOT EXISTS exercises the anti join")
def sql_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-row 'pos' aggregate broadcasts under every join
    strategy; the anti join against orders is the only shuffle. The
    avg comparison must be integer-exact: a strict > on a float average
    is the textbook cross-engine boundary flip."""
    v = _tables(spark, sf_dir, c="customer", o="orders")
    return spark.sql(_TPCH_Q22_SQL, c2=v["c"], **v)


_TPCH_Q2_SQL = """
WITH ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(CAST(floor(1000000 * l_extendedprice / l_quantity) AS BIGINT))
           AS supplycost_micro
  FROM {l}
  GROUP BY l_partkey, l_suppkey
)
SELECT CAST(round(s_acctbal * 100) AS BIGINT) AS s_acctbal_cents,
       s_name, n_name, p_partkey, p_name, supplycost_micro
FROM {p}, ps, {s}, {n}, {r}
WHERE p_partkey = ps_partkey
  AND s_suppkey = ps_suppkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND p_size < 10
  AND p_type = 'STANDARD'
  AND r_name = 'EUROPE'
  AND supplycost_micro = (
    SELECT MIN(ps2.supplycost_micro)
    FROM ps AS ps2, {s2} AS s2, {n2} AS n2, {r2} AS r2
    WHERE ps2.ps_partkey = p_partkey
      AND s2.s_suppkey = ps2.ps_suppkey
      AND s2.s_nationkey = n2.n_nationkey
      AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
"""


@register("sql_tpch_q2", "G",
          oracle=_TPCH_Q2_SQL.format(l="lineitem", p="part", s="supplier",
                                     n="nation", r="region", s2="supplier",
                                     n2="nation", r2="region"),
          doc="TPC-H Q2 (minimum-cost supplier), adapted: partsupp is "
              "derived from lineitem — supply cost per (part, supplier) = "
              "floored micro-int MIN unit price — and the min-cost "
              "correlated subquery keeps its original shape")
def sql_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated MIN decorrelates into a per-part aggregate joined
    back on p_partkey (Catalyst rewrites it; no per-row subquery runs).
    The cost equality is BIGINT = BIGINT — floor of an IEEE-identical
    double division — so the row set cannot flip cross-engine. All four
    dims broadcast; the derived ps aggregate is the only lineitem
    shuffle, on (partkey, suppkey)."""
    v = _tables(spark, sf_dir, l="lineitem", p="part", s="supplier",
                n="nation", r="region")
    return spark.sql(_TPCH_Q2_SQL, s2=v["s"], n2=v["n"], r2=v["r"], **v)


_TPCH_Q9_SQL = """
SELECT nation, o_year, CAST(SUM(CAST(amount AS DECIMAL(38,4))) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(year(o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount)
           - 0.6 * p_retailprice * l_quantity AS amount
  FROM {p}, {s}, {l}, {o}, {n}
  WHERE s_suppkey = l_suppkey
    AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey
    AND s_nationkey = n_nationkey
    AND p_name LIKE '%widget%'
) AS profit
GROUP BY nation, o_year
"""


@register("sql_tpch_q9", "G",
          oracle=_TPCH_Q9_SQL.format(p="part", s="supplier", l="lineitem",
                                     o="orders", n="nation"),
          doc="TPC-H Q9 (product-type profit), adapted: no ps_supplycost, "
              "so the cost basis is 60% of p_retailprice; profit by "
              "supplier nation and order year over '%widget%' parts")
def sql_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact joins orders on l_orderkey (the one big shuffle) with part/
    supplier/nation broadcast; the LIKE filter prunes the part build side
    before the join. amount has exact 4-decimal true precision (2-dp
    prices × 2-dp rates), so the 4-dp rounded sum is cross-engine-stable."""
    v = _tables(spark, sf_dir, p="part", s="supplier", l="lineitem",
                o="orders", n="nation")
    return spark.sql(_TPCH_Q9_SQL, **v)


_TPCH_Q11_SQL = """
WITH natstock AS (
  SELECT l_partkey AS ps_partkey,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM {l}, {s}, {n}
  WHERE l_suppkey = s_suppkey
    AND s_nationkey = n_nationkey
    AND n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT ps_partkey, value_cents
FROM natstock
WHERE value_cents * 200 > (SELECT SUM(value_cents) FROM natstock)
"""


@register("sql_tpch_q11", "G",
          oracle=_TPCH_Q11_SQL.format(l="lineitem", s="supplier", n="nation"),
          doc="TPC-H Q11 (important stock), adapted: stock value per part "
              "= cents shipped by NATION_3 suppliers; parts holding more "
              "than 1/200 of the nation's total, via scalar subquery")
def sql_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nation-filtered aggregate is computed once and referenced
    twice (group rows + scalar total); the HAVING-style threshold is
    integer cents × 200 vs total cents — the fraction-of-total filter
    with no float division anywhere."""
    v = _tables(spark, sf_dir, l="lineitem", s="supplier", n="nation")
    return spark.sql(_TPCH_Q11_SQL, **v)


_TPCH_Q20_SQL = """
WITH shipped AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM {l}
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey
),
part_total AS (
  SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS total_qty
  FROM shipped GROUP BY l_partkey
)
SELECT s_name, n_name
FROM {s}, {n}
WHERE s_nationkey = n_nationkey
  AND s_suppkey IN (
    SELECT sh.l_suppkey
    FROM shipped AS sh
    JOIN part_total AS pt ON pt.l_partkey = sh.l_partkey
    JOIN {p} ON p_partkey = sh.l_partkey
    WHERE p_name LIKE '%bolt%'
      AND 2 * sh.qty > pt.total_qty)
"""


@register("sql_tpch_q20", "G",
          oracle=_TPCH_Q20_SQL.format(l="lineitem", s="supplier", n="nation",
                                      p="part"),
          doc="TPC-H Q20 (potential part promotion), adapted: no "
              "ps_availqty, so the 'excess stock' test becomes suppliers "
              "who shipped the majority (2·qty > total) of a '%bolt%' "
              "part's 1997 volume; IN-subquery semi join kept")
def sql_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two stacked integer aggregates on co-partitioned keys (partkey,
    suppkey) → (partkey), then a broadcast semi join into the 10-row
    supplier dim. The majority test is pure BIGINT arithmetic."""
    v = _tables(spark, sf_dir, l="lineitem", s="supplier", n="nation",
                p="part")
    return spark.sql(_TPCH_Q20_SQL, **v)


_TPCH_Q21_SQL = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM {s}, {l} AS l1, {o}, {n}
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL '60' DAY
  AND s_nationkey = n_nationkey
  AND n_name = 'NATION_5'
  AND EXISTS (SELECT 1 FROM {l2} AS l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM {l3} AS l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL '60' DAY)
GROUP BY s_name
"""


@register("sql_tpch_q21", "G",
          oracle=_TPCH_Q21_SQL.format(s="supplier", l="lineitem", o="orders",
                                      n="nation", l2="lineitem", l3="lineitem"),
          doc="TPC-H Q21 (suppliers who kept orders waiting), adapted: no "
              "receipt/commit dates, so 'late' = shipped more than 60 days "
              "after the order date; the sole-late-supplier-on-a-"
              "multi-supplier-order EXISTS / NOT EXISTS pair is original")
def sql_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic double-existential: Catalyst turns EXISTS into a left
    semi and NOT EXISTS into a left anti join, both keyed on l_orderkey —
    three scans of lineitem co-partitioned on one key, so AQE reuses the
    exchange. The NOT EXISTS arm correlates on the outer o_orderdate
    (same order ⇒ same date), which both engines decorrelate exactly."""
    v = _tables(spark, sf_dir, s="supplier", l="lineitem", o="orders",
                n="nation")
    return spark.sql(_TPCH_Q21_SQL, l2=v["l"], l3=v["l"], **v)
