"""Further operator coverage (G tier): RANGE window frames, argmin/argmax
aggregates, the regexp function family, explicit NULL ordering, and a
MERGE-style upsert composed from anti-join + union (the pattern used when
no transactional table format is on the classpath).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from toy_map_reduce_spark.operators.extras import (
    PCTL_SMALL_N,
    _exact_order_stats,
    ntile_size_sql,
    ntile_start_sql,
)
from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load


_WINDOW_RANGE_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice NULLS FIRST
                           RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_similar,
       round(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice NULLS FIRST
                                     RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW), 2) AS sum_similar
FROM orders
"""


@register("window_range_frame", "G", oracle=_WINDOW_RANGE_ORACLE,
          doc="RANGE window frame (value-based, tie-inclusive — distinct "
              "semantics from ROWS frames): orders within $10k below each order")
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice"))
        .rangeBetween(-10000, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_similar"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("sum_similar"),
    )


_MIN_MAX_BY_ORACLE = """
SELECT o_custkey,
       arg_max(o_orderkey, o_totalprice) AS biggest_order,
       arg_min(o_orderkey, o_totalprice) AS smallest_order,
       round(MAX(o_totalprice), 2) AS max_price
FROM orders
GROUP BY o_custkey
"""


@register("agg_min_max_by", "G", oracle=_MIN_MAX_BY_ORACLE,
          doc="Argmin/argmax aggregates (max_by/min_by ≡ DuckDB arg_max/arg_min). "
              "Deterministic here: o_totalprice has no exact duplicates per customer "
              "(verified for the fixture seed); tie-breaking is engine-defined otherwise")
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


_SCALAR_REGEX_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]{5,}')) AS INTEGER) AS n_long_words,
       regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word,
       regexp_matches(text, 'data|query') AS mentions_data,
       regexp_replace(text, '([a-z]+)ing', '\\1ed', 'g') AS ing_to_ed,
       CAST(len(regexp_extract_all(lang, '[aeiou]')) AS INTEGER) AS lang_vowels
FROM documents
"""


@register("scalar_regex", "G", oracle=_SCALAR_REGEX_ORACLE,
          doc="Regexp family: extract (group n), extract_all count, matches, "
              "group-referencing replace (Spark $1 vs DuckDB \\1 pinned)")
def scalar_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit("[a-z]{5,}")).alias("n_long_words"),
        F.regexp_extract("text", "([a-z]+) ([a-z]+)", 2).alias("second_word"),
        F.col("text").rlike("data|query").alias("mentions_data"),
        # Spark (Java regex) uses $1 for group refs; DuckDB (RE2) uses \1
        F.regexp_replace("text", r"([a-z]+)ing", r"$1ed").alias("ing_to_ed"),
        F.regexp_count("lang", F.lit("[aeiou]")).alias("lang_vowels"),
    )


_SORT_NULLS_ORACLE = """
SELECT o_orderkey, masked_price FROM (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'O' THEN NULL ELSE round(o_totalprice, 2) END AS masked_price
  FROM orders
)
ORDER BY masked_price DESC NULLS LAST, o_orderkey ASC
LIMIT 200
"""


@register("sort_nulls", "G", oracle=_SORT_NULLS_ORACLE,
          doc="Explicit NULL ordering in sorts (engine defaults differ — "
              "SURVEY.md §7.4 — so every ORDER BY involving NULLs pins "
              "NULLS FIRST/LAST)")
def sort_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    masked = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", F.lit(None).cast("double"))
        .otherwise(F.round("o_totalprice", 2))
        .alias("masked_price"),
    )
    return masked.orderBy(
        F.col("masked_price").desc_nulls_last(), F.col("o_orderkey").asc()
    ).limit(200)


_MERGE_UPSERT_ORACLE = """
WITH updates AS (
  SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS c_acctbal, 'updated' AS row_status
  FROM customer WHERE c_mktsegment = 'BUILDING'
),
kept AS (
  SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, 'unchanged' AS row_status
  FROM customer
  WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
)
SELECT * FROM updates UNION ALL SELECT * FROM kept
"""


@register("merge_upsert", "G", oracle=_MERGE_UPSERT_ORACLE,
          doc="MERGE INTO emulation without a transactional format: "
              "updates ∪ (target anti-join updates) — the upsert pattern for "
              "plain-parquet targets (Delta/Iceberg MERGE replaces it when "
              "their jars are present; see sources/lakehouse.py)")
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    updates = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
        F.lit("updated").alias("row_status"),
    )
    kept = (
        cust.join(updates.select("c_custkey"), "c_custkey", "left_anti")
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            F.lit("unchanged").alias("row_status"),
        )
    )
    return updates.unionByName(kept)


_AGG_HISTOGRAM_ORACLE = """
SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                 WHEN o_totalprice >= 600000 THEN 13
                 ELSE floor(o_totalprice / 50000.0) + 1 END AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       round(MIN(o_totalprice), 2) AS lo,
       round(MAX(o_totalprice), 2) AS hi
FROM orders
GROUP BY 1
"""


@register("agg_histogram", "G", oracle=_AGG_HISTOGRAM_ORACLE,
          doc="Equi-width histogram via width_bucket: 12 buckets over the "
              "price domain, per-bucket count and observed bounds — one "
              "hash aggregate, no sort")
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12)).cast("int").alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


_MV_INCREMENTAL_ORACLE = """
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(SUM(round(o_totalprice, 2)), 2) AS total_spend
FROM orders
GROUP BY o_custkey
"""


@register("mv_incremental_refresh", "G", oracle=_MV_INCREMENTAL_ORACLE,
          doc="Incremental materialized-view maintenance: base aggregate "
              "(old partition) merged with a delta aggregate (new partition) "
              "by re-aggregation — result provably equals the full recompute "
              "(same oracle). The refresh cost is O(delta), not O(history)")
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Splits orders at a date watershed into 'already materialized' and
    'newly arrived', aggregates each independently, and merges partials by
    summing — the additive-aggregate contract (COUNT/SUM decompose; AVG
    would be maintained as SUM+COUNT). At 100 TB the base side is the
    stored MV, never rescanned; here both sides are computed so the oracle
    can verify merge == full recompute."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", F.round("o_totalprice", 2).alias("price")
    )
    watershed = F.lit("1997-01-01").cast("timestamp")

    def agg(df):
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").alias("spend"),
        )

    base = agg(orders.where(F.col("o_orderdate") < watershed))
    delta = agg(
        orders.where(
            (F.col("o_orderdate") >= watershed) | F.col("o_orderdate").isNull()
        )
    )
    merged = base.unionByName(delta)
    return merged.groupBy("o_custkey").agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.round(F.sum("spend"), 2).alias("total_spend"),
    )


_EXISTS_FLAG_SQL = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN has_urgent THEN 1 ELSE 0 END) AS BIGINT) AS n_with_urgent
FROM (
  SELECT c.c_custkey, c.c_mktsegment,
         EXISTS (SELECT 1 FROM {o} WHERE o_custkey = c.c_custkey
                 AND o_orderpriority = '1-URGENT') AS has_urgent
  FROM {c} AS c
) flagged
GROUP BY c_mktsegment
"""


@register("subquery_exists_flag", "G",
          oracle=_EXISTS_FLAG_SQL.format(c="customer", o="orders"),
          doc="Projected EXISTS (existence/mark join): the subquery result "
              "as a BOOLEAN COLUMN rather than a filter — rows are kept "
              "either way and the flag feeds a conditional aggregate")
def subquery_exists_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A filtering EXISTS plans as a left-semi join (drops rows); a
    PROJECTED one needs the ExistenceJoin variant — a left-outer-shaped
    hash join that emits a synthetic boolean instead of dropping or
    duplicating, still one shuffle on the correlation key. Same SQL text
    on both engines."""

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return spark.sql(_EXISTS_FLAG_SQL, c=c, o=o)


_CROSSTAB_ORACLE = """
SELECT COALESCE(l_returnflag, 'null') AS l_returnflag_l_linestatus,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O
FROM lineitem
GROUP BY l_returnflag
"""


@register("stat_crosstab", "G", oracle=_CROSSTAB_ORACLE,
          doc="df.stat.crosstab contingency table (returnflag × linestatus "
              "pair counts pivoted wide) — the DataFrameStatFunctions "
              "surface; safe here because l_linestatus's domain {F, O} is "
              "schema-stable across scale factors")
def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """crosstab's output schema is DATA-DEPENDENT (one column per distinct
    value) — fine for a bounded enum like linestatus, an anti-pattern for
    open-domain keys at scale, where the pivot-with-explicit-values form
    (sql_pivot_clause) is the contract instead. Executes as one pair
    count + local pivot."""
    li = load(spark, sf_dir, "lineitem")
    ct = li.stat.crosstab("l_returnflag", "l_linestatus")
    # crosstab emits one column per OBSERVED value; a degenerate corpus
    # missing a status must still satisfy the {F, O} contract schema
    for c in ("F", "O"):
        if c not in ct.columns:
            ct = ct.withColumn(c, F.lit(0))
    return ct.select(
        "l_returnflag_l_linestatus",
        F.col("F").cast("bigint").alias("F"),
        F.col("O").cast("bigint").alias("O"),
    )


_TABLE_DIFF_ORACLE = """
WITH a AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN round(round(o_totalprice, 2) * 1.1, 2)
              ELSE round(o_totalprice, 2) END AS price
  FROM orders WHERE o_orderkey % 7 <> 0
),
b AS (
  SELECT o_orderkey, round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 11 <> 0
),
j AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k, a.price AS pa, b.price AS pb
  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
),
c AS (
  SELECT k,
         CASE WHEN pa IS NULL THEN 'added'
              WHEN pb IS NULL THEN 'removed'
              WHEN pa <> pb THEN 'changed'
              ELSE 'unchanged' END AS class
  FROM j
)
SELECT class, CAST(COUNT(*) AS BIGINT) AS n, MIN(k) AS sample_key
FROM c GROUP BY class
"""


@register("table_diff", "G", oracle=_TABLE_DIFF_ORACLE,
          doc="Snapshot diff: two deterministically-derived versions of "
              "orders full-outer-joined on the key and classified "
              "added/removed/changed/unchanged — the reconciliation audit "
              "run between every pair of pipeline snapshots")
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One co-partitioned full outer join on the snapshot key (both sides
    shuffle once on o_orderkey; with bucketed layout — see
    sources/bucketing.py — even that exchange disappears), then a 4-row
    classification aggregate. The diff never materializes unchanged rows
    anywhere except inside the join."""
    orders = load(spark, sf_dir, "orders")
    base_price = F.round("o_totalprice", 2)
    a = orders.where(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.round(base_price * 1.1, 2))
        .otherwise(base_price).alias("pa"),
    )
    b = orders.where(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey", base_price.alias("pb")
    )
    j = a.join(b, "o_orderkey", "full_outer")
    c = j.select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("pa").isNull(), "added")
        .when(F.col("pb").isNull(), "removed")
        .when(F.col("pa") != F.col("pb"), "changed")
        .otherwise("unchanged").alias("class"),
    )
    return c.groupBy("class").agg(
        F.count(F.lit(1)).alias("n"), F.min("k").alias("sample_key")
    )


_GEOMEAN_ORACLE = """
SELECT l_returnflag,
       round(exp(AVG(CASE WHEN l_extendedprice > 0
                          THEN ln(l_extendedprice) END)), 4) AS geo_mean_price,
       round(AVG(l_extendedprice), 4) AS arith_mean_price,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_geometric_mean", "G", oracle=_GEOMEAN_ORACLE,
          doc="Geometric mean per group via exp(avg(ln x)) on "
              "strictly-positive prices, next to the arithmetic mean — "
              "the right average for ratios and growth factors, as a "
              "plain partial-aggregated fold")
def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exp∘avg∘ln keeps the aggregate map-side combinable (avg of logs)
    where a literal product would overflow doubles after ~300 values;
    the log/exp transcendentals agree cross-engine within the 1-ulp
    convention and the result rounds at 4. Inputs are positive by
    fixture construction — a production version guards ln with a
    WHERE x > 0 contract."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.exp(F.avg(F.log("l_extendedprice"))), 4).alias("geo_mean_price"),
            F.round(F.avg("l_extendedprice"), 4).alias("arith_mean_price"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("l_returnflag")
    )


_HARMONIC_ORACLE = """
SELECT l_returnflag,
       round(COUNT(*) / SUM(1.0 / nullif(l_extendedprice, 0)), 4) AS harm_mean_price,
       round(exp(AVG(CASE WHEN l_extendedprice > 0
                          THEN ln(l_extendedprice) END)), 4) AS geo_mean_price,
       round(AVG(l_extendedprice), 4) AS arith_mean_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_harmonic_mean", "G", oracle=_HARMONIC_ORACLE,
          doc="Harmonic mean per group (n / sum(1/x)) beside the geometric "
              "and arithmetic means — the Pythagorean trio in one "
              "partial-aggregated pass, with HM ≤ GM ≤ AM holding row-wise")
def agg_harmonic_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The right average for rates (price per unit averaged over equal
    spend); like the geometric form it is a plain map-side-combinable
    fold (sum of reciprocals), positive inputs by fixture contract. The
    mean inequality doubles as a free sanity assertion in review."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            # try_divide: a zero price has no reciprocal (NULL, skipped
            # by SUM — the oracle's 1/NULLIF(x,0) does the same)
            F.round(
                F.try_divide(
                    F.count(F.lit(1)),
                    F.sum(F.try_divide(F.lit(1.0), F.col("l_extendedprice"))),
                ), 4
            ).alias("harm_mean_price"),
            F.round(F.exp(F.avg(F.log("l_extendedprice"))), 4).alias("geo_mean_price"),
            F.round(F.avg("l_extendedprice"), 4).alias("arith_mean_price"),
        )
        .orderBy("l_returnflag")
    )


_CORR_PAIRS_ORACLE = """
WITH pairs AS (
  SELECT 'qty_price' AS pair, corr(l_quantity, l_extendedprice) AS r,
         covar_samp(l_quantity, l_extendedprice) AS cov FROM lineitem
  UNION ALL
  SELECT 'qty_discount', corr(l_quantity, l_discount),
         covar_samp(l_quantity, l_discount) FROM lineitem
  UNION ALL
  SELECT 'price_tax', corr(l_extendedprice, l_tax),
         covar_samp(l_extendedprice, l_tax) FROM lineitem
  UNION ALL
  SELECT 'discount_tax', corr(l_discount, l_tax),
         covar_samp(l_discount, l_tax) FROM lineitem
)
SELECT pair, round(r, 6) + 0.0 AS r, round(cov, 4) + 0.0 AS cov,
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n
FROM pairs
"""


@register("agg_corr_pairs", "G", oracle=_CORR_PAIRS_ORACLE,
          doc="Pairwise Pearson correlation + sample covariance over the "
              "lineitem measure columns — the feature-redundancy screen, "
              "each pair a single-pass co-moment aggregate")
def agg_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corr/covar_samp are single-pass streaming co-moment aggregates
    (partial+final, map-side combinable) — four pairs over one cached
    scan is still one stage, no joins, no windows; at 100 TB this is
    exactly a multi-column statistics collection pass. Rounded inside
    the query on both engines."""
    li = load(spark, sf_dir, "lineitem")
    cols = [
        ("qty_price", "l_quantity", "l_extendedprice"),
        ("qty_discount", "l_quantity", "l_discount"),
        ("price_tax", "l_extendedprice", "l_tax"),
        ("discount_tax", "l_discount", "l_tax"),
    ]
    aggs = []
    for name, a, b in cols:
        # + 0.0 canonicalizes IEEE negative zero (a near-zero negative
        # statistic rounds to -0.0, which string-compares unequal cross-engine)
        aggs += [
            (F.round(F.corr(a, b), 6) + F.lit(0.0)).alias(f"r_{name}"),
            (F.round(F.covar_samp(a, b), 4) + F.lit(0.0)).alias(f"cov_{name}"),
        ]
    wide = li.agg(*aggs, F.count(F.lit(1)).alias("n"))
    rows = F.array(*[
        F.struct(
            F.lit(name).alias("pair"),
            F.col(f"r_{name}").alias("r"),
            F.col(f"cov_{name}").alias("cov"),
        )
        for name, _, _ in cols
    ])
    return wide.select(F.explode(rows).alias("p"), "n").select(
        "p.pair", "p.r", "p.cov", F.col("n").cast("long").alias("n")
    )


DIM_DATE_START = "2024-01-01"
DIM_DATE_DAYS = 730

_DIM_DATE_ORACLE = f"""
SELECT d AS date_key,
       CAST(year(d) AS INTEGER) AS year,
       CAST(quarter(d) AS INTEGER) AS quarter,
       CAST(month(d) AS INTEGER) AS month,
       CAST(isodow(d) AS INTEGER) AS iso_dow,
       CAST(weekofyear(d) AS INTEGER) AS iso_week,
       isodow(d) >= 6 AS is_weekend,
       CAST(date_trunc('month', d) AS DATE) AS month_start,
       CAST(last_day(d) AS DATE) AS month_end
FROM (
  SELECT CAST(unnest(generate_series(DATE '{DIM_DATE_START}',
                                     DATE '{DIM_DATE_START}' + INTERVAL {DIM_DATE_DAYS - 1} DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS d
)
"""


@register("dim_date_generate", "G", oracle=_DIM_DATE_ORACLE,
          doc=f"Date-dimension generator: {DIM_DATE_DAYS} consecutive days "
              "from a fixed epoch with year/quarter/month/ISO-dow/ISO-week/"
              "weekend/month-boundary attributes — the calendar spine every "
              "warehouse joins against, built from sequence+explode with "
              "zero input tables")
def dim_date_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated dimensions are pure metadata — the build is one
    sequence() literal exploded JVM-side (no scan, no shuffle), and the
    dimension is broadcast-sized by construction at any fact scale. ISO
    day-of-week is derived portably ((dayofweek + 5) % 7 + 1: Spark's
    dayofweek is Sunday=1, ISO wants Monday=1) — the dow-convention trap
    pinned once in scalar_calendar, reused here."""
    days = spark.range(DIM_DATE_DAYS).select(
        F.date_add(F.lit(DIM_DATE_START).cast("date"), F.col("id").cast("int")).alias("d")
    )
    iso_dow = ((F.dayofweek("d") + 5) % 7 + 1).cast("int")
    return days.select(
        F.col("d").alias("date_key"),
        F.year("d").cast("int").alias("year"),
        F.quarter("d").cast("int").alias("quarter"),
        F.month("d").cast("int").alias("month"),
        iso_dow.alias("iso_dow"),
        F.weekofyear("d").cast("int").alias("iso_week"),
        (iso_dow >= 6).alias("is_weekend"),
        F.trunc("d", "month").alias("month_start"),
        F.last_day("d").alias("month_end"),
    )


_TRANSPOSE_ORACLE = """
WITH a AS (
  SELECT l_returnflag,
         round(SUM(l_quantity), 2) AS sum_qty,
         round(AVG(l_extendedprice), 2) AS avg_price,
         CAST(COUNT(*) AS DOUBLE) AS n_rows
  FROM lineitem GROUP BY l_returnflag
)
SELECT 'sum_qty' AS key,
       (SELECT sum_qty FROM a WHERE l_returnflag = 'A') AS A,
       (SELECT sum_qty FROM a WHERE l_returnflag = 'N') AS N,
       (SELECT sum_qty FROM a WHERE l_returnflag = 'R') AS R
UNION ALL
SELECT 'avg_price',
       (SELECT avg_price FROM a WHERE l_returnflag = 'A'),
       (SELECT avg_price FROM a WHERE l_returnflag = 'N'),
       (SELECT avg_price FROM a WHERE l_returnflag = 'R')
UNION ALL
SELECT 'n_rows',
       (SELECT n_rows FROM a WHERE l_returnflag = 'A'),
       (SELECT n_rows FROM a WHERE l_returnflag = 'N'),
       (SELECT n_rows FROM a WHERE l_returnflag = 'R')
"""


@register("sql_transpose", "G", oracle=_TRANSPOSE_ORACLE,
          doc="DataFrame.transpose (Spark 4 API): the per-returnflag "
              "metric grid flipped so metrics become rows and flags "
              "become columns — the wide-to-tall pivot dual, as a native "
              "relational op instead of driver-side reshaping")
def sql_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transpose() collects the (tiny, pre-aggregated) frame's first
    column as the new header — legitimate here because the input is a
    grouped summary (|flags| rows), never a fact table; the aggregate
    before it is where the scale lives. All measures are cast to a
    common double type, which transpose requires (and which the oracle's
    UNION mirrors)."""
    li = load(spark, sf_dir, "lineitem")
    a = (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.count(F.lit(1)).cast("double").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )
    t = a.transpose()
    # transpose's output schema is DATA-dependent (one column per observed
    # flag); the contract schema is the {A, N, R} domain — a degenerate
    # corpus missing a flag (or carrying a NULL/empty one) must still
    # produce exactly those columns, like the oracle's fixed subselects
    for c in ("A", "N", "R"):
        if c not in t.columns:
            t = t.withColumn(c, F.lit(None).cast("double"))
    return t.select("key", "A", "N", "R")


_MV_JOIN_INCREMENTAL_ORACLE = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(SUM(o.o_totalprice), 2) AS total_spend
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
"""


@register("mv_join_incremental", "G", oracle=_MV_JOIN_INCREMENTAL_ORACLE,
          doc="Incremental maintenance of a JOIN view: the base view "
              "(even orderkeys ⋈ customer) plus the delta contribution "
              "(odd orderkeys ⋈ customer) merged by additive aggregation "
              "— the join-IVM delta rule, verified equal to a full "
              "recompute by the oracle")
def mv_join_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delta rule for a one-sided fact append: Δ(O ⋈ C) = ΔO ⋈ C, so
    refreshing the view costs one join of the (small) delta against the
    dimension — never a rescan of the materialized base. Both sides
    aggregate to the view's grain BEFORE the merge (partial aggregates
    are additive for COUNT/SUM), so the merge is a tiny segment-keyed
    sum. The watershed here is orderkey parity, standing in for 'rows
    since the last refresh'; the oracle's full recompute pins that the
    incremental result is exact, not approximate."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    def view_partial(orders_slice):
        return (
            orders_slice.join(c, orders_slice.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("o_totalprice").alias("spend"),
            )
        )

    base = view_partial(o.where(F.col("o_orderkey") % 2 == 0))
    delta = view_partial(o.where(F.col("o_orderkey") % 2 == 1))
    merged = (
        base.unionByName(delta)
        .groupBy("c_mktsegment")
        .agg(F.sum("n_orders").alias("n_orders"), F.sum("spend").alias("spend"))
    )
    return merged.select(
        "c_mktsegment",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round("spend", 2).alias("total_spend"),
    )


_CDC_APPLY_ORACLE = """
WITH log AS (
  SELECT event_id, user_id, ts, value,
         CASE WHEN event_id % 10 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS op
  FROM events
),
latest AS (
  SELECT user_id, op, value FROM (
    SELECT user_id, op, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST) AS rn
    FROM log
  ) WHERE rn = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST((SELECT COUNT(*) FROM latest WHERE op = 'D') AS BIGINT) AS n_tombstoned,
       round(SUM(value), 2) AS sum_value_live
FROM latest WHERE op <> 'D'
"""


@register("cdc_apply_changelog", "G", oracle=_CDC_APPLY_ORACLE,
          doc="CDC changelog application: a synthesized I/U/D log collapsed "
              "to final table state via latest-record-per-key, with 'D' as "
              "the terminal tombstone — live row count, tombstone count, "
              "and the live-value sum (the MERGE-from-changelog read path)")
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction is exactly window_latest_per_key plus the
    tombstone rule: ONLY the newest record per key decides liveness, so
    the whole apply is one shuffle on the key (uniform) and a row_number
    — no iterative replay, no ordering dependence beyond the per-key
    (ts, event_id) total order both engines walk identically. Ops are
    synthesized by id modulo (D ≻ U ≻ I precedence in the CASE) to stand
    in for a Debezium-style feed."""
    ev = load(spark, sf_dir, "events")
    log = ev.select(
        "event_id", "user_id", "ts", "value",
        F.when(F.col("event_id") % 10 == 0, "D")
        .when(F.col("event_id") % 3 == 0, "U")
        .otherwise("I").alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    latest = log.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return latest.agg(
        # coalesce: COUNT semantics (0, not NULL) on a zero-row changelog,
        # matching the oracle's COUNT-based counters
        F.coalesce(F.sum(F.when(F.col("op") != "D", 1).otherwise(0)), F.lit(0))
        .cast("long").alias("n_live"),
        F.coalesce(F.sum(F.when(F.col("op") == "D", 1).otherwise(0)), F.lit(0))
        .cast("long").alias("n_tombstoned"),
        F.round(F.sum(F.when(F.col("op") != "D", F.col("value"))), 2).alias("sum_value_live"),
    )


EQUIDEPTH_BUCKETS = 8

_EQUIDEPTH_ORACLE = f"""
WITH t AS (
  SELECT o_totalprice,
         ntile({EQUIDEPTH_BUCKETS}) OVER (ORDER BY o_totalprice NULLS FIRST, o_orderkey) AS bucket
  FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       round(MIN(o_totalprice), 2) AS lo,
       round(MAX(o_totalprice), 2) AS hi
FROM t GROUP BY bucket
"""


@register("agg_histogram_equidepth", "G", oracle=_EQUIDEPTH_ORACLE,
          doc=f"Equi-depth histogram ({EQUIDEPTH_BUCKETS} ntile buckets, "
              "equal row counts, data-driven bounds) — the optimizer-"
              "statistics dual of agg_histogram's equi-width form, where "
              "skewed data leaves most equi-width buckets empty")
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth is what engine statistics actually store (selectivity
    per bucket is uniform by construction). The exact ntile output is
    derived WITHOUT a global sort (r4 verdict item 3): bucket sizes are
    arithmetic on n, and since o_totalprice is the primary sort key each
    bucket's lo/hi are the exact order statistics at the bucket's start/
    end ranks — two partial-aggregated scans via _exact_order_stats, the
    same machinery as agg_percentile. The o_orderkey tie-break only
    permutes rows WITHIN equal prices, so it cannot change any bucket's
    min/max/count. This is the exact 100 TB plan; approx_percentile
    (agg_approx_percentile) remains the sketch-only variant."""
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    nb = EQUIDEPTH_BUCKETS
    windows = [
        (
            i / nb,
            f"{ntile_start_sql(i + 1, nb)} - 1",
            [("v1", f"hi_{i}"), ("v2", f"lo_{i + 1}")],
        )
        for i in range(1, nb)
    ]
    one = _exact_order_stats(
        o, "o_totalprice", windows, extra_eps=(nb + 2) / PCTL_SMALL_N,
        with_minmax=True,
    )
    lo = {i: f"`lo_{i}`" for i in range(2, nb + 1)}
    hi = {i: f"`hi_{i}`" for i in range(1, nb)}
    lo[1], hi[nb] = "vmin", "vmax"
    structs = ", ".join(
        f"named_struct('bucket', {i}, 'cnt', {ntile_size_sql(i, nb)}, "
        f"'lo', round({lo[i]}, 2), 'hi', round({hi[i]}, 2))"
        for i in range(1, nb + 1)
    )
    # cnt > 0: with fewer rows than buckets, ntile leaves trailing buckets
    # EMPTY — the oracle's GROUP BY never emits them, and the arithmetic
    # scaffold must not either (no-op at any real scale: cnt >= n/nb >= 1)
    return one.selectExpr(f"inline(array({structs}))").where(F.col("cnt") > 0)
