"""Remaining operator surface (G tier): skew-mitigation patterns,
distribution windows, deterministic collections, cross join, limit/offset
pagination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load
from toy_map_reduce_spark.operators.wordcount import tokenize, _WORDCOUNT_ORACLE


@register("wordcount_salted", "R", oracle=_WORDCOUNT_ORACLE, bench=True,
          doc="Two-phase salted aggregation: groupBy(salt, word) partial → "
              "groupBy(word) final. THE skew-mitigation pattern for hot keys "
              "(the reference's first-letter partitioning was maximally "
              "skewed and unmitigated, SURVEY.md §4.1); result identical to "
              "plain wordcount")
def wordcount_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same oracle as wordcount — salting must never change results. The
    salt spreads any single hot key over 16 reducers in phase 1; phase 2
    combines 16 partial rows per word. On skew-free data this costs one
    extra tiny shuffle; on a hot-key corpus it removes the straggler."""
    words = tokenize(load(spark, sf_dir, "documents"))
    salted = words.withColumn("salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(16)))
    partial = salted.groupBy("salt", "word").agg(F.count(F.lit(1)).alias("c"))
    return partial.groupBy("word").agg(F.sum("c").cast("long").alias("cnt"))


_WINDOW_DISTRIBUTION_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC NULLS FIRST, o_orderkey ASC)
"""


@register("window_distribution", "G", oracle=_WINDOW_DISTRIBUTION_ORACLE,
          doc="Distribution windows: ntile quartiles, percent_rank, cume_dist")
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


_AGG_COLLECT_ORACLE = """
SELECT c_mktsegment,
       array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM customer
GROUP BY c_mktsegment
"""


@register("agg_collect_set", "G", oracle=_AGG_COLLECT_ORACLE,
          doc="Deterministic collection aggregate: sort_array(collect_set) — "
              "raw collect_list order is execution-dependent and never exposed. "
              "Serialized to a CSV string at the query surface (sort, THEN "
              "stringify — string sort would order '10' before '2') so the "
              "driver's canonicalizer can hash the cell")
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    keys = F.sort_array(F.collect_set("c_nationkey"))
    return cust.groupBy("c_mktsegment").agg(
        # NULL (not '') when the group has no non-NULL keys — LISTAGG/
        # string_agg semantics, which the oracle produces natively
        F.when(
            F.size(keys) > 0,
            F.array_join(F.transform(keys, lambda x: x.cast("string")), ","),
        ).alias("nations"),
        F.count(F.lit(1)).alias("cnt"),
    )


_AGG_STRING_CONCAT_ORACLE = """
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM nation
GROUP BY n_regionkey
"""


@register("agg_string_concat", "G", oracle=_AGG_STRING_CONCAT_ORACLE,
          doc="Ordered string aggregation (LISTAGG): concat_ws over "
              "sort_array(collect_list) ≡ string_agg ... ORDER BY")
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation")
    names = F.sort_array(F.collect_list("n_name"))
    return nation.groupBy("n_regionkey").agg(
        # NULL (not '') for an all-NULL group — string_agg semantics
        F.when(F.size(names) > 0, F.concat_ws(",", names)).alias("nations_csv"),
        F.count(F.lit(1)).alias("cnt"),
    )


_JOIN_CROSS_ORACLE = """
SELECT r.r_name, n.n_name
FROM region r CROSS JOIN nation n
"""


@register("join_cross", "G", oracle=_JOIN_CROSS_ORACLE,
          doc="Explicit cross join (tiny dimension × dimension; Catalyst "
              "plans broadcast nested loop)")
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    return region.crossJoin(nation).select("r_name", "n_name")


_SORT_OFFSET_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC
LIMIT 50 OFFSET 100
"""


@register("sort_limit_offset", "G", oracle=_SORT_OFFSET_ORACLE,
          doc="Keyset-free pagination: ORDER BY ... NULLS FIRST LIMIT with OFFSET "
              "(deterministic via unique-key tiebreak)")
def sort_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .offset(100)
        .limit(50)
    )


_AGG_CONDITIONAL_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_high_disc,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) FILTER (WHERE l_quantity >= 25)
            AS DOUBLE) AS rev_bulk,
       bool_and(l_quantity > 0) AS all_positive_qty,
       bool_or(l_discount > 0.09) AS any_deep_disc,
       round(AVG(l_tax) FILTER (WHERE l_linestatus = 'F'), 6) AS avg_tax_finished
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_conditional", "G", oracle=_AGG_CONDITIONAL_ORACLE,
          doc="Conditional aggregates: count_if / FILTER-style sums and avgs, "
              "bool_and / bool_or — single-pass, map-side partial, no "
              "self-joins for per-predicate metrics")
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_high_disc"),
        # summed in DECIMAL: exact, so independent of the order of
        # accumulation (a double sum of ~9e10 is not, at 2 decimals)
        F.sum(
            F.when(F.col("l_quantity") >= 25, F.col("l_extendedprice").cast("decimal(38,2)"))
        ).cast("double").alias("rev_bulk"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_disc"),
        F.round(
            F.avg(F.when(F.col("l_linestatus") == "F", F.col("l_tax"))), 6
        ).alias("avg_tax_finished"),
    )


@register("agg_hll_merge", "G", oracle=None, bench=True,
          doc="Mergeable-sketch architecture: per-shard HLL sketches "
              "(hll_sketch_agg) unioned into one estimate (hll_union_agg) "
              "— how distinct counts compose across 100 TB of shards "
              "without re-scanning; rows-only (sketch binary is "
              "engine-specific), accuracy pinned by pytest vs exact")
def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-level shape is the point: shard-local sketches are built
    map-side in one pass, and ONLY the fixed-size sketch bytes move — the
    re-aggregatable form a lakehouse stores per partition so any partition
    subset's distinct count is a cheap sketch union, never a re-scan."""
    li = load(spark, sf_dir, "lineitem")
    shards = li.withColumn("shard", F.col("l_orderkey") % 8)
    per_shard = shards.groupBy("shard").agg(
        F.hll_sketch_agg("l_partkey").alias("sketch")
    )
    return per_shard.agg(
        F.round(F.hll_sketch_estimate(F.hll_union_agg("sketch"))).cast("long").alias(
            "approx_distinct_parts"
        ),
        F.count(F.lit(1)).cast("long").alias("n_shards_merged"),
    )


_BITMAP_DISTINCT_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_distinct
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_bitmap_distinct", "G", oracle=_BITMAP_DISTINCT_ORACLE,
          doc="EXACT distinct count via mergeable bitmaps: keys bucketed by "
              "bitmap_bucket_number, per-bucket bitmap_construct_agg, then "
              "per-group sum of bitmap_count — the high-throughput exact "
              "alternative to COUNT(DISTINCT)'s expand-and-dedup")
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) plans a two-phase expand (every distinct value is
    shuffled); the bitmap formulation instead aggregates fixed-size
    bitmaps that merge associatively — at 100 TB each (group, bucket)
    partial is one bitmap regardless of row count, and the second-level
    sum is over |groups|·|buckets| tiny rows. Exact, unlike HLL, while
    costing like a sketch when the key domain is bounded (integer ids)."""
    li = load(spark, sf_dir, "lineitem")
    per_bucket = (
        li.selectExpr(
            "l_returnflag",
            "bitmap_bucket_number(l_suppkey) AS bkt",
            "bitmap_bit_position(l_suppkey) AS pos",
        )
        .groupBy("l_returnflag", "bkt")
        .agg(F.expr("bitmap_count(bitmap_construct_agg(pos))").alias("c"))
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum("c").cast("bigint").alias("n_distinct")
    )


_APPROX_TOP_K_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
FROM events
GROUP BY event_type
"""


@register("agg_approx_top_k", "G", oracle=_APPROX_TOP_K_ORACLE,
          doc="approx_top_k heavy-hitter sketch, k sized to cover the full "
              "key domain so the result set is deterministic (a k smaller "
              "than the domain makes the boundary item data-dependent — "
              "the flake class this registry avoids); exploded back to "
              "exact per-key counts for the oracle")
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the sketch family (HLL distinct, GK percentiles,
    freqItems support, CMS-style top-k): one pass, fixed memory, and the
    sketch merges across partitions — the 100 TB dashboard query. With
    k ≥ |domain| and maxItemsTracked at its default the counts are exact,
    which is what makes an exact SQL oracle legitimate here."""
    ev = load(spark, sf_dir, "events")
    topk = ev.selectExpr("approx_top_k(event_type, 8) AS tk")
    return (
        topk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
    )


_BOOL_AGG_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_deep_discount,
       bool_or(l_tax > 0.07) AS any_high_tax,
       bool_and(l_quantity <= 50) AS all_qty_bounded,
       bool_and(l_discount >= 0.0) AS all_nonneg_discount,
       CAST(COUNT(*) FILTER (WHERE l_quantity > 45 AND l_discount = 0.0) AS BIGINT)
         AS n_bulk_full_price
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_bool", "G", oracle=_BOOL_AGG_ORACLE,
          doc="Boolean aggregate battery: count_if / bool_or (ANY) / "
              "bool_and (EVERY) predicates per return flag — the "
              "assertion-style aggregates behind data-quality contracts")
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four reduce map-side like any sum — bool_or/bool_and are
    max/min on bits — so the data-quality sweep costs one combiner pass
    over the scan at any scale."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_deep_discount"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        F.bool_and(F.col("l_quantity") <= 50).alias("all_qty_bounded"),
        F.bool_and(F.col("l_discount") >= 0.0).alias("all_nonneg_discount"),
        F.count_if(
            (F.col("l_quantity") > 45) & (F.col("l_discount") == 0.0)
        ).alias("n_bulk_full_price"),
    )


_PROFILE_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice")

_PROFILE_ORACLE = " UNION ALL ".join(
    f"""SELECT '{c}' AS col_name,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT CAST({c} AS VARCHAR)) AS BIGINT) AS n_distinct,
       MIN(CAST({c} AS VARCHAR)) AS min_str,
       MAX(CAST({c} AS VARCHAR)) AS max_str,
       round(AVG(len(CAST({c} AS VARCHAR))), 4) AS avg_len
FROM orders"""
    for c in _PROFILE_COLS
)


@register("profile_columns", "G", oracle=_PROFILE_ORACLE,
          doc="One-pass column profiler over orders: count / null-count / "
              "distinct / lexical min-max / average rendered length per "
              "column — the SUMMARIZE-style data-profiling sweep, via "
              "stack-unpivot so the table scans once")
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark side unpivots the four columns into (col_name, v) rows
    with stack — ONE scan for the whole profile, then a single groupBy on
    col_name (4 groups) with map-side partials. The oracle spells it as a
    per-column UNION for clarity; Catalyst gets the fused form. Doubles
    render shortest-roundtrip identically on both engines (values < 1e7,
    before either engine's scientific-notation cutover)."""
    orders = load(spark, sf_dir, "orders")
    pairs = ", ".join(
        f"'{c}', cast({c} as string)" for c in _PROFILE_COLS
    )
    long_df = orders.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {pairs}) as (col_name, v)"
    )
    # r13 optimization (guide §2.3 "aggregate before you shuffle"): the
    # old one-shot groupBy mixed countDistinct with plain aggregates, so
    # Catalyst planned it as Expand (x2 row duplication of the stacked
    # corpus) + a shuffle carrying BOTH copies. Aggregating to the
    # (col_name, v) distinct-value table first is fully map-side
    # combinable, the shuffle is bounded by |distinct values| instead of
    # 2x|rows|, and every profile stat is then exact arithmetic over the
    # value table: n = sum(cnt), n_null = cnt of the NULL group,
    # n_distinct = count of non-null groups, avg_len = the
    # frequency-weighted mean (bit-identical: Spark's Average over
    # integral input accumulates as double, and every summed length here
    # is an integer-valued double far below 2^53, where doubles are
    # exact — r13 advisor wording fix). Oracle unchanged, hash-verified
    # at all three SFs.
    g1 = long_df.groupBy("col_name", "v").agg(F.count(F.lit(1)).alias("cnt"))
    profiled = g1.groupBy("col_name").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.when(F.col("v").isNull(), F.col("cnt")).otherwise(0)).alias("n_null"),
        F.count("v").alias("n_distinct"),
        F.min("v").alias("min_str"),
        F.max("v").alias("max_str"),
        F.round(
            F.sum(F.length("v") * F.col("cnt"))
            / F.sum(F.when(F.col("v").isNotNull(), F.col("cnt"))),
            4,
        ).alias("avg_len"),
    )
    # a zero-row table still has a profile row per column (n=0) — the
    # oracle's per-column global aggregates emit them, the stack+groupBy
    # form does not; right-join the static column list to restore them
    cols = spark.createDataFrame([(c,) for c in _PROFILE_COLS], "col_name string")
    return profiled.join(F.broadcast(cols), "col_name", "right").select(
        "col_name",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("n_null", F.lit(0)).alias("n_null"),
        F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
        "min_str", "max_str", "avg_len",
    )


_LISTAGG_SQL = """
SELECT n_regionkey,
       listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name) AS names,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM {t}
GROUP BY n_regionkey
"""

_LISTAGG_ORACLE = """
SELECT n_regionkey,
       string_agg(n_name, '|' ORDER BY n_name) AS names,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM nation
GROUP BY n_regionkey
"""


@register("agg_listagg", "G", oracle=_LISTAGG_ORACLE,
          doc="SQL:2016 LISTAGG ... WITHIN GROUP (Spark 4 native): ordered "
              "string aggregation per region, checked against DuckDB's "
              "ordered string_agg — the standard form of what "
              "agg_string_concat builds manually from collect_list")
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WITHIN GROUP ordering makes the concatenation deterministic
    under shuffle (the same reason agg_string_concat sort_arrays its
    collect_list); state per group is the value list — bounded here by
    group size, the honest cost of any ordered string aggregate."""

    return spark.sql(_LISTAGG_SQL, t=load(spark, sf_dir, "nation"))


_FILTER_CLAUSE_SQL = """
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulky,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) FILTER (WHERE l_discount = 0)
            AS DOUBLE) AS rev_no_discount,
       round(AVG(l_extendedprice) FILTER (WHERE l_tax > 0.05), 4)
         AS avg_price_taxed,
       CAST(COUNT(*) AS BIGINT) AS n
FROM {t}
GROUP BY l_returnflag
"""


@register("agg_filter_clause", "G",
          oracle=_FILTER_CLAUSE_SQL.format(t="lineitem").replace(
              "COUNT(*) FILTER (WHERE l_quantity > 25)",
              "CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT)"),
          doc="SQL:2003 FILTER (WHERE ...) aggregate modifier: per-group "
              "conditional count/sum/avg in one pass, identical clause "
              "text on both engines — the standard form of what "
              "agg_conditional builds from CASE")
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER compiles to the same partial+final aggregate as the CASE
    encoding (Catalyst rewrites it during analysis) — registered
    separately because it is the surface optimizing SQL generators emit,
    and the NULL-handling difference vs CASE (COUNT skips, SUM of empty
    set is NULL not 0) is worth pinning cross-engine."""
    from pyspark.sql import functions as _F

    df = spark.sql(_FILTER_CLAUSE_SQL, t=load(spark, sf_dir, "lineitem"))
    return df.select(
        "l_returnflag",
        _F.col("n_bulky").cast("long").alias("n_bulky"),
        "rev_no_discount", "avg_price_taxed",
        _F.col("n").cast("long").alias("n"),
    )
