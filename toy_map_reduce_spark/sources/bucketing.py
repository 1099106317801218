"""Bucketed-table join (G tier): the co-located join layout for repeated
large-fact joins at 100 TB — both sides pre-hashed into the same bucket
scheme at write time, so the join plans with ZERO Exchange (no shuffle at
read/join time). tests/test_plans.py asserts the shuffle-free plan.

The reference's shuffle was re-materialized per job as per-partition CSV
files (reference ``worker/services/WorkerServiceImpl.scala:63-78``);
bucketing is the durable version of that idea done right — the partitioned
layout is written once and reused by every subsequent join/aggregation on
the bucket key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load

N_BUCKETS = 8


def _bucketed_table(spark: SparkSession, sf_dir: str, table: str, key: str, select) -> DataFrame:
    """Write `table` bucketed by `key` as an external table of the query
    and return the table."""
    name = scratch.table(spark, f"tmr_bkt_{table}")
    (
        load(spark, sf_dir, table)
        .select(*select)
        .write.bucketBy(N_BUCKETS, key)
        .sortBy(key)
        .option("path", scratch.path(f"bucketed_{table}"))
        .mode("overwrite")
        .saveAsTable(name)
    )
    return spark.table(name)


_JOIN_BUCKETED_ORACLE = """
SELECT l.l_orderkey, o.o_custkey,
       round(SUM(l.l_extendedprice), 2) AS sum_price,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY l.l_orderkey, o.o_custkey
"""


@register("join_bucketed", "G", oracle=_JOIN_BUCKETED_ORACLE, bench=True,
          doc="Shuffle-free join via bucketed tables: lineitem and orders "
              "pre-bucketed on orderkey into the same 8-bucket scheme; the "
              "join (and the downstream groupBy on the same key) plans with "
              "zero Exchange — asserted in tests/test_plans.py")
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _bucketed_table(
        spark, sf_dir, "lineitem", "l_orderkey", ["l_orderkey", "l_extendedprice"]
    )
    orders = _bucketed_table(
        spark, sf_dir, "orders", "o_orderkey", ["o_orderkey", "o_custkey"]
    )
    # merge hint: at test scale AQE would broadcast the small side, which
    # hides exactly the property this operator exists to prove — with the
    # sort-merge path, matching bucket schemes mean NO Exchange anywhere
    # (and the downstream groupBy reuses the bucket partitioning too)
    return (
        li.hint("merge").join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_custkey")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
