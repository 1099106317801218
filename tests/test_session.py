"""What a long-lived session keeps between queries: one Python worker pool
for RDD and SQL jobs, and the generated classes of the queries it runs."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import all_specs


def _worker_pool_keys(spark) -> list:
    """Spark's keys for the pools of ``pyspark.worker`` processes."""
    it = spark._jvm.org.apache.spark.SparkEnv.get().pythonWorkers().keysIterator()
    keys = []
    while it.hasNext():
        key = it.next()
        if key.workerModule() == "pyspark.worker":
            keys.append(key.toString())
    return keys


def test_rdd_and_sql_python_jobs_share_one_worker_pool(spark):
    assert spark.sparkContext.parallelize(range(8), 4).map(lambda x: x + 1).sum() == 36
    plus_one = F.udf(lambda x: x + 1, "long")
    assert spark.range(8).select(F.sum(plus_one("id"))).first()[0] == 36

    @F.pandas_udf("long")
    def pd_plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    assert spark.range(8).select(F.sum(pd_plus_one("id"))).first()[0] == 36
    keys = _worker_pool_keys(spark)
    assert len(keys) == 1, keys


# Queries that compile about 160 generated classes at sf0.001, more than
# the 100 Spark's cache holds by default: with the default, a second pass
# in a fresh session recompiled 152 of the first pass's 161. Left out:
# queries whose code differs between builds of the same query, so that a
# second pass can compile a variant the first did not. Spark orders the Expand of
# several distinct aggregates by a hash over fresh expression ids
# (pipeline_split_leakage, pipeline_dataset_card: two variants), and
# adaptive execution numbers codegen stages in the order concurrent stages
# finish (orders_hierarchy_share: three variants in six runs).
_CODEGEN_QUERIES = (
    "window_first_last_nth", "window_time_range", "timeseries_max_gap",
    "window_session_native", "timeseries_yoy", "events_conversion_time",
    "stat_benford", "agg_harmonic_mean", "set_union_all",
    "events_order_audit", "join_scd2_lookup", "timeseries_ewma",
    "sql_tpch_q14",
)


def test_second_pass_over_queries_compiles_no_class(spark, sf_dir):
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    specs = all_specs()
    compiled = []
    for _ in range(2):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in _CODEGEN_QUERIES:
            with scratch.scope():
                specs[name].builder(spark, sf_dir).collect()
        compiled.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiled[1] == 0, compiled
