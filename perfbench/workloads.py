"""The benchmark's workloads: which registry queries run, on how many
closed-loop clients, over which seeded inputs, and how results are
materialized. Why each was chosen is in BENCHMARK.json."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    rep: int  # replicas of the sf0.01 base tables (inputs.generate)
    tables: tuple[str, ...]  # tables generated and laid out in set-up
    sink: str  # "parquet": written to files; "collect": fetched with toPandas
    warm_up: bool  # one untimed round first (a long-lived session)
    seeded_order: bool  # the seed shuffles the queries of each round
    clients: int | None = None  # None: one client per core
    rounds: int | None = None  # measured rounds; None: as --seconds allows


# The paper's job as a batch user runs it: a fresh session, the queries in a
# fixed order, every result written out. The JVM warm-up is part of what such
# a user waits for, so there is no warm-up round; the one round is the job.
# Four replicas (2,000 documents) make the executors, not dispatch, most of
# the job: traced runs on 4 cores measured executor_run_s 76 s in a 42 s
# job, 56 s of it outside the JVM (Python workers), and 8.4 MB shuffled,
# against 42 s, 33 s and 2.1 MB on the 500 base documents. Eight replicas
# gave no more executor time (77 s) and sixteen took a run past its time
# budget: most of the job's remaining time is its cold start.
MAPREDUCE_TEXT = Workload(
    name="mapreduce_text",
    queries=(
        "wordcount", "wordcount_partitioned", "wordcount_rdd", "wordcount_salted",
        "text_ngram_freq", "text_tfidf", "text_quality", "quality_filter",
        "dedup_exact", "dedup_near", "dedup_simhash", "dedup_containment",
        "sim_topk_lsh", "udf_arrow", "pack_sequences",
    ),
    rep=4,
    tables=("orders", "documents", "embeddings"),
    sink="parquet",
    warm_up=False,
    seeded_order=False,
    clients=1,
    rounds=1,
)

# Short interactive queries on the sf0.01 base tables (rep 1, so the seed
# picks only the order): every eighth bench-eligible batch query (by name)
# whose time in BENCH_DETAIL.json ("queries", measured at sf0.1) was
# 0.15-0.9 s, plus the three streaming queries in that band. 39 queries, not
# all 389, so that a warm-up round and three measured rounds (117 latency
# samples, enough for a p90) fit the run's time budget. Per-query cost here
# is the fixed overhead (builder and analysis, planning, dispatch,
# tables.load), and a dense spread of similar costs keeps the latency
# percentiles from jumping between far-apart queries. The clients share one
# long-lived session; the seed picks each round's order, and with it which
# client runs which query. The list is fixed so that the mix does not change
# when the registry grows.
INTERACTIVE_MIX = Workload(
    name="interactive_mix",
    queries=(
        "agg_approx_distinct", "agg_corr_pairs", "agg_harmonic_mean",
        "agg_regression", "data_mix_temperature", "dedup_prefix",
        "embedding_quantize", "events_conversion_time", "events_order_audit",
        "join_anti", "join_interval_overlap", "join_scd2_lookup",
        "multimodal_dedup_blob", "orders_hierarchy_share", "pipeline_dataset_card",
        "pipeline_split_leakage", "sample_weighted", "scalar_explode_outer",
        "scalar_string", "scalar_variant", "set_union_all", "sort_limit_offset",
        "source_kv_text_roundtrip", "sql_parameterized", "sql_tpch_q14",
        "sql_tpch_q4", "stat_benford", "stat_power_analysis",
        "stream_static_join", "stream_update_mode", "text_char_ngrams",
        "text_license_detect", "text_tokens", "timeseries_ewma",
        "timeseries_max_gap", "timeseries_yoy", "window_first_last_nth",
        "window_session_native", "window_time_range",
    ),
    rep=1,
    tables=(
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ),
    sink="collect",
    warm_up=True,
    seeded_order=True,
)

WORKLOADS = {w.name: w for w in (MAPREDUCE_TEXT, INTERACTIVE_MIX)}
