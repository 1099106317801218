"""Physical-plan regression tests: the plan properties that make these
operators survive 100 TB must hold, not just be hoped for — column pruning
reaches the parquet scan, filters push down, dimension joins broadcast,
top-k never global-sorts, aggregations have a map-side partial phase.
"""

from __future__ import annotations

import pytest

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.plans import (
    PlanNode,
    build_side_risk,
    explain_str,
    missed_broadcast,
    plan_properties,
    plan_tree,
    single_partition_sites,
)
from toy_map_reduce_spark.plans.explain import AGGREGATES, _corpus_grain_keys
from toy_map_reduce_spark.registry import get_spec


def plan_and_text(spark, sf_dir, name: str, mode: str = "simple") -> tuple[PlanNode, str]:
    """Registry query ``name``, built in its own scope: its plan tree, and
    its printed plan for reading node arguments."""
    with scratch.scope():
        df = get_spec(name).builder(spark, sf_dir)
        return plan_tree(df), explain_str(df, mode)


def tree_of(spark, sf_dir, name: str) -> PlanNode:
    return plan_and_text(spark, sf_dir, name)[0]


def plan_of(spark, sf_dir, name: str, mode: str = "formatted") -> str:
    return plan_and_text(spark, sf_dir, name, mode)[1]


def joins(tree: PlanNode, kind: str, join_type: str) -> list[PlanNode]:
    return [n for n in tree.walk() if n.kind == kind and n.join_type == join_type]


def key_names(node: PlanNode) -> list[str]:
    return [name for name, _ in node.keys]


def test_scan_project_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "scan_project")
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # only the 6 referenced columns may be read — never the full 11-column row
    for col in ("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax", "l_quantity"):
        assert col in read_schema
    for col in ("l_returnflag", "l_shipdate", "l_suppkey"):
        assert col not in read_schema, f"unpruned column {col} in {read_schema}"


def test_filter_pred_pushes_down(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_pred")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, "no PushedFilters in scan"
    assert "GreaterThanOrEqual" in pushed[0] or "In(l_returnflag" in pushed[0], pushed[0]


def test_join_broadcast_is_broadcast(spark, sf_dir):
    assert tree_of(spark, sf_dir, "join_broadcast").has("BroadcastHashJoin")


def test_small_dim_joins_broadcast_via_aqe_or_stats(spark, sf_dir):
    # part/customer are far below the broadcast threshold: no sort-merge
    tree = tree_of(spark, sf_dir, "join_semi")
    assert tree.has("BroadcastHashJoin") or not tree.has("BroadcastNestedLoopJoin")


def test_sort_limit_is_topk_not_global_sort(spark, sf_dir):
    assert tree_of(spark, sf_dir, "sort_limit").has("TakeOrderedAndProject"), (
        "ORDER BY+LIMIT must plan per-partition top-k"
    )


def test_wordcount_has_partial_aggregation(spark, sf_dir):
    tree = tree_of(spark, sf_dir, "wordcount")
    # partial (map-side) + final aggregate — the combiner the reference
    # lacked (reference ships every pair through the shuffle)
    assert tree.count(*AGGREGATES) >= 2


def test_wordcount_codegen(spark, sf_dir):
    # formatted mode hides codegen spans pre-AQE; codegen mode reports them
    plan = plan_of(spark, sf_dir, "wordcount", mode="codegen")
    assert "WholeStageCodegen" in plan


def test_agg_basic_partial_final(spark, sf_dir):
    assert tree_of(spark, sf_dir, "agg_basic").count(*AGGREGATES) >= 2


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    # the whole point of the bucketed layout: join + same-key groupBy with
    # ZERO Exchange in the plan
    props = plan_properties(tree_of(spark, sf_dir, "join_bucketed"))
    assert props["exchanges"] == 0, f"bucketed join must not shuffle: {props}"
    assert props["sort_merge_join"]


def test_sim_topk_broadcasts_queries(spark, sf_dir):
    assert tree_of(spark, sf_dir, "sim_topk").has(
        "BroadcastHashJoin", "BroadcastNestedLoopJoin"
    ), "query side must broadcast — data side must never shuffle"


def test_dedup_near_is_bucket_keyed_not_allpairs(spark, sf_dir):
    # the LSH formulation must stay a keyed join on (band_id, band_hash);
    # a regression to all-pairs would show up as a cartesian/nested-loop
    tree, plan = plan_and_text(spark, sf_dir, "dedup_near")
    assert not tree.has("CartesianProduct", "BroadcastNestedLoopJoin")
    assert "band_hash" in plan, "join must key on the LSH bucket hash"


def test_dedup_simhash_pairs_is_block_keyed(spark, sf_dir):
    tree, plan = plan_and_text(spark, sf_dir, "dedup_simhash_pairs")
    assert not tree.has("CartesianProduct", "BroadcastNestedLoopJoin")
    assert "block_val" in plan, "join must key on the pigeonhole block value"


def test_partitioned_sink_read_prunes_partitions(spark, sf_dir):
    # a filtered read over the Hive-partitioned sink must push the partition
    # predicate into PartitionFilters (skipping directories), not scan-all
    from pyspark.sql import functions as F

    with scratch.scope():
        get_spec("sink_partitioned_parquet").builder(spark, sf_dir)  # materialize sink
        df = spark.read.parquet(scratch.path("part_parquet"))
        plan = explain_str(df.where(F.col("o_orderstatus") == "F"))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, "no PartitionFilters in scan"
    assert "o_orderstatus" in pf[0], pf[0]


def test_jaccard_df_cap_is_aggregate_not_window(spark, sf_dir):
    # the posting-list df count must be a partial+final aggregate feeding a
    # broadcast hot-shingle anti-join — a Window.partitionBy("shingle")
    # count would funnel the hottest shingle's entire posting list into one
    # task before counting, the exact skew the cap exists to defuse
    for name in ("dedup_ngram_jaccard", "dedup_near_verified"):
        tree = tree_of(spark, sf_dir, name)
        assert not tree.has("Window"), f"{name}: df cap regressed to a Window"
        assert tree.has(*AGGREGATES), f"{name}: df count must be an aggregate"
        assert joins(tree, "BroadcastHashJoin", "LeftAnti"), (
            f"{name}: hot-shingle filter must be a broadcast anti-join"
        )


def test_dedup_incremental_first_wins_is_aggregate_not_window(spark, sf_dir):
    # within-batch first-wins must be a partial-aggregated argmin
    # (groupBy(h).agg(min_by)) — a row_number window partitioned by the
    # content hash would funnel every replica of a hot hash into one task,
    # the same skew the jaccard df cap defuses
    tree = tree_of(spark, sf_dir, "dedup_incremental")
    assert not tree.has("Window"), "first-wins regressed to a Window"
    assert tree.has(*AGGREGATES), "first-wins must be an aggregate"
    assert any(n.join_type == "LeftAnti" for n in tree.walk()), (
        "corpus screen must stay an anti-join"
    )


def test_dpp_join_prunes_partitions_dynamically(spark, sf_dir):
    # the fact scan must carry a runtime dynamicpruning subquery on the
    # partition column — without it the join reads every partition and DPP
    # (the biggest I/O lever on a partitioned fact) is silently lost
    plan = plan_of(spark, sf_dir, "join_dpp_partitioned")
    assert "dynamicpruning" in plan.lower(), "no dynamic partition pruning in plan"


def test_tpch_q5_broadcasts_dimensions(spark, sf_dir):
    # the 6-way join must broadcast the small dims (nation/region/supplier
    # at minimum), never shuffle-hash-join them against the fact chain
    tree, plan = plan_and_text(spark, sf_dir, "sql_tpch_q5", mode="formatted")
    assert tree.has("BroadcastHashJoin"), "no broadcast join in Q5 plan"
    assert "PushedFilters" in plan or tree.has("Filter")


def test_tpch_q6_filters_reach_scan_and_prune(spark, sf_dir):
    # Q6 is the pushdown showcase: no join, so the whole cost is the scan
    # — the shipdate/discount/quantity filters must appear as
    # PushedFilters and only the 4 referenced columns may be read
    plan = plan_of(spark, sf_dir, "sql_tpch_q6")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, "Q6 scan has no PushedFilters"
    assert "l_shipdate" in pushed[0] and "l_discount" in pushed[0], pushed[0]
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for col in ("l_returnflag", "l_orderkey", "l_tax"):
        assert col not in read_schema, f"unpruned column {col} in Q6 scan"


def test_tpch_q19_or_of_ands_stays_hash_join(spark, sf_dir):
    # Catalyst must extract the common p_partkey = l_partkey equi-key from
    # the OR arms: a nested-loop plan here is quadratic at 100 TB
    tree = tree_of(spark, sf_dir, "sql_tpch_q19")
    assert not tree.has("BroadcastNestedLoopJoin"), "Q19 degraded to nested-loop"
    assert tree.has("BroadcastHashJoin", "ShuffledHashJoin"), "Q19 lost its equi-join"


def test_tpch_q17_decorrelated_agg_has_partials(spark, sf_dir):
    # the per-part avg-quantity aggregate must run partial+final so the
    # hot-part key never concentrates raw rows in one task
    tree = tree_of(spark, sf_dir, "sql_tpch_q17")
    assert tree.count(*AGGREGATES) >= 2
    assert not tree.has("BroadcastNestedLoopJoin")


def test_theta_tier_is_broadcast_nested_loop(spark, sf_dir):
    # a pure non-equi join must broadcast the tiny literal side and stream
    # the fact — never shuffle (no key to shuffle on) and never cartesian
    tree = tree_of(spark, sf_dir, "join_theta_tier")
    assert tree.has("BroadcastNestedLoopJoin"), "theta join must broadcast the tier table"
    assert not tree.has("CartesianProduct")


def test_cooccurrence_topn_is_topk(spark, sf_dir):
    # the corpus-wide top-100 must plan per-partition top-k + merge,
    # never a global sort of the full pair table
    assert tree_of(spark, sf_dir, "text_cooccurrence").has("TakeOrderedAndProject")


def test_sample_weighted_broadcasts_weights(spark, sf_dir):
    # the k-row per-language weight table must broadcast onto the corpus
    assert tree_of(spark, sf_dir, "sample_weighted").has("BroadcastHashJoin")


def test_bitmap_distinct_has_partial_aggregation(spark, sf_dir):
    # both aggregate levels must show map-side partials (the whole point
    # of the bitmap formulation is mergeable partial state)
    tree = tree_of(spark, sf_dir, "agg_bitmap_distinct")
    assert tree.count(*AGGREGATES) >= 4  # 2 levels × (partial + final)


def test_tpch_q9_broadcasts_dims(spark, sf_dir):
    # part/supplier/nation are dimension-sized: the fact side must join
    # them via broadcast, keeping lineitem's only shuffle for orders
    tree = tree_of(spark, sf_dir, "sql_tpch_q9")
    assert tree.has("BroadcastHashJoin")
    assert not tree.has("CartesianProduct")


def test_sorted_clustered_scan_pushes_date_filter(spark, sf_dir):
    # the whole point of the sorted layout: the range predicate must reach
    # the parquet reader as PushedFilters so row-group stats can skip
    plan = plan_of(spark, sf_dir, "sink_sorted_clustered")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "l_shipdate" in pushed[-1], pushed


def test_feature_scale_broadcasts_fit_stats(spark, sf_dir):
    # fit = tiny per-group stats; transform must broadcast them over the
    # fact scan — the fact side never shuffles
    tree = tree_of(spark, sf_dir, "feature_scale")
    assert tree.has("BroadcastHashJoin")
    assert not tree.has("SortMergeJoin")


def test_ngram_novelty_first_seen_is_aggregate_not_window(spark, sf_dir):
    # first-occurrence must be a partial+final aggregate on the trigram
    # key, never a Window over it (hot boilerplate trigram = straggler) —
    # same rule as capped_shingles
    tree = tree_of(spark, sf_dir, "text_ngram_novelty")
    assert not tree.has("Window")
    assert tree.count(*AGGREGATES) >= 2


def test_sketch_count_min_no_window_no_cartesian(spark, sf_dir):
    # the counter build is pure keyed aggregation; estimation joins the
    # 4-cells-per-word rows against the broadcast counter table
    tree = tree_of(spark, sf_dir, "sketch_count_min")
    assert not tree.has("Window", "CartesianProduct")
    assert tree.has("BroadcastHashJoin")


def test_scd2_lookup_plans_keyed_join(spark, sf_dir):
    # the validity-interval predicate must ride on the custkey equi join,
    # not degrade the plan to a nested-loop over both sides
    tree = tree_of(spark, sf_dir, "join_scd2_lookup")
    assert not tree.has("BroadcastNestedLoopJoin", "CartesianProduct")


def test_remove_boilerplate_plans_aggregate_broadcast(spark, sf_dir):
    # chunk df must be a partial+final aggregate on the chunk key (never a
    # Window — a hot boilerplate chunk would straggle one task), and the
    # top-K list must come back as a broadcast join over the chunk rows
    tree = tree_of(spark, sf_dir, "text_remove_boilerplate")
    assert not tree.has("Window", "CartesianProduct")
    assert tree.has("BroadcastHashJoin")
    assert tree.has("TakeOrderedAndProject")


def test_drift_fit_stats_broadcast_not_window(spark, sf_dir):
    # PSI totals and the target-encoder fit are one-row / segment-row
    # aggregates broadcast over the fact scan — the fact rows never feed
    # a whole-partition window
    for name in ("stat_psi", "feature_target_encode"):
        tree = tree_of(spark, sf_dir, name)
        assert not tree.has("Window"), name
        assert tree.has(*AGGREGATES), name


def test_ks_windows_over_distinct_values_only(spark, sf_dir):
    # the cumulative ECDF window must run over the groupBy(value)
    # aggregate (one row per distinct value), so an aggregate appears
    # below the window in the plan
    tree = tree_of(spark, sf_dir, "stat_ks_test")
    assert tree.has("Window")
    assert tree.count(*AGGREGATES) >= 2


def test_asof_nearest_single_window_pass(spark, sf_dir):
    # both directional carries share one partition+ordering, so the plan
    # must contain exactly one Window operator (one sort, one pass) and
    # no join at all on the fact rows
    tree = tree_of(spark, sf_dir, "join_asof_nearest")
    assert tree.count("Window") == 1
    assert not tree.has("CartesianProduct", "SortMergeJoin")


def test_monitoring_thresholds_broadcast_not_window(spark, sf_dir):
    # anomaly mean/std must come from a one-row aggregate broadcast over
    # the daily rollup, never a whole-partition window over it
    tree = tree_of(spark, sf_dir, "events_anomaly_days")
    assert not tree.has("Window")
    assert tree.has(*AGGREGATES)


def test_blocked_joins_no_cross_product(spark, sf_dir):
    # fuzzy and geo joins must plan keyed candidate joins (the whole
    # point of blocking) with the small exploded side broadcast
    for name in ("join_fuzzy_block", "join_geo_radius"):
        tree = tree_of(spark, sf_dir, name)
        assert not tree.has("CartesianProduct", "BroadcastNestedLoopJoin"), name
        assert tree.has("BroadcastHashJoin"), name


def test_runtime_bloom_filter_is_injected(spark, sf_dir):
    # under production-scale thresholds (the app-side size floor lowered,
    # since fixture scans are tiny) the optimized plan must carry the
    # might_contain runtime filter on the lineitem side — the injected
    # Bloom semi-join filter that makes shuffle volume track selectivity
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = get_spec("join_runtime_bloom").builder(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, "runtime Bloom filter not injected"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_coalesces_small_shuffle_partitions(spark, sf_dir):
    # the session enables AQE + partition coalescing; a tiny groupBy must
    # not execute 32 near-empty reducers — after execution the final plan
    # carries AQEShuffleRead with fewer partitions than configured
    from pyspark.sql import functions as F

    from toy_map_reduce_spark.tables import load

    df = (
        load(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df.collect()  # execute THIS DataFrame's QueryExecution so AQE finalizes it
    assert plan_tree(df).has("AQEShuffleRead"), "AQE partition coalescing not active"


def test_substring_df_check_is_aggregate_not_hash_window(spark, sf_dir):
    # the cross-doc df>=2 check must be a partial+final aggregate keyed on
    # the window hash (uniform key, combiner-collapsed) — a Window over the
    # hash would funnel a boilerplate span's full posting list into one
    # task; the only Window allowed is the per-doc longest-run scan
    tree = tree_of(spark, sf_dir, "dedup_substring")
    assert not any(n.kind == "Window" and "h" in key_names(n) for n in tree.walk()), (
        "substring df check regressed to a Window over the span hash"
    )
    assert any(n.kind in AGGREGATES and key_names(n) == ["h"] for n in tree.walk()), (
        "df>=2 must be an aggregate keyed on the hash"
    )
    assert not tree.has("CartesianProduct")


def test_zorder_buckets_are_bounded_boxes(spark, sf_dir):
    # the point of a z-layout: fixing the z-value's top 8 bits fixes the
    # high nibble of BOTH dimensions, so every 256-wide z-bucket must be a
    # 16×16 box — if either span exceeds 15 the bit interleave is broken
    # and two-dimensional file pruning silently degrades to one dimension
    rows = get_spec("sink_zorder").builder(spark, sf_dir).collect()
    assert rows, "z-order report is empty"
    for r in rows:
        assert 0 <= r.span_x <= 15 and 0 <= r.span_y <= 15, (
            f"bucket {r.z_bucket}: spans ({r.span_x}, {r.span_y}) exceed the 16×16 box"
        )


def test_token_budget_doc_window_is_bucket_partitioned(spark, sf_dir):
    # the per-document running sum must be partitioned by the score bucket
    # (bounded state); only the ~20-row bucket-offset window may be global.
    # A corpus-wide unpartitioned doc window here would funnel every row
    # through one task — the exact pattern this operator exists to avoid
    tree = tree_of(spark, sf_dir, "pipeline_token_budget")
    assert any(n.kind == "Window" and "bkt" in key_names(n) for n in tree.walk()), (
        "per-doc budget window lost its bucket partitioning"
    )


def test_meta_plan_report_invariants(spark, sf_dir):
    # the self-audit surface must agree with what the plan tests pin:
    # no cartesian products anywhere, no Python UDFs on relational paths,
    # broadcast present where small dims join, partial + final aggregate
    # over one shuffle on wordcount, each operator counted once
    with scratch.scope():
        rows = {r.query: r for r in get_spec("meta_plan_report").builder(spark, sf_dir).collect()}
    assert set(rows) == {
        "wordcount", "sql_tpch_q5", "dedup_exact", "join_broadcast",
        "sim_topk", "dedup_ngram_jaccard", "agg_basic", "filter_pred",
    }
    assert not any(r.has_cartesian for r in rows.values())
    assert rows["join_broadcast"].broadcast_join
    assert rows["wordcount"].n_hash_aggregates == 2  # partial + final
    assert rows["wordcount"].n_exchanges == 1
    assert not rows["sql_tpch_q5"].python_udf
    assert not rows["dedup_exact"].python_udf


def test_meta_registry_report_matches_registry(spark, sf_dir):
    from toy_map_reduce_spark.registry import all_specs

    rows = {r.tier: r for r in get_spec("meta_registry_report").builder(spark, sf_dir).collect()}
    specs = all_specs().values()
    for tier in {s.tier for s in specs}:
        subset = [s for s in specs if s.tier == tier]
        assert rows[tier].n_queries == len(subset)
        assert rows[tier].n_oracle_backed == sum(1 for s in subset if s.oracle)
        assert rows[tier].n_bench_eligible == sum(1 for s in subset if s.bench)
    assert sum(r.n_queries for r in rows.values()) == len(list(specs))


def test_ntile_family_has_no_global_window(spark, sf_dir):
    # r4 verdict item 3: no fact scan may feed a Window with an empty
    # partition spec (the single-task global sort). The two equi-depth
    # histograms need no Window at all (pure order statistics); the
    # calibration bins may keep one Window but ONLY hash-partitioned by
    # the score tie class.
    for name in ("feature_quantile_bucket", "agg_histogram_equidepth"):
        tree = tree_of(spark, sf_dir, name)
        assert not tree.has("Window"), f"{name}: regressed to a Window plan"
        assert tree.has(*AGGREGATES), (
            f"{name}: boundaries must come from partial aggregates"
        )
    tree = tree_of(spark, sf_dir, "stat_calibration_bins")
    for n in tree.walk():
        if n.kind == "Window":
            assert any("score" in k for k in key_names(n)), (
                "stat_calibration_bins: Window must be partitioned by the "
                f"score tie class, got: {key_names(n)}"
            )


def test_percentile_family_joins_stay_hash_not_nested_loop(spark, sf_dir):
    # the bracketed-window core attaches its one-row bounds via a
    # constant-key BroadcastHashJoin; a plain crossJoin(broadcast(...))
    # regresses to a BroadcastNestedLoopJoin whose projections run
    # interpreted outside whole-stage codegen (measured 4x slower at 20
    # targets) — pin the join strategy
    for name in (
        "agg_percentile",
        "agg_trimmed_mean",
        "feature_quantile_bucket",
        "agg_histogram_equidepth",
        "stat_calibration_bins",
    ):
        tree = tree_of(spark, sf_dir, name)
        assert not tree.has("CartesianProduct"), name
        assert tree.has("BroadcastHashJoin"), f"{name}: bounds join lost hash form"
        # COUNT, don't just spot-check (r5 advisor: a foldable lit(1) key
        # degenerated one join to BNLJ while this test passed because a
        # BroadcastHashJoin existed deeper in the plan): since the fused
        # scaffold every bounds attachment is a non-foldable constant-key
        # hash join, so NO BroadcastNestedLoopJoin may appear at all.
        assert tree.count("BroadcastNestedLoopJoin") == 0, (
            f"{name}: {tree.count('BroadcastNestedLoopJoin')} nested-loop "
            "join(s) — a bounds join key folded to a literal"
        )


def test_cc_loop_checkpoint_bounds_lineage(spark):
    """min_label_propagation must localCheckpoint every CC_CHECKPOINT_EVERY
    rounds so the label frame's plan depth stays bounded by the checkpoint
    interval instead of growing one join per round (r5 verdict item 4):
    drive a path graph of diameter 11 (needs ~11 propagation rounds, i.e.
    2+ checkpoints) and assert both the clustering answer and that the
    FINAL plan contains at most one checkpoint-window's worth of joins."""
    from pyspark.sql import functions as F

    from toy_map_reduce_spark.operators.pipeline import (
        CC_CHECKPOINT_EVERY,
        min_label_propagation,
    )

    n = 12  # path 0-1-2-...-11: min-label needs ~diameter rounds
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(100, 101)], ["doc_a", "doc_b"]
    )
    docs = docs.union(spark.createDataFrame([(100,), (101,), (200,)], ["doc_id"]))

    out = min_label_propagation(docs, pairs)
    got = {r.doc_id: r.label for r in out.collect()}
    assert all(got[i] == 0 for i in range(n)), got  # whole path collapses
    assert got[100] == 100 and got[101] == 100
    assert got[200] == 200  # singleton keeps its own label

    # lineage bound: >= 11 rounds ran, but the returned frame's plan must
    # start from the last checkpoint. Each un-truncated round REFERENCES
    # the prior labels frame twice (the left join and inside
    # neighbor_min), so join count grows as J(k) = 2 + 2*J(k-1) — i.e.
    # EXPONENTIALLY (2^(k+1) - 2) in rounds since the last checkpoint,
    # which is precisely why persist() alone cannot stand in for
    # checkpointing. Worst case CC_CHECKPOINT_EVERY-1 = 4 un-truncated
    # rounds -> J(4) = 30; without checkpoints 12+ rounds would exceed
    # 8000 joins.
    bound = 2 ** CC_CHECKPOINT_EVERY - 2
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    n_joins = plan.count("Join")
    assert n_joins <= bound, (
        f"label lineage holds {n_joins} joins (> {bound}) — checkpoint "
        "not truncating"
    )
    assert "LogicalRDD" in plan or "ExistingRDD" in plan or "Scan" in plan


def test_global_order_queries_are_range_partitioned(spark, sf_dir):
    """The global-order family (Pareto/ABC, Gini, RFM ntiles, shard
    assignment, sequence packing, curriculum bands, weighted median) must
    rank via the distributed range-partitioned shape (functions/ranks.py):
    a RangePartitioning exchange over the data, ranks computed within
    pids, and the ONLY empty-partition window ordering by the per-pid
    offsets table's _pid — never a single-task sort of the corpus."""
    for name in (
        "orders_pareto_abc",
        "orders_gini",
        "orders_rfm",
        "shard_assign",
        "pack_sequences",
        "pipeline_curriculum_order",
        "agg_weighted",
    ):
        tree = tree_of(spark, sf_dir, name)
        assert any(n.partitioning == "RangePartitioning" for n in tree.walk()), (
            f"{name}: no RangePartitioning exchange — global order lost "
            "its distributed-sort shape"
        )
        for n in tree.walk():
            if n.kind == "Window" and not n.keys:
                assert "_pid" in (n.order or ("",))[0], (
                    f"{name}: empty-partition window ordered by {n.order} — a "
                    "single-task global sort regressed into the plan"
                )


def test_bfs_levels_builds_from_frontier_side(spark, sf_dir):
    """Iterative-join broadcast discipline (r7 BFS fix, graph.py): every
    frontier-expansion join and visited anti-join must hash-build from
    the bounded frontier/visited side. Spark has no stats on the tiny
    loop-carried frames and was planning BuildLeft over the CACHED EDGE
    RELATION — hash-building the corpus side, plus SortMergeJoin for the
    anti-join (two exchanges + sorts per level). The explicit F.broadcast
    hints flip every level to BuildRight / broadcast anti-join; this pin
    fails if a future change reverts the build side."""
    tree = tree_of(spark, sf_dir, "graph_bfs_levels")
    assert not any(n.build == "left" for n in tree.walk()), (
        "graph_bfs_levels: a join hash-builds its LEFT (edge/corpus) "
        "side — the frontier broadcast hint regressed"
    )
    assert not tree.has("SortMergeJoin"), (
        "graph_bfs_levels: a sort-merge join appeared — the visited "
        "anti-join lost its zero-shuffle broadcast shape"
    )
    assert joins(tree, "BroadcastHashJoin", "LeftAnti")


def test_recursive_cte_hints_broadcast_frontier():
    """sql_recursive_cte's recursive step must carry the BROADCAST(r)
    hint (same build-side discipline as graph_bfs_levels — UnionLoop
    replans the body per iteration with no stats on the recursion ref;
    measured ~2x at sf0.1). The hint is a standard block comment, so the
    DuckDB twin runs the byte-identical text; parity stays the equality
    check, this pins the plan intent."""
    from toy_map_reduce_spark.operators.graph import _RECURSIVE_CTE_SQL

    assert "/*+ BROADCAST(r) */" in _RECURSIVE_CTE_SQL


def test_agg_weighted_ranks_distinct_value_aggregate(spark, sf_dir):
    """The exact weighted median must rank the (flag, price) -> sum(qty)
    aggregate, never the raw fact feed (r7 verdict task 1): the range
    shuffle is then bounded by |distinct prices| instead of |lineitem|.
    Distinguishing signature: the r7 fact-feed form carried the
    l_orderkey/l_linenumber tiebreak columns through the rank — the
    aggregate form has no business mentioning either — and the rank
    input must be the (l_returnflag, l_extendedprice)-keyed aggregate."""
    tree, plan = plan_and_text(spark, sf_dir, "agg_weighted")
    assert "l_orderkey" not in plan and "l_linenumber" not in plan, (
        "agg_weighted: fact-grain tiebreak columns reappeared in the "
        "plan — the rank input regressed from the distinct-value "
        "aggregate back to the raw lineitem feed"
    )
    assert any(
        n.kind in AGGREGATES and key_names(n)[:2] == ["l_returnflag", "l_extendedprice"]
        for n in tree.walk()
    ), (
        "agg_weighted: no (l_returnflag, l_extendedprice)-keyed "
        "aggregate in the plan — the distinct-value table feeding the "
        "rank is gone"
    )


def test_zipf_topk_is_take_ordered_not_global_rank(spark, sf_dir):
    # the top-200 vocabulary slice must plan as distributed top-k; a
    # row_number window over the whole vocabulary would single-task it
    # the rank window that remains runs over the 200-row TakeOrdered
    # output, which is what makes its empty partition spec acceptable
    assert tree_of(spark, sf_dir, "text_zipf_slope").has("TakeOrderedAndProject")


@pytest.fixture(scope="module")
def registry_plans(spark, sf_dir) -> list[tuple[str, list, PlanNode]]:
    """One pass over every non-streaming query, shared by the registry-wide
    rules below: each query is built once, in its own scope, and its
    schema fields and one walked plan tree are kept. The pass must leave
    nothing held. Streaming builders execute a full query lifecycle per
    call, so S-tier is covered by the parity suite instead."""
    from toy_map_reduce_spark.registry import all_specs

    before = scratch.unheld(spark)
    plans = []
    for name, spec in all_specs().items():
        if spec.tier == "S":
            continue
        with scratch.scope():
            df = spec.builder(spark, sf_dir)
            plans.append((name, df.schema.fields, plan_tree(df)))
    after = scratch.unheld(spark)
    assert all(after[k] <= before[k] for k in after), (before, after)
    return plans


def test_no_accidental_cartesian_products(registry_plans):
    # join_cross is the one intentional cross join; everything else must
    # plan a keyed join
    cartesian = [
        name
        for name, _, tree in registry_plans
        if name != "join_cross" and tree.has("CartesianProduct")
    ]
    assert not cartesian, f"plans CartesianProduct: {cartesian}"


def test_no_complex_typed_output_columns(registry_plans):
    # the driver's canonicalizer hashes cells and cannot hash list/map/struct
    # values — every query surface must emit only scalar columns
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = [
        (name, f.name, f.dataType.simpleString())
        for name, fields, _ in registry_plans
        for f in fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not offenders, offenders


def test_no_row_python_udf_outside_udf_surface(registry_plans):
    # "Python only off the hot path": row-at-a-time Python UDFs
    # (BatchEvalPython — each row round-trips pickled through a Python
    # worker) exist ONLY in operators/udf_surface.py, where demonstrating
    # the reference's UDF surface IS the deliverable. Everything else is
    # JVM column expressions or Arrow-batched pandas exchange
    # (ArrowEvalPython / MapInPandas / MapInArrow — the sanctioned slow
    # path).
    udf_surface = {"udf_surface", "udtf_surface", "udf_grouped_map", "udtf_table_arg"}
    row_udf = [
        name
        for name, _, tree in registry_plans
        if name not in udf_surface and tree.has("BatchEvalPython")
    ]
    assert not row_udf, (
        f"row-at-a-time Python UDF (BatchEvalPython) leaked into: {row_udf}"
    )


def test_no_single_partition_exchange_feeds_from_raw_scan(registry_plans):
    risky: list[str] = []
    grain_risky: list[tuple[str, list]] = []
    build_risky: list[tuple[str, list]] = []
    shuffle_risky: list[tuple[str, list]] = []
    for name, _, tree in registry_plans:
        # The registry-wide generalization of the exact-rank rewrites
        # (functions/ranks.py): a single-partition exchange whose subtree
        # contains a file scan with NO aggregate in between funnels raw
        # corpus rows through ONE task — the canonical 100 TB bottleneck.
        # Every site today is fed by a cardinality-bounding aggregate
        # (bounds tables, per-pid offsets, final summaries).
        sites = single_partition_sites(tree)
        if any(x["raw_corpus_risk"] for x in sites):
            risky.append(name)
        # an aggregate whose group keys are corpus-grain (word, doc_id,
        # custkey, ...) bounds nothing, so a single-partition exchange
        # above it is the same funnel with one hop of camouflage; the
        # list can also carry "<unbounded-branch>" — a join branch whose
        # raw scan reaches the funnel with no bound of its own.
        hits = [x["corpus_grain_keys"] for x in sites if x["corpus_grain_keys"]]
        if hits:
            grain_risky.append((name, hits))
        # the BFS bug class registry-wide — a broadcast join must never
        # hash-build from a persisted corpus relation while streaming a
        # stats-less literal past it.
        brisk = build_side_risk(tree)
        if brisk:
            build_risky.append((name, brisk))
        # the inverse of build_side_risk — a SortMergeJoin /
        # ShuffledHashJoin whose one side only scans a
        # constant-cardinality dim (region 5 rows, nation 25 at every SF)
        # shuffles the fact table to meet a table a broadcast would have
        # met at the scan.
        mb = missed_broadcast(tree)
        if mb:
            shuffle_risky.append((name, mb))
    assert not risky, (
        f"single-partition exchange over an unaggregated scan in: {risky} "
        "— rewrite with functions/ranks.py or aggregate before the funnel"
    )
    assert not grain_risky, (
        f"single-partition exchange fed by a CORPUS-GRAIN-keyed aggregate "
        f"in: {grain_risky} — the aggregate bounds nothing; rewrite with "
        "functions/ranks.py, top-k, or a genuinely bounding aggregate"
    )
    assert not build_risky, (
        f"broadcast join hash-builds from a persisted corpus relation in: "
        f"{build_risky} — hint F.broadcast on the bounded side "
        "(graph_bfs_levels in operators/graph.py is the canonical fix)"
    )
    assert not shuffle_risky, (
        f"shuffle join over an always-small dimension table in: "
        f"{shuffle_risky} — F.broadcast the dim side instead of shuffling "
        "the fact table to meet a constant-cardinality table"
    )


def test_multimodal_features_single_python_boundary(spark, sf_dir):
    # r14 fusion (guide §4.2/§4.5): synth + decode run in ONE mapInPandas
    # pass, so the payload blob never crosses the Arrow boundary — the r13
    # shape chained two MapInPandas nodes and serialized every blob
    # Python -> JVM -> Python with no JVM work in between. This pins the
    # fused shape: exactly one Python eval node, and no shuffle.
    tree = tree_of(spark, sf_dir, "multimodal_features")
    assert tree.count("MapInPandas") == 1, [n.kind for n in tree.walk()]
    assert not tree.has("ShuffleExchange", "BroadcastExchange", "ReusedExchange"), (
        "decode pass must stay narrow"
    )


def test_dedup_clusters_reliable_checkpoint_mode(spark, tmp_path):
    """min_label_propagation's reliable-checkpoint option (r6 verdict item
    5): with reliable_checkpoint_dir set the loop must (a) actually write
    RDD checkpoints into the given dir — the executor-loss-tolerant mode a
    real cluster wants — and (b) converge to the identical clustering the
    default localCheckpoint mode produces, with the same bounded lineage."""
    import os

    from pyspark.sql import functions as F

    from toy_map_reduce_spark.operators.pipeline import (
        CC_CHECKPOINT_EVERY,
        min_label_propagation,
    )

    n = 12  # path graph: needs > CC_CHECKPOINT_EVERY rounds => 2+ checkpoints
    docs = spark.range(n).select(F.col("id").alias("doc_id")).union(
        spark.createDataFrame([(100,), (101,), (200,)], ["doc_id"])
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(100, 101)], ["doc_a", "doc_b"]
    )

    ckpt_dir = str(tmp_path / "cc_ckpt")
    local = {r.doc_id: r.label for r in min_label_propagation(docs, pairs).collect()}
    reliable_df = min_label_propagation(
        docs, pairs, reliable_checkpoint_dir=ckpt_dir
    )
    reliable = {r.doc_id: r.label for r in reliable_df.collect()}

    assert reliable == local
    assert all(reliable[i] == 0 for i in range(n))
    assert reliable[100] == 100 and reliable[101] == 100 and reliable[200] == 200

    # the reliable mode must have materialized checkpoint data on disk
    ckpt_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt_dir)
        for f in fs
    ]
    assert ckpt_files, "reliable mode wrote no checkpoint files"

    # lineage stays bounded in reliable mode too
    bound = 2 ** CC_CHECKPOINT_EVERY - 2
    plan = reliable_df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") <= bound


def _scan(*tables: str) -> PlanNode:
    return PlanNode("FileSourceScan", tables=tables)


def _agg(keys, *kids: PlanNode, kind: str = "HashAggregate", distinct_only=False) -> PlanNode:
    return PlanNode(kind, list(kids), keys=tuple(keys), distinct_only=distinct_only)


def _rename(renames, *kids: PlanNode) -> PlanNode:
    return PlanNode("Project", list(kids), renames=tuple(renames))


def _join(kind: str, left: PlanNode, right: PlanNode, join_type="Inner", build="") -> PlanNode:
    return PlanNode(kind, [left, right], join_type=join_type, build=build)


def _one(kind: str, child: PlanNode) -> PlanNode:
    return PlanNode(kind, [child])


def _funnel(child: PlanNode) -> PlanNode:
    return PlanNode("ShuffleExchange", [child], partitioning="SinglePartition")


def test_corpus_grain_classifier_parsing():
    """The corpus-grain classifier on hand-built trees (no Spark): group
    keys come from the bounding aggregate, bounded keys don't flag, and a
    TakeOrderedAndProject above the aggregate exempts the site (top-k
    bounds rows regardless of key grain)."""
    # corpus-grain keyed aggregate feeding the funnel -> flagged
    tree = _funnel(_agg([("word", 12), ("lang", 3)], _scan()))
    sites = single_partition_sites(tree)
    assert len(sites) == 1
    assert sites[0]["aggregated_below"] and sites[0]["feeds_from_scan"]
    assert sites[0]["corpus_grain_keys"] == ["word"]

    # top-k between the aggregate and the exchange -> exempt
    tree_topk = _funnel(_one("TakeOrderedAndProject", _agg([("word", 12)], _scan())))
    assert single_partition_sites(tree_topk)[0]["corpus_grain_keys"] == []

    # bounded group keys -> clean
    assert _corpus_grain_keys(_agg([("l_returnflag", 5), ("_pid", 9)], _scan())) == []

    # multiple corpus-grain keys, sorted, deduped by name
    assert _corpus_grain_keys(
        _agg([("doc_id", 1), ("shingle", 2)], kind="ObjectHashAggregate")
    ) == ["doc_id", "shingle"]

    # RENAMED corpus-grain key: `custkey AS ck` must resolve through the
    # exprId rename chain and still flag
    assert _corpus_grain_keys(
        _agg([("ck", 50)], _rename([(50, "o_custkey", 3)], _scan()))
    ) == ["o_custkey"]

    # two-hop rename chain: custkey -> ck -> k
    assert _corpus_grain_keys(
        _agg([("k", 60)], _rename([(60, "ck", 50)], _rename([(50, "o_custkey", 3)], _scan())))
    ) == ["o_custkey"]

    # self-alias (the normalize wrapper keeps the key's exprId) must not
    # loop or mis-resolve
    assert _corpus_grain_keys(_agg([("price", 5)], _rename([(5, "price", 5)]))) == []

    # TakeOrderedAndProject in a SIBLING join branch does NOT exempt: it
    # bounds that branch, not the exchange's input — the corpus-grain
    # aggregate in the other branch still flags
    assert _corpus_grain_keys(_join(
        "BroadcastHashJoin",
        _one("TakeOrderedAndProject", _scan()),
        _agg([("doc_id", 9)], _scan()),
        build="right",
    )) == ["doc_id"]

    # ...but a top-k ON the direct chain still exempts even when a
    # branching join sits below it
    assert _corpus_grain_keys(_one("TakeOrderedAndProject", _join(
        "BroadcastHashJoin", _scan(), _agg([("doc_id", 9)], _scan()), build="right",
    ))) == []

    # a join whose SIBLING branch contains the only aggregate must not let
    # that aggregate pass as the bound — the other branch's raw scan
    # reaches the funnel unbounded
    assert _corpus_grain_keys(_join(
        "BroadcastHashJoin", _scan(), _agg([("n", 9)], _scan()), build="right",
    )) == ["<unbounded-branch>"]

    # semi/anti join output is a subset of the LEFT input: a bounded left
    # branch bounds the site even though the right branch scans raw
    assert _corpus_grain_keys(_join(
        "BroadcastHashJoin", _agg([("n", 1)], _scan()), _scan(),
        join_type="LeftAnti", build="right",
    )) == []

    # ...and an inner join with BOTH branches bounded unions the grain
    # keys across branches (either corpus-grain key defeats the bound)
    assert _corpus_grain_keys(_join(
        "SortMergeJoin", _agg([("doc_id", 1)], _scan()), _agg([("word", 9)], _scan()),
    )) == ["doc_id", "word"]


def test_build_side_risk_classifier_parsing():
    """The broadcast build-side check on hand-built trees (the
    graph_bfs_levels bug class, generalized): a broadcast join that
    hash-builds from a persisted corpus relation while the probe side
    touches no file scan is flagged; the GOOD patterns — probe side
    scanning the corpus (broadcast-dim / BFS frontier shape) or an
    aggregate bounding the cached side before the build — are exempt."""
    # THE BUG: build side = cached edge corpus, probe = loop-carried
    # literal frontier (no stats). This is what Spark planned for BFS
    # before the F.broadcast hints.
    cached_edges = _one("InMemoryTableScan", _scan("orders"))
    bug = _one("AdaptiveSparkPlan", _join(
        "BroadcastHashJoin", _one("BroadcastExchange", cached_edges),
        PlanNode("LocalTableScan"), build="left",
    ))
    risks = build_side_risk(bug)
    assert len(risks) == 1 and risks[0]["build"] == "left"

    # GOOD BFS: build side = persisted frontier (cached, and its cached
    # plan reaches the edge scan), probe side = the cached edge corpus
    # -> probe scans the corpus -> exempt
    good = _one("AdaptiveSparkPlan", _join(
        "BroadcastHashJoin",
        _one("InMemoryTableScan", _scan("orders")),
        _one("BroadcastExchange", _one("InMemoryTableScan", _agg([("node", 5)], _scan("orders")))),
        build="right",
    ))
    assert build_side_risk(good) == []

    # bounded cached build: an aggregate between the join and the cached
    # corpus bounds the build side -> exempt even with a scan-free probe
    bounded = _join(
        "BroadcastHashJoin",
        _one("BroadcastExchange", _agg([("k", 3)], _one("InMemoryTableScan", _scan()))),
        PlanNode("LocalTableScan"), build="left",
    )
    assert build_side_risk(bounded) == []

    # aggregate INSIDE the cached plan: a persisted aggregated frame
    # (InMemoryTableScan -> HashAggregate -> scan) is bounded by
    # construction — broadcasting it over a scan-free loop-carried probe
    # is exactly the GOOD pattern, and the bounding check must keep
    # applying below the cache boundary
    agg_in_cache = _join(
        "BroadcastHashJoin",
        _one("BroadcastExchange", _one("InMemoryTableScan", _agg([("k", 3)], _scan()))),
        PlanNode("LocalTableScan"), build="left",
    )
    assert build_side_risk(agg_in_cache) == []

    # ...except a distinct, which computes no function and bounds
    # nothing: the distinct edge list is as large as the edge list
    distinct_in_cache = _join(
        "BroadcastHashJoin",
        _one("BroadcastExchange", _one(
            "InMemoryTableScan", _agg([("k", 3)], _scan(), distinct_only=True),
        )),
        PlanNode("LocalTableScan"), build="left",
    )
    assert [r["build"] for r in build_side_risk(distinct_in_cache)] == ["left"]

    # ...but an UN-cached plain file scan on the build side is not the
    # flagged class either (Spark has real stats for it); only a cached
    # corpus with no bounding node in between is the bug signature
    plain_scan_build = _join(
        "BroadcastHashJoin", _one("BroadcastExchange", _scan()),
        PlanNode("LocalTableScan"), build="left",
    )
    assert build_side_risk(plain_scan_build) == []

    # no build side (a sort-merge join) or a non-broadcast join -> no
    # record, even over the bug's inputs
    assert build_side_risk(_join("SortMergeJoin", cached_edges, PlanNode("LocalTableScan"))) == []
    assert build_side_risk(_join("BroadcastNestedLoopJoin", cached_edges, PlanNode("LocalTableScan"))) == []


def test_missed_broadcast_classifier_parsing():
    """The missed-broadcast check on hand-built trees: a shuffle join
    whose one side only scans an always-small dim (region/nation) is
    flagged; big-big shuffle joins (the bucketed lineitem ⋈ orders merge
    join), broadcast joins, and dim branches that ALSO reach a scaling
    table are exempt."""
    from toy_map_reduce_spark.plans.explain import _fixture_table

    def shuffled(*tables: str) -> PlanNode:
        return _one("Sort", PlanNode(
            "ShuffleExchange", [_scan(*tables)], partitioning="HashPartitioning"
        ))

    # THE MISS: fact table shuffled on n_nationkey to sort-merge against
    # a 25-row nation scan that should have been broadcast
    miss = _one("AdaptiveSparkPlan", _join("SortMergeJoin", shuffled("customer"), shuffled("nation")))
    risks = missed_broadcast(miss)
    assert len(risks) == 1 and risks[0]["tables"] == ["nation"] and risks[0]["side"] == "right"

    # the layout-cache path form ({table}_{size}_{mtime}_{k}.parquet)
    # must resolve to the same table name as the raw fixture file
    raw = _fixture_table("file:/data/sf0.001/nation.parquet")
    cached = _fixture_table("file:/home/u/.cache/spark-graft/layout/_data_sf0_001/nation_8192_1755200000_4.parquet")
    assert raw == cached == "nation"
    miss_cached = _join("SortMergeJoin", shuffled("customer"), shuffled(cached))
    assert [r["tables"] for r in missed_broadcast(miss_cached)] == [["nation"]]

    # big-big shuffle join: both sides scan scaling tables -> exempt
    bigbig = _join("SortMergeJoin", _one("Sort", _scan("lineitem")), _one("Sort", _scan("orders")))
    assert missed_broadcast(bigbig) == []

    # dim branch that also reaches a scaling table (nation pre-joined to
    # customer before the shuffle join) -> that side is fact-sized, exempt
    mixed = _join("SortMergeJoin", _scan("orders"), _join(
        "BroadcastHashJoin", _scan("customer"), _scan("nation"), build="right",
    ))
    assert missed_broadcast(mixed) == []

    # broadcast join over the dim -> the GOOD plan, no record
    good = _join(
        "BroadcastHashJoin", _scan("customer"), _one("BroadcastExchange", _scan("nation")),
        build="right",
    )
    assert missed_broadcast(good) == []


def test_corpus_grain_classifier_catches_live_alias(spark, sf_dir):
    """End-to-end alias robustness: a REAL plan where the corpus-grain
    key is renamed before the aggregate (doc_id AS ck) and the aggregate
    feeds a single-partition window must still classify as a
    corpus-grain funnel — the shape the registry-wide pin would have to
    catch if an operator regressed into it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from toy_map_reduce_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    bad = (
        docs.select(F.col("doc_id").alias("ck"))
        .groupBy("ck")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(Window.orderBy("cnt", "ck")))
    )
    sites = single_partition_sites(plan_tree(bad))
    assert any(
        "doc_id" in s["corpus_grain_keys"] for s in sites
    ), f"aliased corpus-grain funnel escaped the classifier: {sites}"


def test_join_classifiers_catch_live_bug_shapes(spark, sf_dir):
    """End to end on REAL plans: a broadcast join that hash-builds from a
    persisted corpus relation over a literal probe (the BFS bug before
    its F.broadcast hints) is a build-side risk, and a merge join that
    shuffles the 25-row nation table is a missed broadcast."""
    from pyspark.sql import functions as F

    from toy_map_reduce_spark.tables import load

    # the edge list as is, and as graph_bfs_levels persists it: distinct
    for distinct in (False, True):
        with scratch.scope():
            edges = load(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("src"), F.col("o_custkey").alias("dst")
            )
            edges = scratch.persist(edges.distinct() if distinct else edges)
            frontier = spark.createDataFrame([(1,)], "f_node long")
            bfs = F.broadcast(edges).join(frontier, F.col("src") == F.col("f_node"))
            risks = build_side_risk(plan_tree(bfs))
        assert [r["build"] for r in risks] == ["left"], (distinct, risks)

    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    merged = customer.join(nation.hint("merge"), customer.c_nationkey == nation.n_nationkey)
    misses = missed_broadcast(plan_tree(merged))
    assert [(r["side"], r["tables"]) for r in misses] == [("right", ["nation"])], misses


def _cached_relations(df) -> list:
    """The cache builders of every InMemoryRelation ``df``'s plan reads."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves().iterator()
    out = []
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "InMemoryRelation":
            out.append(leaf.cacheBuilder())
    return out


def test_dedup_staging_is_read_within_its_own_query(spark, sf_dir):
    """The dedup staging persists (shingle stage, capped shingles,
    simhash blocks) live for one query (toy_map_reduce_spark/scratch.py).
    Pin: starting from an empty cache, dedup_containment,
    dedup_near_verified and dedup_simhash_pairs each read
    InMemoryTableScan inside their own query scope; dedup_simhash_pairs
    reads one cached block table on both sides of its self-join; and
    nothing is cached once each scope has exited."""
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    for name in ("dedup_containment", "dedup_near_verified", "dedup_simhash_pairs"):
        with scratch.scope():
            df = get_spec(name).builder(spark, sf_dir)
            assert plan_tree(df).has("InMemoryTableScan"), (
                f"{name}: reads no cached staging"
            )
            if name == "dedup_simhash_pairs":
                cached = _cached_relations(df)
                assert len(cached) >= 2 and len({c.hashCode() for c in cached}) == 1, (
                    f"{name}: the self-join sides do not share one cached table"
                )
            df.write.format("noop").mode("overwrite").save()
        assert cm.isEmpty(), f"{name}: left its staging cached after its scope"


def test_plan_tree_reaches_cached_and_subquery_plans(spark):
    """The walk reaches what ``children()`` alone does not: the final plan
    of a cached, already-run AQE query under ``InMemoryTableScan`` (once,
    where explain text prints its initial plan as well) and a scalar
    subquery's plan. Both end in a Range the walk must see."""
    from pyspark.sql import functions as F

    with scratch.scope():
        counts = scratch.persist(
            spark.range(100).select((F.col("id") % 7).alias("k")).groupBy("k").count()
        )
        counts.count()  # run it: the cache now holds AQE's final plan
        top = spark.range(5).select(F.max("id")).scalar()
        small = spark.range(10).withColumnRenamed("id", "k")
        df = counts.join(F.broadcast(small), "k").where(F.col("k") < top)
        tree = plan_tree(df)
        text = explain_str(df, "simple")

    assert tree.kind == "AdaptiveSparkPlan"
    (join,) = [n for n in tree.walk() if n.kind == "BroadcastHashJoin"]
    assert join.build == "right" and join.join_type == "Inner"
    (scan,) = [n for n in tree.walk() if n.kind == "InMemoryTableScan"]
    cached = scan.children[-1]
    assert cached.kind == "AdaptiveSparkPlan"
    assert any(n.kind.endswith("QueryStage") for n in cached.walk())
    assert cached.count("Range") == 1
    assert "== Initial Plan ==" in text  # the text prints that plan twice
    subqueries = [n for n in tree.walk() if n.kind == "Subquery"]
    assert subqueries and all(q.has("Range") for q in subqueries)
    assert tree.count("Range") == 2 + len(subqueries)  # counts, small, subqueries
    # and the build-side check reads this plan as benign: the build side
    # is a Range, not a cached corpus
    assert build_side_risk(tree) == []


def test_explain_str_returns_each_callers_own_plan(spark):
    """explain_str never swaps sys.stdout, so threads explaining at once
    each get back their own plan."""
    from concurrent.futures import ThreadPoolExecutor

    def explain(i: int) -> tuple[int, str]:
        return i, explain_str(spark.range(1000 + i), "simple")

    with ThreadPoolExecutor(4) as pool:
        got = list(pool.map(explain, range(32)))
    for i, text in got:
        assert f"Range (0, {1000 + i}," in text, (i, text)
