"""Distributed global-order primitives: exact row_number / running sums /
ntile over an arbitrary total order WITHOUT a single-task global sort.

The naive formulation — ``Window.orderBy(...)`` with an empty
``partitionBy()`` — plans as ``Exchange SinglePartition`` + one sorting
task: the canonical 100 TB scale-killer (every row funnels through one
core). The reference has no analogue (its one pipeline never ranks), but
several engine queries need a global order (Pareto/ABC, Gini, RFM ntiles,
shard assignment, sequence packing). The shape here is the classic
range-partitioned rank, exact and fully distributed:

1. ``repartitionByRange(P, keys)`` — a distributed sort shuffle: rows land
   range-clustered, partition i wholly precedes partition i+1 in the
   requested order. The EXPLICIT partition count matters: AQE never
   re-coalesces a user-specified numPartitions, so the partition ids are
   stable for both consumers below.
2. Stamp ``spark_partition_id()`` and persist: pids become frozen data and
   the two passes below share one materialization. The persist goes
   through ``scratch.persist``, so it lives until the caller's query
   scope ends (the result is lazy; see ``toy_map_reduce_spark/scratch.py``).
3. A per-(group, pid) count/sum aggregate — P rows per group — prefix-
   summed over pid order. This is the only single-partition window in the
   plan and it runs over the P-row aggregate, never the corpus.
4. Broadcast the offsets back and rank WITHIN each pid: global rank =
   pid offset + local row_number, global running sum = pid sum offset +
   local running sum. Every sort task holds ~corpus/P rows, so the plan
   scales out with P (at 100 TB: P = executors x a small factor).

Exactness: the order keys must form a total order (callers pass a unique
tiebreak column — the repo-wide window determinism contract), so the
output is bit-identical to the single-task plan the DuckDB oracles run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.scratch import release_scratch

__all__ = [
    "with_global_order",
    "ntile_from_rn",
    "parts_for",
    "release_scratch",
]


def parts_for(n_rows: int, spark, rows_per_part: int = 1 << 16) -> int:
    """Size-aware range-partition count for with_global_order.

    The default ``parts`` (spark.sql.shuffle.partitions) is right for
    corpus-grain inputs, but a post-aggregate frame (customer / part
    grain) ranked into 32 range partitions pays ~32 tasks of fixed
    stage overhead per pass for a few thousand rows — the toy-scale tax
    the r6 verdict measured on orders_rfm/gini/pareto. Callers that
    already know their input's cardinality (a persisted aggregate they
    count anyway) pass ``parts_for(n, spark)``: ceil(n / rows_per_part)
    partitions, floored at 2 and capped at shuffle.partitions. The cap
    keeps the 100 TB shape — on a real cluster shuffle.partitions is
    sized to the executor fleet, and a 10^9-row aggregate saturates it —
    while a 10^4-row frame collapses to a handful of range partitions.
    The floor is 2, not 1: Spark plans ``repartitionByRange(1, ...)`` as
    ``Exchange SinglePartition``, which erases the RangePartitioning
    shape the plan tests pin (and that a 100 TB reader should see).
    """
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(2, min(cap, -(-int(n_rows) // rows_per_part)))


_RESERVED_PREFIXES = ("_s_", "_off_", "_tot_", "_loc_")


def _validate_names(df, rn_col, cumsums, totals, n_col) -> None:
    """Reject silent scratch-name collisions (r6 advisor): the primitive
    manufactures _pid/_n plus _s_/_off_/_tot_/_loc_-prefixed temporaries, so an
    input column or output key that lands on one of those names would be
    clobbered or mis-wired rather than erroring."""
    bad_in = [
        c for c in df.columns
        if c in ("_pid", "_n") or c.startswith(_RESERVED_PREFIXES)
    ]
    if bad_in:
        raise ValueError(
            f"with_global_order: input columns {bad_in} collide with "
            "reserved scratch names (_pid, _n, _s_*, _off_*, _tot_*, _loc_*) — "
            "rename them before ranking"
        )
    overlap = set(cumsums) & set(totals)
    if overlap:
        raise ValueError(
            f"with_global_order: keys {sorted(overlap)} appear in BOTH "
            "cumsums and totals — they would share one _s_ temp and "
            "totals' source would silently win; use distinct output names"
        )
    outs = [k for k in (rn_col, n_col) if k] + list(cumsums) + list(totals)
    if len(outs) != len(set(outs)):
        raise ValueError(
            f"with_global_order: duplicate output names in {outs}"
        )
    for out in list(cumsums) + list(totals):
        if out == "n" or out == "_pid" or out.startswith(_RESERVED_PREFIXES):
            raise ValueError(
                f"with_global_order: output key {out!r} generates a "
                "scratch column (_s_/_off_/_tot_ + key) that collides "
                "with the reserved count columns — pick another name"
            )
    for out in (rn_col, n_col):
        if out and (out == "_pid" or out.startswith(_RESERVED_PREFIXES)):
            raise ValueError(
                f"with_global_order: output column {out!r} collides with "
                "reserved scratch names"
            )


def with_global_order(
    df: DataFrame,
    order_cols: list,
    part_cols: list[str] | None = None,
    rn_col: str | None = None,
    cumsums: dict[str, str] | None = None,
    totals: dict[str, str] | None = None,
    n_col: str | None = None,
    parts: int | None = None,
) -> DataFrame:
    """Add exact global-order columns to ``df`` without a global sort.

    order_cols: Columns (may carry .desc()) forming a TOTAL order.
    part_cols:  optional grouping — ranks restart per group (the
                low-cardinality-key case, e.g. a per-flag running sum,
                where a plain window would make one task per key).
    rn_col:     1-based global row_number output column.
    cumsums:    {out: src} inclusive running sums of ``src``.
    totals:     {out: src} whole-group sums of ``src`` (broadcast-attached).
    n_col:      whole-group row count (for ntile-style banding).
    """
    part_cols = list(part_cols or [])
    cumsums = cumsums or {}
    totals = totals or {}
    _validate_names(df, rn_col, cumsums, totals, n_col)
    spark = df.sparkSession
    if parts is None:
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    rp = df.repartitionByRange(parts, *[F.col(c) for c in part_cols] + list(order_cols))
    stamped = scratch.persist(rp.withColumn("_pid", F.spark_partition_id()))

    aggs = [F.count(F.lit(1)).alias("_n")]
    sum_srcs = {f"_s_{out}": src for out, src in {**cumsums, **totals}.items()}
    for tmp, src in sum_srcs.items():
        aggs.append(F.sum(src).alias(tmp))
    per_pid = stamped.groupBy(*part_cols, "_pid").agg(*aggs)

    # offsets table: |groups| x P rows — tiny. The single-partition window
    # below (the ONLY empty-partition window in the plan, and it orders by
    # _pid — the property tests/test_plans.py pins) runs over THIS table.
    #
    # Whole-group totals ride the SAME window pass since r14 (guide §2.4):
    # they are the unbounded-frame sum over the identical
    # (partition, order) spec, so Spark computes offsets and totals in ONE
    # Window operator over ONE evaluation of per_pid. The r13 shape
    # derived totals from a second aggregate of per_pid joined back —
    # which re-evaluated the per-pid aggregate (its exchanges included)
    # once per consumer because nothing shared the un-persisted frame:
    # agg_weighted's plan carried per_pid THREE times (offsets branch,
    # totals branch, join) with two extra exchange pairs. Tiny data, but
    # two whole stage barriers per rank query. The pid-ordered window sum
    # is also deterministic where the hash-aggregate merge order was not.
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = (
        Window.partitionBy(*part_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    off_sel = list(part_cols) + ["_pid"]
    off_sel.append(
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off_n")
    )
    for out in cumsums:
        off_sel.append(
            F.coalesce(F.sum(f"_s_{out}").over(w_off), F.lit(0)).alias(f"_off_{out}")
        )
    if n_col or totals:
        off_sel.append(F.sum("_n").over(w_all).alias("_tot_n"))
    for out in totals:
        off_sel.append(F.sum(f"_s_{out}").over(w_all).alias(f"_tot_{out}"))
    offsets = per_pid.select(*off_sel)

    # Local ranks are computed over `stamped` BEFORE the offsets attach
    # (r14, guide §2.3): the within-pid window needs an Exchange
    # hashpartitioning(part_cols, _pid) of the full ranked frame — the
    # one unavoidable big shuffle of this pass — and in the r13 order
    # (join first, window second) every _off_*/_tot_* column the
    # broadcast join had attached rode through that exchange as
    # per-(group, pid)-constant dead weight. Window first, broadcast
    # join after: the big exchange carries only the frame's own columns.
    w_loc = Window.partitionBy(*(part_cols + ["_pid"])).orderBy(*order_cols)
    w_loc_cum = w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    local = stamped
    if rn_col:
        local = local.withColumn("_loc_rn", F.row_number().over(w_loc))
    for out, src in cumsums.items():
        local = local.withColumn(f"_loc_{out}", F.sum(src).over(w_loc_cum))

    out_df = local.join(F.broadcast(offsets), part_cols + ["_pid"])

    drop = ["_pid", "_off_n"]
    if rn_col:
        out_df = out_df.withColumn(
            rn_col, (F.col("_off_n") + F.col("_loc_rn")).cast("bigint")
        )
        drop.append("_loc_rn")
    for out in cumsums:
        out_df = out_df.withColumn(
            out, F.col(f"_off_{out}") + F.col(f"_loc_{out}")
        )
        drop.extend([f"_off_{out}", f"_loc_{out}"])
    for out in totals:
        out_df = out_df.withColumn(out, F.col(f"_tot_{out}"))
        drop.append(f"_tot_{out}")
    if n_col:
        out_df = out_df.withColumn(n_col, F.col("_tot_n"))
    if n_col or totals:
        drop.append("_tot_n")
    return out_df.drop(*drop)


def ntile_from_rn(rn, n, k: int):
    """Exact SQL ntile(k) band from a 1-based global rank and group size:
    the first n%k bands hold ceil(n/k) rows, the rest floor(n/k) — the
    uneven-remainder distribution every SQL engine implements. Pure
    column arithmetic, so it composes with with_global_order's rn/n
    instead of a single-task ntile window."""
    q = F.floor(n / k)
    r = n % k
    big = r * (q + 1)  # rows covered by the (q+1)-sized leading bands
    return (
        F.when(rn <= big, F.ceil(rn / (q + 1)))
        .otherwise(r + F.ceil((rn - big) / F.greatest(q, F.lit(1))))
        .cast("int")
    )
