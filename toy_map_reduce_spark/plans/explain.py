"""Plan inspection: one walk of Spark's executed physical plan.

:func:`plan_tree` walks ``df._jdf.queryExecution().executedPlan()`` over
py4j, once, into a tree of :class:`PlanNode` that holds only the facts the
checks here and in tests/test_plans.py read: the operator kind, aggregate
and window keys, project renames, join type and build side, exchange
partitioning and the tables a file scan reads. The walk reaches every
operator the query runs, each once:

- through ``AdaptiveSparkPlanExec.executedPlan()`` (it has no children),
  its current plan, the final one once it has run;
- through each ``*QueryStageExec.plan()``;
- from ``InMemoryTableScanExec`` into its relation's cached plan;
- and through every other node's ``children()`` plus ``subqueries()``.

:func:`explain_str` is kept for reading one node's printed arguments
(ReadSchema, PushedFilters, PartitionFilters, join key names); no check
here reads plan structure from text.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame

from toy_map_reduce_spark.tables import fixture_table


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The text ``df.explain(mode)`` prints, returned without touching
    ``sys.stdout`` (safe from concurrent threads)."""
    qe = df._jdf.queryExecution()
    return df.sparkSession._jvm.PythonSQLUtils.explainString(qe, mode)


@dataclasses.dataclass(eq=False)
class PlanNode:
    """One physical operator. ``kind`` is its class name without the
    ``Exec`` suffix (``HashAggregate``, ``ShuffleExchange``,
    ``FileSourceScan``); ``children`` follow Spark's order (a join's left
    input first), then the node's subqueries and, for an
    ``InMemoryTableScan``, the cached plan. The other fields are set only
    on the kinds named beside them."""

    kind: str
    children: list[PlanNode] = dataclasses.field(default_factory=list)
    # aggregate: grouping columns; window: partition columns. Each
    # (name, exprId): the key itself, then the columns it reads
    keys: tuple[tuple[str, int], ...] = ()
    # aggregate: it computes no aggregate function (a distinct, or one
    # step of a distinct aggregate's expansion)
    distinct_only: bool = False
    # window: names of the columns it orders by
    order: tuple[str, ...] = ()
    # project: (alias exprId, source name, source exprId) of each
    # ``col AS alias`` whose source is a bare column
    renames: tuple[tuple[int, str, int], ...] = ()
    join_type: str = ""  # join: "Inner", "LeftSemi", "LeftAnti", ...
    build: str = ""  # hash / nested-loop join: "left" or "right"
    partitioning: str = ""  # shuffle exchange: "SinglePartition", ...
    tables: tuple[str, ...] = ()  # file scan: fixture tables it reads

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def count(self, *kinds: str) -> int:
        return sum(1 for n in self.walk() if n.kind in kinds)

    def has(self, *kinds: str) -> bool:
        return any(n.kind in kinds for n in self.walk())


AGGREGATES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
# Nodes that bound output cardinality regardless of what sits below.
_LIMITS = ("TakeOrderedAndProject", "CollectLimit", "GlobalLimit")
# The only unbounded leaf: a file scan. LocalTableScan, Range,
# ReusedExchange and RDD scans are driver literals or references.
_FILE_SCAN = "FileSourceScan"
_JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin", "ShuffledHashJoin", "SortMergeJoin")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _name(obj) -> str:
    return obj.getClass().getSimpleName().rstrip("$")


def _columns(expr) -> list[tuple[str, int]]:
    """(name, exprId) of a named expression, then of each column it reads."""
    cols = []
    if _name(expr) in ("AttributeReference", "Alias"):
        cols.append((expr.name(), expr.exprId().id()))
    cols += [(a.name(), a.exprId().id()) for a in _seq(expr.references().toSeq())]
    return list(dict.fromkeys(cols))


def _node(p) -> PlanNode:
    kind = _name(p).removesuffix("Exec")
    n = PlanNode(kind)
    if kind == "AdaptiveSparkPlan":
        kids = [p.executedPlan()]
    elif kind.endswith("QueryStage"):
        kids = [p.plan()]
    else:
        kids = _seq(p.children()) + _seq(p.subqueries())
        if kind == "InMemoryTableScan":
            kids.append(p.relation().cachedPlan())
    if kind in AGGREGATES:
        n.keys = tuple(c for e in _seq(p.groupingExpressions()) for c in _columns(e))
        n.distinct_only = p.aggregateExpressions().isEmpty()
    elif kind == "Window":
        n.keys = tuple(c for e in _seq(p.partitionSpec()) for c in _columns(e))
        n.order = tuple(c for o in _seq(p.orderSpec()) for c, _ in _columns(o.child()))
    elif kind == "Project":
        n.renames = tuple(
            (e.exprId().id(), e.child().name(), e.child().exprId().id())
            for e in _seq(p.projectList())
            if _name(e) == "Alias" and _name(e.child()) == "AttributeReference"
        )
    elif kind == "ShuffleExchange":
        n.partitioning = _name(p.outputPartitioning())
    elif kind == _FILE_SCAN:
        roots = [fixture_table(r.toString()) for r in _seq(p.relation().location().rootPaths())]
        n.tables = tuple(t for t in roots if t)
    elif kind in _JOINS:
        n.join_type = _name(p.joinType())
        if kind != "SortMergeJoin":
            n.build = _name(p.buildSide()).removeprefix("Build").lower()
    n.children = [_node(k) for k in kids]
    return n


def plan_tree(df: DataFrame) -> PlanNode:
    """The executed physical plan of ``df`` as a :class:`PlanNode` tree."""
    return _node(df._jdf.queryExecution().executedPlan())


def plan_properties(tree: PlanNode) -> dict[str, bool | int]:
    """Scale-relevant operator facts of one plan tree."""
    return {
        "broadcast_join": tree.has("BroadcastHashJoin"),
        "sort_merge_join": tree.has("SortMergeJoin"),
        "topk": tree.has("TakeOrderedAndProject"),
        "hash_aggregates": tree.count("HashAggregate", "ObjectHashAggregate"),
        "exchanges": tree.count("ShuffleExchange", "BroadcastExchange"),
        "has_cartesian": tree.has("CartesianProduct"),
        "python_udf": tree.has("BatchEvalPython", "ArrowEvalPython"),
    }


def single_partition_sites(tree: PlanNode) -> list[dict]:
    """Classify every single-partition shuffle exchange in a plan.

    A single-partition exchange funnels its entire input through ONE
    task: the canonical scale-killer when fed by raw corpus rows (the
    shape functions/ranks.py exists to eliminate), but fine when an
    aggregate below it bounds the rows crossing the wire to the group-key
    cardinality (one-row bounds tables, per-pid offset tables, final
    global summaries). ``raw_corpus_risk`` marks the former: a file scan
    in the exchange's subtree with NO aggregate anywhere in it.

    An aggregate whose GROUP KEYS are corpus-grain (word, doc_id,
    custkey, ...) bounds nothing, so ``corpus_grain_keys`` lists the
    corpus-grain columns in the keys of the aggregates that actually
    bound the exchange's input (see :func:`_corpus_grain_keys`), and
    ``<unbounded-branch>`` when some join branch reaches a file scan with
    no bound of its own. tests/test_plans.py keeps both the
    ``raw_corpus_risk`` set and the ``corpus_grain_keys`` set empty
    registry-wide; there is no allowlist.
    """
    sites: list[dict] = []
    for n in tree.walk():
        if n.kind != "ShuffleExchange" or n.partitioning != "SinglePartition":
            continue
        (child,) = n.children
        scan, agg = child.has(_FILE_SCAN), child.has(*AGGREGATES)
        sites.append({
            "feeds_from_scan": scan,
            "aggregated_below": agg,
            "raw_corpus_risk": scan and not agg,
            "corpus_grain_keys": _corpus_grain_keys(child) if scan and agg else [],
        })
    return sites


# Column names whose grain IS the corpus (or a table's full key space):
# an aggregate grouped on one of these bounds nothing the funnel can rely
# on. Kept conservative — names like `n`, `label`, `band` are bounded by
# construction and deliberately absent.
_CORPUS_GRAIN_COLS = frozenset({
    "word", "tok", "token", "shingle", "doc_id", "vec_id", "event_id",
    "o_orderkey", "l_orderkey", "custkey", "o_custkey", "c_custkey",
    "user_id", "text_hash", "h",
})


def _resolve(renames: dict[int, tuple[str, int]], name: str, eid: int) -> str:
    seen: set[int] = set()
    while eid in renames and eid not in seen:
        seen.add(eid)
        name, eid = renames[eid]
    return name


def _branch_bound(node: PlanNode, renames: dict) -> tuple[bool, set[str]]:
    """Is this subtree's output cardinality bounded by something other
    than corpus size, and through which corpus-grain group keys?

    Per-node rules, applied top-down and stopping at the first bounding
    node on each branch:
      * top-k / limit  -> bounded, no grain leak;
      * aggregate      -> bounded, leaking its corpus-grain group keys
        (resolved through renames) — a corpus-grain-keyed aggregate
        "bounds" to corpus cardinality, which the caller flags;
      * file scan      -> UNBOUNDED (raw corpus reaches this point);
      * other leaf     -> bounded (driver literals, Range, reused refs);
      * semi/anti/existence join -> output is a subset of the LEFT
        input, so only the left child bounds it;
      * join/union     -> bounded iff EVERY input branch is bounded
        (an inner join's output is as coarse as its coarsest input),
        grain keys unioned across branches.
    """
    if node.kind in _LIMITS:
        return True, set()
    if node.kind in AGGREGATES:
        names = {_resolve(renames, name, eid) for name, eid in node.keys}
        return True, names & _CORPUS_GRAIN_COLS
    if node.kind == _FILE_SCAN:
        return False, set()
    kids = node.children
    if not kids:
        return True, set()
    if len(kids) > 1 and node.join_type in ("LeftSemi", "LeftAnti", "ExistenceJoin"):
        return _branch_bound(kids[0], renames)
    bounded, keys = True, set()
    for k in kids:
        b, ks = _branch_bound(k, renames)
        bounded = bounded and b
        keys |= ks
    return bounded, keys


def _corpus_grain_keys(root: PlanNode) -> list[str]:
    """Corpus-grain column names in the group keys BOUNDING the rows that
    cross a single-partition exchange whose input is ``root``.

    Every project rename below contributes to an exprId map, and each
    group key is resolved through it back to its source column before
    the grain check, so ``custkey AS ck`` still counts as corpus grain.
    A TakeOrderedAndProject bounds exactly the branch it sits on: on the
    exchange's direct child chain it exempts the site, in a sibling join
    branch it exempts only that branch. A branch that reaches a file
    scan with NO bounding node returns the sentinel
    ``<unbounded-branch>``: raw corpus rows cross the funnel even though
    some other branch aggregates."""
    renames: dict[int, tuple[str, int]] = {}
    for n in root.walk():
        for eid, src, src_id in n.renames:
            renames.setdefault(eid, (src, src_id))
    bounded, keys = _branch_bound(root, renames)
    if not bounded:
        keys.add("<unbounded-branch>")
    return sorted(keys)


# Constant-cardinality dimension tables: bounded at ANY scale factor
# (region is 5 rows, nation 25 — TPC-H fixes them independent of SF), so
# shuffling one through a SortMergeJoin / ShuffledHashJoin is wrong at
# every scale, 100 TB included. The SF-scaling tables (customer, part,
# supplier, ...) are deliberately absent: whether they broadcast is a
# threshold question the planner answers from stats, not a plan bug.
_ALWAYS_SMALL_DIMS = frozenset({"region", "nation"})


def missed_broadcast(tree: PlanNode, small_tables: frozenset[str] = _ALWAYS_SMALL_DIMS) -> list[dict]:
    """Shuffle joins whose one side only scans always-small dimension
    tables — the inverse of :func:`build_side_risk`: that check catches
    broadcasting the BIG side; this one catches SHUFFLING a side that is
    bounded at any scale and should have been broadcast. At 100 TB a
    SortMergeJoin shuffles the fact table on the join key purely to meet
    a 5-row region table that a broadcast would have met at the scan.

    Signature: a SortMergeJoin / ShuffledHashJoin where one input
    branch's file-scan leaves are all in ``small_tables`` (non-empty) —
    i.e. the branch derives from constant-cardinality dims only. Joins
    where BOTH sides reach a scaling table (the bucketed lineitem ⋈
    orders merge join, big-big skew joins) are exempt by construction,
    as are branches with no file scan at all (loop-carried frames).
    tests/test_plans.py pins the set empty registry-wide."""
    risks: list[dict] = []
    for n in tree.walk():
        if n.kind not in ("SortMergeJoin", "ShuffledHashJoin") or len(n.children) != 2:
            continue
        for side, child in zip(("left", "right"), n.children):
            tabs = {t for d in child.walk() if d.kind == _FILE_SCAN for t in d.tables}
            if tabs and tabs <= small_tables:
                risks.append({"join": n.kind, "side": side, "tables": sorted(tabs)})
    return risks


def build_side_risk(tree: PlanNode) -> list[dict]:
    """Broadcast joins that hash-build from a persisted CORPUS relation
    (the graph_bfs_levels bug class, generalized registry-wide).

    Spark costs build-side choice from statistics; a persisted relation
    HAS stats while the tiny loop-carried frame (frontier, visited,
    bounds literal) often has none, so the planner happily picks
    ``BuildLeft`` over the cached corpus and hash-builds millions of rows
    to stream a 1-row table past them — exactly backwards at 100 TB.
    Signature flagged here: a BroadcastHashJoin / BroadcastNestedLoopJoin
    whose BUILD side reaches an ``InMemoryTableScan`` backed by a file
    scan with NO bounding node (aggregate / top-k / limit) in between,
    inside the cached plan too, while the PROBE side touches no file scan
    at all (if the probe side scans the corpus too, building from a
    bounded cached side is the normal broadcast-dim pattern and stays
    exempt — e.g. the GOOD BFS plan broadcasts the persisted frontier
    over the cached edge scan). A distinct (an aggregate that computes no
    function) is not a bound: the distinct edge list is as large as the
    edge list.

    Returns one record per risky join; tests/test_plans.py pins the set
    empty across the registry."""

    def cached_corpus_unbounded(node: PlanNode, in_cache: bool = False) -> bool:
        if node.kind in _LIMITS or (node.kind in AGGREGATES and not node.distinct_only):
            return False
        if in_cache and node.kind == _FILE_SCAN:
            return True
        in_cache = in_cache or node.kind == "InMemoryTableScan"
        return any(cached_corpus_unbounded(c, in_cache) for c in node.children)

    risks: list[dict] = []
    for n in tree.walk():
        if n.kind not in ("BroadcastHashJoin", "BroadcastNestedLoopJoin"):
            continue
        if len(n.children) != 2 or n.build not in ("left", "right"):
            continue
        build, probe = n.children if n.build == "left" else n.children[::-1]
        if cached_corpus_unbounded(build) and not probe.has(_FILE_SCAN):
            risks.append({"join": n.kind, "build": n.build, "build_head": build.kind})
    return risks
