"""Iterative graph computation (G tier): fixed-iteration PageRank over a
hash-derived directed graph — the canonical "MapReduce can't do this well"
workload (each iteration is a full extra job there; here the loop unrolls
into one Catalyst DAG).

Companion to dedup_clusters (operators/pipeline.py), which does iterative
min-label propagation; together they cover the two classic iterative
dataflow shapes (fixpoint propagation / damped power iteration).

Scale notes (100 TB):
- Each iteration is one shuffle (contributions grouped by dst). The rank
  frame is |nodes| rows — tiny next to edges — and the edge frame is
  re-read per iteration from the same partitioning, which AQE reuses.
- At real scale past ~10 iterations you'd checkpoint the rank frame to cut
  lineage growth; 3 fixed iterations keeps the plan finite and the DuckDB
  oracle expressible as chained CTEs.
- Ranks are emitted as micro-ints (round(r * 1e6)) — the established
  cross-engine float contract (see timeseries_interpolate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load

PR_NODES_MOD = 64     # graph nodes = hash classes of customers/orders
PR_ITERATIONS = 3
PR_DAMPING = 0.85

_PAGERANK_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey % {PR_NODES_MOD} AS src, o_orderkey % {PR_NODES_MOD} AS dst
  FROM orders
  WHERE o_custkey % {PR_NODES_MOD} <> o_orderkey % {PR_NODES_MOD}
),
nodes AS (SELECT DISTINCT n FROM (SELECT src AS n FROM edges UNION SELECT dst FROM edges)),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nodes),
outdeg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM edges GROUP BY src),
r0 AS (SELECT n, 1.0 / nn.cnt AS r FROM nodes, nn),
r1 AS (
  SELECT nodes.n,
         (1 - {PR_DAMPING}) / nn.cnt
         + {PR_DAMPING} * COALESCE(SUM(r0.r / outdeg.d), 0) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN edges ON edges.dst = nodes.n
  LEFT JOIN r0 ON r0.n = edges.src
  LEFT JOIN outdeg ON outdeg.src = edges.src
  GROUP BY nodes.n, nn.cnt
),
r2 AS (
  SELECT nodes.n,
         (1 - {PR_DAMPING}) / nn.cnt
         + {PR_DAMPING} * COALESCE(SUM(r1.r / outdeg.d), 0) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN edges ON edges.dst = nodes.n
  LEFT JOIN r1 ON r1.n = edges.src
  LEFT JOIN outdeg ON outdeg.src = edges.src
  GROUP BY nodes.n, nn.cnt
),
r3 AS (
  SELECT nodes.n,
         (1 - {PR_DAMPING}) / nn.cnt
         + {PR_DAMPING} * COALESCE(SUM(r2.r / outdeg.d), 0) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN edges ON edges.dst = nodes.n
  LEFT JOIN r2 ON r2.n = edges.src
  LEFT JOIN outdeg ON outdeg.src = edges.src
  GROUP BY nodes.n, nn.cnt
)
SELECT CAST(n AS BIGINT) AS node, CAST(round(r * 1000000) AS BIGINT) AS micro_rank
FROM r3
"""


@register("graph_pagerank", "G", oracle=_PAGERANK_ORACLE,
          doc="3-iteration damped PageRank (d=0.85) over a hash-derived "
              "64-node directed graph from orders; micro-int ranks. The "
              "iterative-dataflow counterpart to dedup_clusters' fixpoint "
              "propagation")
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    edges = (
        orders.select(
            (F.col("o_custkey") % PR_NODES_MOD).alias("src"),
            (F.col("o_orderkey") % PR_NODES_MOD).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = (
        edges.select(F.col("src").alias("n"))
        .union(edges.select(F.col("dst").alias("n")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))

    # rank frame: |nodes| rows — the only state carried between iterations
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "n", (F.lit(1.0) / F.col("cnt")).alias("r")
    )
    for _ in range(PR_ITERATIONS):
        contrib = (
            edges.join(r.withColumnRenamed("n", "src"), "src")
            .join(outdeg, "src")
            .select(F.col("dst").alias("n"), (F.col("r") / F.col("d")).alias("c"))
        )
        summed = contrib.groupBy("n").agg(F.sum("c").alias("s"))
        r = (
            nodes.join(summed, "n", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "n",
                (
                    (1 - PR_DAMPING) / F.col("cnt")
                    + PR_DAMPING * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return r.select(
        F.col("n").cast("long").alias("node"),
        F.round(F.col("r") * 1_000_000).cast("long").alias("micro_rank"),
    )


_TRIANGLES_ORACLE = f"""
WITH und AS (
  SELECT DISTINCT least(o_custkey % {PR_NODES_MOD}, o_orderkey % {PR_NODES_MOD}) AS a,
                  greatest(o_custkey % {PR_NODES_MOD}, o_orderkey % {PR_NODES_MOD}) AS b
  FROM orders
  WHERE o_custkey % {PR_NODES_MOD} <> o_orderkey % {PR_NODES_MOD}
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
GROUP BY node
"""


@register("graph_triangles", "G", oracle=_TRIANGLES_ORACLE,
          doc="Per-node triangle counting over the hash-derived undirected "
              "graph: canonical a<b<c edge orientation, two keyed "
              "self-joins — the clustering-coefficient numerator")
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orienting every edge low→high makes each triangle appear exactly
    once as (a<b<c), so the count needs no /6 dedup and — the scale
    point — the join fan-out is bounded by high-neighbor degree, the
    standard compact-forward optimization. Both joins are equi-keyed
    (never a cartesian); at 100 TB you'd pre-bucket edges by the join
    key and both joins become shuffle-free."""
    orders = load(spark, sf_dir, "orders")
    src = F.col("o_custkey") % PR_NODES_MOD
    dst = F.col("o_orderkey") % PR_NODES_MOD
    und = (
        orders.select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z"))
    )
    nodes = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


BFS_LEVELS = 3

_BFS_ORACLE = f"""
WITH und AS (
  SELECT DISTINCT least(o_custkey % {PR_NODES_MOD}, o_orderkey % {PR_NODES_MOD}) AS a,
                  greatest(o_custkey % {PR_NODES_MOD}, o_orderkey % {PR_NODES_MOD}) AS b
  FROM orders
  WHERE o_custkey % {PR_NODES_MOD} <> o_orderkey % {PR_NODES_MOD}
),
edges AS (SELECT a AS src, b AS dst FROM und UNION SELECT b, a FROM und),
l0 AS (SELECT CAST(0 AS BIGINT) AS node, 0 AS lvl),
l1 AS (
  SELECT DISTINCT e.dst AS node, 1 AS lvl FROM l0 JOIN edges e ON e.src = l0.node
  WHERE e.dst NOT IN (SELECT node FROM l0)
),
l2 AS (
  SELECT DISTINCT e.dst AS node, 2 AS lvl FROM l1 JOIN edges e ON e.src = l1.node
  WHERE e.dst NOT IN (SELECT node FROM l0 UNION SELECT node FROM l1)
),
l3 AS (
  SELECT DISTINCT e.dst AS node, 3 AS lvl FROM l2 JOIN edges e ON e.src = l2.node
  WHERE e.dst NOT IN (SELECT node FROM l0 UNION SELECT node FROM l1
                      UNION SELECT node FROM l2)
)
SELECT CAST(node AS BIGINT) AS node, CAST(lvl AS INTEGER) AS level
FROM (SELECT * FROM l0 UNION ALL SELECT * FROM l1
      UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3)
"""


@register("graph_bfs_levels", "G", oracle=_BFS_ORACLE,
          doc="3-level BFS from node 0 over the undirected hash graph: "
              "frontier-expansion joins with visited-set anti-joins — the "
              "traversal shape completing the graph family (PageRank / "
              "components / triangles / BFS)")
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each level is one join (edges × broadcast frontier) plus a
    broadcast anti-join against the visited set — the canonical
    iterative-graph plan: the edge list is PERSISTED so the expensive
    derive-distinct-edges subtree runs once instead of once per level
    (unrolled DAGs triplicate shared subtrees otherwise), the edge table
    streams map-side through every level, and the frontier/visited sets
    (bounded by the node universe, far below any fact table) ride as
    broadcasts — at 100 TB nothing re-shuffles the edge list after its
    one build."""
    orders = load(spark, sf_dir, "orders")
    src = F.col("o_custkey") % PR_NODES_MOD
    dst = F.col("o_orderkey") % PR_NODES_MOD
    und = (
        orders.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # a<b strictly, so the two directed projections are disjoint — the
    # union needs no second distinct (one whole shuffle saved)
    edges = scratch.persist(
        und.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
            und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
    )

    frontier = load(spark, sf_dir, "orders").sparkSession.createDataFrame(
        [(0,)], "node long"
    ).select("node", F.lit(0).alias("level"))
    visited = frontier
    for lvl in range(1, BFS_LEVELS + 1):
        # EXPLICIT broadcast of the frontier and visited sets: without the
        # hint Spark builds the hash table from the EDGES side (BuildLeft
        # over the cached relation — no stats on the tiny frontier), which
        # is exactly backwards at scale: the edge list is the corpus and
        # must stream map-side, while frontier/visited are bounded by the
        # node universe. The hint also turns the visited anti-join from a
        # SortMergeJoin (two exchanges + sorts per level) into a broadcast
        # anti-join with zero shuffle of the expansion output.
        nxt = scratch.persist(
            edges.join(
                F.broadcast(frontier.select(F.col("node").alias("f_node"))),
                F.col("src") == F.col("f_node"),
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(F.broadcast(visited.select("node")), "node", "left_anti")
            .select("node", F.lit(lvl).alias("level"))
        )
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited.select(
        F.col("node").cast("long").alias("node"),
        F.col("level").cast("int").alias("level"),
    )


_RECURSIVE_CTE_SQL = f"""
WITH RECURSIVE
und AS (
  SELECT DISTINCT least(o_custkey % {PR_NODES_MOD}, o_orderkey % {PR_NODES_MOD}) AS a,
                  greatest(o_custkey % {PR_NODES_MOD}, o_orderkey % {PR_NODES_MOD}) AS b
  FROM {{t}}
  WHERE o_custkey % {PR_NODES_MOD} <> o_orderkey % {PR_NODES_MOD}
),
edges AS (SELECT a AS src, b AS dst FROM und UNION SELECT b, a FROM und),
reach(node, lvl) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION ALL
  SELECT /*+ BROADCAST(r) */ e.dst, r.lvl + 1
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.lvl < 3
)
SELECT CAST(node AS BIGINT) AS node, CAST(MIN(lvl) AS INTEGER) AS level
FROM reach
GROUP BY node
"""


@register("sql_recursive_cte", "G",
          oracle=_RECURSIVE_CTE_SQL.format(t="orders"),
          doc="WITH RECURSIVE (Spark 4): depth-bounded transitive "
              "reachability from node 0 over the hash graph, identical "
              "SQL text on both engines — the declarative twin of "
              "graph_bfs_levels' hand-unrolled loop, and it must agree "
              "with it")
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTEs landed in Spark 4 — before that, iteration meant
    driver-side loop unrolling (graph_bfs_levels, dedup_clusters). The
    depth bound (lvl < 3) plus the MIN(lvl) rollup makes UNION ALL
    recursion cycle-safe on a cyclic graph: paths enumerate, levels
    collapse. Each recursion step is one join against the frontier —
    the same physical shape the unrolled form produces.

    The recursive step carries a /*+ BROADCAST(r) */ hint — the same
    build-side discipline as graph_bfs_levels' explicit F.broadcast:
    UnionLoop replans the body per iteration with no stats on the
    recursion ref, so without the hint Spark shuffles BOTH sides
    (sort-merge over the frontier AND the edge subtree, per level); the
    hint makes the bounded frontier the broadcast build side and the
    edges stream map-side. A hint is a standard SQL block comment, so
    the SAME text runs on DuckDB (which ignores it) — the twin stays
    byte-identical. Measured at sf0.1 (quiet-warm): ~2.9-3.6 s unhinted
    -> ~1.7 s hinted; a pre-cached edges temp view on top measured
    ~2.2 s (InMemoryTableScan fan-out loses to the recomputed subtree
    at this scale), so the hint-only form is kept."""

    return spark.sql(_RECURSIVE_CTE_SQL, t=load(spark, sf_dir, "orders"))


_CLUSTERING_COEFF_ORACLE = f"""
WITH und AS (
  SELECT DISTINCT least(o_custkey % {PR_NODES_MOD}, o_orderkey % {PR_NODES_MOD}) AS a,
                  greatest(o_custkey % {PR_NODES_MOD}, o_orderkey % {PR_NODES_MOD}) AS b
  FROM orders
  WHERE o_custkey % {PR_NODES_MOD} <> o_orderkey % {PR_NODES_MOD}
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
tcnt AS (
  SELECT node, COUNT(*) AS t FROM (
    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT d.node,
       CAST(d.d AS BIGINT) AS degree,
       CAST(COALESCE(t.t, 0) AS BIGINT) AS n_triangles,
       round(COALESCE(t.t, 0) / (d.d * (d.d - 1) / 2.0), 6) AS local_cc
FROM deg d LEFT JOIN tcnt t ON t.node = d.node
WHERE d.d >= 2
"""


@register("graph_clustering_coeff", "G", oracle=_CLUSTERING_COEFF_ORACLE,
          doc="Local clustering coefficient per node: triangles through "
              "the node over its wedge count d(d−1)/2 — the cohesion "
              "metric on top of graph_triangles' numerator; degree-1 "
              "nodes excluded (undefined denominator)")
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reuses the canonical low→high edge orientation (each triangle
    counted once, join fan-out bounded by high-neighbor degree); degrees
    come from one partial-aggregated count over both edge endpoints, and
    the coefficient is arithmetic on the joined (degree, triangle) pair
    — no new join shapes beyond the triangle pass itself."""
    orders = load(spark, sf_dir, "orders")
    src = F.col("o_custkey") % PR_NODES_MOD
    dst = F.col("o_orderkey") % PR_NODES_MOD
    und = (
        orders.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z"))
    )
    tcnt = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.join(tcnt, "node", "left")
        .where(F.col("d") >= 2)
        .select(
            "node",
            F.col("d").cast("long").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                F.coalesce("t", F.lit(0)) / (F.col("d") * (F.col("d") - 1) / 2.0), 6
            ).alias("local_cc"),
        )
    )


_DEGREE_DIST_ORACLE = f"""
WITH und AS (
  SELECT DISTINCT least(o_custkey % {PR_NODES_MOD}, o_orderkey % {PR_NODES_MOD}) AS a,
                  greatest(o_custkey % {PR_NODES_MOD}, o_orderkey % {PR_NODES_MOD}) AS b
  FROM orders
  WHERE o_custkey % {PR_NODES_MOD} <> o_orderkey % {PR_NODES_MOD}
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
)
SELECT CAST(d AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       round(COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS frac
FROM deg GROUP BY d
"""


@register("graph_degree_distribution", "G", oracle=_DEGREE_DIST_ORACLE,
          doc="Degree distribution of the undirected graph: node counts "
              "and fractions per degree — the first diagnostic read on "
              "any graph (skew here predicts hot keys in every "
              "downstream graph join)")
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two partial-aggregated counts (per-node degree, then per-degree
    node count). Operationally this is the SKEW FORECAST for the graph
    family: a heavy-tailed distribution here is exactly what makes the
    triangle join's fan-out uneven and what the compact-forward
    orientation in graph_triangles exists to bound."""
    orders = load(spark, sf_dir, "orders")
    src = F.col("o_custkey") % PR_NODES_MOD
    dst = F.col("o_orderkey") % PR_NODES_MOD
    und = (
        orders.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    )
    byd = deg.groupBy(F.col("d").cast("long").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    tot = byd.agg(F.sum("n_nodes").alias("t"))
    return byd.crossJoin(F.broadcast(tot)).select(
        "degree",
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.round(F.col("n_nodes") / F.col("t").cast("double"), 6).alias("frac"),
    )
