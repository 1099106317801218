"""Similarity search over embeddings (X tier): brute-force cosine top-k as
the exact baseline, plus two sub-linear scale paths — random-hyperplane LSH
bucketing and an IVF-style coarse-cell probe.

Scale notes (100 TB / billions of vectors):

* ``sim_topk`` broadcasts the (small) query set and computes per-partition
  local top-k via a window — the data side streams once, never shuffles
  whole vectors. Exact, O(n·q) — the verification baseline.
* ``sim_topk_lsh``: 16 fixed random hyperplanes → 16-bit bucket signature;
  only same-bucket candidates are scored. The plane matrix is a
  deterministic literal (seeded PRNG at plan-build time) so results are
  reproducible run-to-run — the driver hash-compares.
* ``sim_topk_ivf``: IVF layout with per-label centroids as the coarse
  quantizer (cells). Query probes the nprobe=3 nearest cells and scans only
  their inverted lists. Centroid table is tiny → broadcast.

All double-precision folds are left-to-right, matching the DuckDB oracle's
``list_reduce`` exactly (the builtin ``list_cosine_similarity`` computes in
float32 and does NOT hash-match — measured ~5e-8 divergence).
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load

TOP_K = 5
QUERY_STRIDE = 100  # vec_id % stride == 0 → query set (~1% of vectors)
# multi-table LSH: L tables × B bits. One 16-bit table has near-zero
# collision probability for the moderate-cosine neighbors of random
# gaussian data (measured: 0 candidates at sf0.001); L smaller tables
# OR-ed together is the standard fix — candidate if ANY table matches.
LSH_TABLES = 8
LSH_BITS = 8
EMB_DIM = 64


from toy_map_reduce_spark.functions.vector import as_double as _as_double
from toy_map_reduce_spark.functions.vector import dot as _dot
from toy_map_reduce_spark.functions.vector import l2_norm as _norm


def _queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return emb.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("q_id"), _as_double(F.col("embedding")).alias("q_e")
    ).withColumn("q_nrm", _norm(F.col("q_e")))


_SIM_TOPK_ORACLE = f"""
WITH d AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
),
n AS (
  SELECT vec_id, e, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN e]), (a, b) -> a + b)) AS nrm FROM d
),
q AS (SELECT vec_id AS q_id, e AS q_e, nrm AS q_nrm FROM n WHERE vec_id % {QUERY_STRIDE} = 0),
scored AS (
  SELECT q.q_id, n.vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [q.q_e[i] * n.e[i] FOR i IN range(1, len(n.e) + 1)]), (x, y) -> x + y)
           / (q.q_nrm * n.nrm) AS sim
  FROM q, n
  WHERE n.vec_id <> q.q_id
)
SELECT q_id, vec_id, CAST(rn AS INTEGER) AS rnk, round(sim, 6) AS sim FROM (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC NULLS LAST, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= {TOP_K}
"""


@register("sim_topk", "X", oracle=_SIM_TOPK_ORACLE,
          doc="Exact brute-force cosine top-k per query vector (broadcast "
              "queries × streamed data side, window top-k)")
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    data = emb.select("vec_id", _as_double(F.col("embedding")).alias("e")).withColumn(
        "nrm", _norm(F.col("e"))
    )
    q = _queries(spark, sf_dir)
    scored = (
        data.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (_dot(F.col("q_e"), F.col("e")) / (F.col("q_nrm") * F.col("nrm"))).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("q_id", "vec_id", F.col("rn").cast("int").alias("rnk"), F.round("sim", 6).alias("sim"))
    )


def _plane_literals() -> list[list[list[float]]]:
    """LSH_TABLES × LSH_BITS × EMB_DIM hyperplane tensor, each component
    md5-derived (r10): plane[t][b][d] = int(first 8 hex of
    md5('lshplane:t:b:d')) / 2³¹ − 1 ∈ [−1, 1). Deterministic at plan
    build time (no runtime randomness; the driver re-runs queries and
    hash-compares) AND exactly representable cross-engine — the integer
    is exact in a double and the divisor is a power of two, so the DuckDB
    oracle RECOMPUTES the same doubles from md5 instead of embedding 4096
    literals. For random-hyperplane LSH the md5-uniform family is
    distributionally equivalent to the seeded PRNG it replaced."""
    import hashlib

    return [
        [
            [
                int(hashlib.md5(f"lshplane:{t}:{b}:{d}".encode()).hexdigest()[:8], 16)
                / 2147483648.0
                - 1.0
                for d in range(EMB_DIM)
            ]
            for b in range(LSH_BITS)
        ]
        for t in range(LSH_TABLES)
    ]


def _make_signature_udf():
    """Arrow-batched signature computation: one numpy matmul per batch
    (n×64 · 64×(L·B)) instead of L·B interpreted higher-order-function dot
    products per row — measured 9.6 s → sub-second at sf0.1. Plane matrix is
    captured in the closure (broadcast with the serialized UDF, tiny)."""
    planes = np.array(_plane_literals(), dtype=np.float64)  # L × B × D
    proj = planes.reshape(LSH_TABLES * LSH_BITS, EMB_DIM).T  # D × (L·B)
    weights = (1 << np.arange(LSH_BITS, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def signatures(emb: pd.Series) -> pd.Series:
        vals = emb.to_numpy()
        valid = np.array([v is not None and len(v) == EMB_DIM for v in vals])
        out = [None] * len(vals)
        if valid.any():
            mat = np.stack(vals[valid]).astype(np.float64)  # k × D
            # dimension-ordered accumulation, NOT a BLAS matmul: each step
            # rounds acc + e[d]·p[d] once, replaying the exact IEEE op
            # sequence of a left fold over d — the same k-ordered-loop
            # trick as knn_graph_blocked's kernel — so the sign bits are
            # bit-identical to the DuckDB oracle's list_reduce dot (a
            # matmul's reduction order is unspecified and can flip a
            # near-zero projection's sign)
            acc = np.zeros((len(mat), LSH_TABLES * LSH_BITS), dtype=np.float64)
            for di in range(EMB_DIM):
                acc += np.outer(mat[:, di], proj[di, :])
            bits = acc > 0  # k × (L·B)
            per_table = bits.reshape(len(mat), LSH_TABLES, LSH_BITS)
            buckets = (per_table * weights).sum(axis=2)  # k × L
            for idx, b in zip(np.nonzero(valid)[0], buckets):
                out[idx] = b
        return pd.Series(out)

    # asNondeterministic: guide §4.4 — posexplode(outer=false) pushes a
    # `size(_sigs) > 0 AND isnotnull(_sigs)` filter below the projection,
    # and the optimizer then evaluates the UDF twice (once under the
    # pushed filter, once for the projected column): the r13 baseline
    # plan showed 2 ArrowEvalPython nodes per side, i.e. the full 64-dim
    # projection kernel ran twice over every vector. The function is
    # genuinely deterministic (md5-derived plane literals); the mark only
    # forbids the optimizer from duplicating it, yielding one
    # ArrowEvalPython per side. Candidate set and results are unchanged
    # (oracle-verified).
    return signatures.asNondeterministic()


# The signature CTEs recompute the SAME md5-derived plane tensor as
# _plane_literals and fold the projection in the same d order as the
# Arrow kernel, so bucket assignments — and therefore the candidate set —
# are bit-identical cross-engine. Shared with the sim_ann_eval oracle.
_LSH_SIG_CTES = f"""
pl0 AS (
  SELECT t.range AS t, b.range AS b, dno.range AS dno,
         ('0x' || substr(md5('lshplane:' || t.range || ':' || b.range || ':' || dno.range), 1, 8))::BIGINT
           / 2147483648.0 - 1.0 AS val
  FROM range({LSH_TABLES}) t, range({LSH_BITS}) b, range({EMB_DIM}) dno
),
pl AS (SELECT t, b, list(val ORDER BY dno) AS p FROM pl0 GROUP BY t, b),
vb AS (
  SELECT n.vec_id, pl.t AS tbl,
         SUM(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               [n.e[i] * pl.p[i] FOR i IN range(1, {EMB_DIM} + 1)]), (x, y) -> x + y) > 0
             THEN (1::BIGINT << pl.b) ELSE 0 END) AS bucket
  FROM n, pl
  WHERE len(n.e) = {EMB_DIM}
  GROUP BY n.vec_id, pl.t
),
qb AS (SELECT vec_id AS q_id, tbl, bucket FROM vb WHERE vec_id % {QUERY_STRIDE} = 0),
lsh_cand AS (
  SELECT DISTINCT qb.q_id, vb.vec_id
  FROM vb JOIN qb ON vb.tbl = qb.tbl AND vb.bucket = qb.bucket AND vb.vec_id <> qb.q_id
)"""

_SIM_TOPK_LSH_ORACLE = f"""
WITH d AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
),
n AS (
  SELECT vec_id, e,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN e]), (a, b) -> a + b)) AS nrm
  FROM d
),{_LSH_SIG_CTES},
scored AS (
  SELECT c.q_id, c.vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [a.e[i] * v.e[i] FOR i IN range(1, len(v.e) + 1)]), (x, y) -> x + y)
           / (a.nrm * v.nrm) AS sim
  FROM lsh_cand c
  JOIN n a ON a.vec_id = c.q_id
  JOIN n v ON v.vec_id = c.vec_id
)
SELECT q_id, vec_id, CAST(rn AS INTEGER) AS rnk, round(sim, 6) AS sim FROM (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC NULLS LAST, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= {TOP_K}
"""


@register("sim_topk_lsh", "X", oracle=_SIM_TOPK_LSH_ORACLE, bench=True,
          doc="ANN top-k via multi-table random-hyperplane LSH (8 tables × "
              "8 bits, candidate if any table's bucket matches); signatures "
              "via one dimension-ordered Arrow-batch accumulation. "
              "Exact-oracle since r10 (md5-derived planes + IEEE-order-"
              "pinned projection); recall vs sim_topk pytest-verified")
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    signatures = _make_signature_udf()

    def with_buckets(df, e_col_name, prefix):
        # one row per (vector, table): the inverted-index layout — shuffle
        # volume is LSH_TABLES rows per vector, never all-pairs
        sigs = df.withColumn("_sigs", signatures(F.col(e_col_name)))
        return sigs.select(
            "*",
            F.posexplode("_sigs").alias(f"{prefix}table", f"{prefix}bucket"),
        ).drop("_sigs")

    emb = load(spark, sf_dir, "embeddings")
    data = with_buckets(
        emb.select("vec_id", _as_double(F.col("embedding")).alias("e")).withColumn(
            "nrm", _norm(F.col("e"))
        ),
        "e",
        "",
    )
    q = with_buckets(_queries(spark, sf_dir), "q_e", "q_")

    cand = (
        data.join(
            F.broadcast(q),
            (F.col("table") == F.col("q_table"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "q_e", "q_nrm", "vec_id", "e", "nrm")
    )
    # r13 optimization (guide §2.3 — shuffle keys, not payloads): the old
    # shape dropDuplicates'd the candidate pairs BEFORE scoring, so the
    # dedup exchange carried both 64-dim double vectors (~1 KB/row,
    # SortAggregate over array columns). Scoring first makes the dedup a
    # hash aggregate over (q_id, vec_id, sim) — ~24 bytes/row, ~40x fewer
    # shuffle bytes per candidate. A pair colliding in k tables is scored
    # k<=8 times map-side (same vectors -> bit-identical sim, so
    # max() == the value), which is cheaper than shuffling the vectors
    # even once. Results hash-identical at all three SFs.
    scored = cand.select(
        "q_id",
        "vec_id",
        (_dot(F.col("q_e"), F.col("e")) / (F.col("q_nrm") * F.col("nrm"))).alias("sim"),
    ).groupBy("q_id", "vec_id").agg(F.max("sim").alias("sim"))
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("q_id", "vec_id", F.col("rn").cast("int").alias("rnk"), F.round("sim", 6).alias("sim"))
    )


IVF_NPROBE = 3
# centroid quantization step: components round to 1e-6 before the exact
# integer sum (see the quantizer note in sim_topk_ivf)
_IVF_QUANT = "1000000.0"

_SIM_TOPK_IVF_ORACLE = f"""
WITH d AS (
  SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
),
n AS (
  SELECT vec_id, label, e,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN e]), (a, b) -> a + b)) AS nrm
  FROM d
),
cent0 AS (
  SELECT label,
         {", ".join(f"SUM(CAST(round(e[{i + 1}] * {_IVF_QUANT}) AS BIGINT)) AS c{i}" for i in range(EMB_DIM))}
  FROM n GROUP BY label
),
cent AS (
  SELECT label, [{", ".join(f"CAST(c{i} AS DOUBLE)" for i in range(EMB_DIM))}] AS c FROM cent0
),
centn AS (
  SELECT label, c,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN c]), (a, b) -> a + b)) AS c_nrm
  FROM cent
),
q AS (SELECT vec_id AS q_id, e AS q_e, nrm AS q_nrm FROM n WHERE vec_id % {QUERY_STRIDE} = 0),
qc AS (
  SELECT q.q_id, q.q_e, q.q_nrm, cn.label,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [q.q_e[i] * cn.c[i] FOR i IN range(1, len(cn.c) + 1)]), (x, y) -> x + y)
           / (q.q_nrm * cn.c_nrm) AS c_sim
  FROM q, centn cn
),
probed AS (
  SELECT q_id, q_e, q_nrm, label FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY c_sim DESC NULLS LAST, label ASC NULLS FIRST) AS rn FROM qc
  ) WHERE rn <= {IVF_NPROBE}
),
scored AS (
  SELECT p.q_id, n.vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [p.q_e[i] * n.e[i] FOR i IN range(1, len(n.e) + 1)]), (x, y) -> x + y)
           / (p.q_nrm * n.nrm) AS sim
  FROM probed p JOIN n ON n.label = p.label AND n.vec_id <> p.q_id
)
SELECT q_id, vec_id, CAST(rn AS INTEGER) AS rnk, round(sim, 6) AS sim FROM (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC NULLS LAST, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= {TOP_K}
"""


@register("sim_topk_ivf", "X", oracle=_SIM_TOPK_IVF_ORACLE, bench=True,
          doc="ANN top-k via IVF coarse cells: per-label integer-quantized "
              "centroid sums as the quantizer, query probes nprobe=3 "
              "nearest cells, scans only those inverted lists. Exact-oracle "
              "since r10; recall pytest-verified")
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    nprobe = IVF_NPROBE
    emb = load(spark, sf_dir, "embeddings")
    data = emb.select("vec_id", "label", _as_double(F.col("embedding")).alias("e")).withColumn(
        "nrm", _norm(F.col("e"))
    )

    # coarse quantizer (r10): the cell vector is the SUM of components
    # quantized to 1e-6 integers, not the float avg. Cosine is invariant
    # to positive scaling, so dropping the 1/n (and the 1e-6 step) leaves
    # the cell geometry intact while making the aggregate EXACT integer
    # arithmetic — order-independent under any shuffle/partial-agg order
    # (the property a 1000-executor cluster needs; a double avg() here was
    # margin-sensitive in probe selection) and bit-reproducible in the
    # DuckDB twin. try_element_at: a zero-dim vector has no i-th component
    # (NULL, skipped by SUM), not an ANSI index error. Magnitudes: |x|≲1,
    # so each term ≲1e6 and a cell of 2e9 vectors stays under 2^53 — the
    # later double cast is exact at any realistic scale.
    dim_cols = [
        F.expr(f"sum(cast(round(try_element_at(e, {i + 1}) * {_IVF_QUANT}) as bigint))").alias(f"c{i}")
        for i in range(EMB_DIM)
    ]
    centroids = data.groupBy("label").agg(*dim_cols).select(
        "label", F.array(*[F.col(f"c{i}").cast("double") for i in range(EMB_DIM)]).alias("c")
    ).withColumn("c_nrm", _norm(F.col("c")))

    q = _queries(spark, sf_dir)
    # probe: nprobe nearest cells per query by centroid cosine
    qc = q.join(F.broadcast(centroids), F.lit(True)).select(
        "q_id", "q_e", "q_nrm", "label",
        (_dot(F.col("q_e"), F.col("c")) / (F.col("q_nrm") * F.col("c_nrm"))).alias("c_sim"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("c_sim").desc(), F.col("label").asc())
    probed = qc.withColumn("rn", F.row_number().over(wq)).where(F.col("rn") <= nprobe).select(
        "q_id", "q_e", "q_nrm", "label"
    )

    scored = (
        data.join(
            F.broadcast(probed),
            (data.label == probed.label) & (F.col("vec_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            "vec_id",
            (_dot(F.col("q_e"), F.col("e")) / (F.col("q_nrm") * F.col("nrm"))).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("q_id", "vec_id", F.col("rn").cast("int").alias("rnk"), F.round("sim", 6).alias("sim"))
    )


_EMBEDDING_QUANTIZE_ORACLE = """
WITH d AS (
  SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS e
  FROM embeddings
),
scaled AS (
  SELECT vec_id, label,
         greatest(list_aggregate([abs(x) FOR x IN e], 'max'), 1e-12) AS max_abs,
         e
  FROM d
),
q AS (
  SELECT vec_id, label, max_abs,
         [CAST(floor(x * (127.0 / max_abs) + 0.5) AS BIGINT) FOR x IN e] AS qe,
         e
  FROM scaled
)
SELECT vec_id, label,
       CAST(floor(max_abs * 1000000 + 0.5) AS BIGINT) AS max_abs_micro,
       CAST(list_aggregate(qe, 'max') AS INTEGER) AS q_max,
       CAST(list_aggregate(qe, 'min') AS INTEGER) AS q_min,
       CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), 
              [abs(e[i] - qe[i] * (max_abs / 127.0)) FOR i IN range(1, len(e) + 1)]),
              (a, b) -> a + b) * 1000000 + 0.5) AS BIGINT) AS recon_err_micro
FROM q
"""


@register("embedding_quantize", "X", oracle=_EMBEDDING_QUANTIZE_ORACLE,
          doc="Int8 vector quantization (symmetric max-abs scaling): per-"
              "vector scale, quantized range check, and L1 reconstruction "
              "error — the compression step an ANN index applies before "
              "storing 100 TB of vectors. floor(x+0.5) quantizer and "
              "micro-int outputs keep both engines bit-identical")
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purely per-row column expressions (transform/aggregate lambdas) — a
    narrow map over the vector table, no shuffle at all; the scan is the
    only cost at scale."""
    emb = load(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = emb.select("vec_id", "label", e.alias("e"))
    max_abs = F.greatest(
        F.array_max(F.transform(F.col("e"), F.abs)), F.lit(1e-12)
    )
    scaled = d.withColumn("max_abs", max_abs)
    qe = F.transform(
        F.col("e"),
        lambda x: F.floor(x * (F.lit(127.0) / F.col("max_abs")) + 0.5).cast("long"),
    )
    q = scaled.withColumn("qe", qe)
    # coalesce: a NULL embedding zips to NULL, but the oracle's
    # list_prepend fold over the NULL range yields the 0.0 seed
    recon_err = F.aggregate(
        F.coalesce(
            F.zip_with(
                F.col("e"),
                F.col("qe"),
                lambda x, qx: F.abs(x - qx * (F.col("max_abs") / F.lit(127.0))),
            ),
            F.array().cast("array<double>"),
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return q.select(
        "vec_id",
        "label",
        F.floor(F.col("max_abs") * 1000000 + 0.5).cast("bigint").alias("max_abs_micro"),
        F.array_max("qe").cast("int").alias("q_max"),
        F.array_min("qe").cast("int").alias("q_min"),
        F.floor(recon_err * 1000000 + 0.5).cast("bigint").alias("recon_err_micro"),
    )


KNN_K = 3  # neighbors per vector in the k-NN graph
KMEANS_K = 8  # fixed deterministic seed centroids: vec_id < KMEANS_K

_KNN_GRAPH_ORACLE = f"""
WITH d AS (
  SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
),
n AS (
  SELECT vec_id, label, e, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN e]), (a, b) -> a + b)) AS nrm FROM d
),
scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [a.e[i] * b.e[i] FOR i IN range(1, len(a.e) + 1)]), (x, y) -> x + y)
           / (a.nrm * b.nrm) AS sim
  FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id
)
SELECT src, dst, CAST(rn AS INTEGER) AS rnk, round(sim, 6) AS sim FROM (
  SELECT src, dst, sim,
         row_number() OVER (PARTITION BY src ORDER BY sim DESC NULLS LAST, dst ASC NULLS FIRST) AS rn
  FROM scored
) WHERE rn <= {KNN_K}
"""


KNN_BLOCK_CAP = 128  # max rows per sub-block; per-task pairs ≤ CAP²


def knn_graph_blocked(d: DataFrame, k: int = KNN_K, cap: int = KNN_BLOCK_CAP) -> DataFrame:
    """Exact within-block k-NN with an ENFORCED per-task size bound.

    ``d`` carries (vec_id, label, e, nrm). A label block of n rows has
    n(n-1) pairs; a naive self-join on label puts ALL of them in one
    task, so one degenerate block holding half the corpus goes quadratic
    in a single task. The bound: per-label counts (one tiny aggregate,
    broadcast back) derive n_sub = ceil(n / cap) sub-blocks; row x gets a
    deterministic sub-block id h(x) = xxhash64(vec_id) mod n_sub, and the
    pair (x, y) is scored in exactly the (label, ga=h(x), gb=h(y)) bucket
    — the left side replicates x across every gb, the right side
    replicates y across every ga, so coverage is exact (each pair lands
    in precisely one bucket) while no bucket ever holds more than ~cap
    rows per side: per-task work ≤ cap² pairs regardless of skew, and a
    skewed corpus gets n_sub² tasks of bounded size instead of one
    unbounded one. Replication cost is n_sub× per side — linear in
    total-pairs/cap, the price of bounding the quadratic. Uniform small
    blocks get n_sub = 1 and the plan degenerates to the plain keyed
    self-join."""
    # three consumers (per-label sizes + both cogroup sides) would
    # otherwise each re-run the scan -> cast-to-double -> norm subtree
    d = scratch.persist(d)
    sizes = d.groupBy("label").agg(
        F.ceil(F.count(F.lit(1)) / cap).cast("int").alias("n_sub")
    )
    d2 = d.join(F.broadcast(sizes), "label")
    sub = F.pmod(F.xxhash64("vec_id"), F.col("n_sub")).cast("int")
    reps = F.explode(F.sequence(F.lit(0), F.col("n_sub") - 1))
    a = d2.select(
        "label", "vec_id", "e", "nrm",
        sub.alias("ga"), reps.alias("gb"),
    )
    b = d2.select(
        F.col("label").alias("b_label"),
        F.col("vec_id").alias("b_vec_id"),
        F.col("e").alias("b_e"),
        F.col("nrm").alias("b_nrm"),
        reps.alias("b_ga"), sub.alias("b_gb"),
    )

    def score_bucket(pa: pd.DataFrame, pb: pd.DataFrame) -> pd.DataFrame:
        # Vectorized refine kernel (the GOOD pandas_udf kind, same tier as
        # _make_signature_udf): one numpy pass per bucket instead of ~cap^2
        # interpreted higher-order-function dot products. The accumulation
        # is a k-ordered loop of vectorized outer products, which replays
        # the EXACT IEEE op sequence of the JVM fold
        # aggregate(zip_with(e, b_e, *), 0.0, +) followed by
        # dot / (nrm * b_nrm) — results are bit-identical to the
        # expression form (and so to the DuckDB oracle's list_reduce).
        if len(pa) == 0 or len(pb) == 0:
            return pd.DataFrame(
                {
                    "src": pd.Series([], dtype="int64"),
                    "dst": pd.Series([], dtype="int64"),
                    "sim": pd.Series([], dtype="float64"),
                }
            )
        A = np.stack(pa["e"].to_numpy()).astype(np.float64)
        B = np.stack(pb["b_e"].to_numpy()).astype(np.float64)
        acc = np.zeros((len(pa), len(pb)), dtype=np.float64)
        for k in range(A.shape[1]):
            acc += np.outer(A[:, k], B[:, k])
        sim = acc / np.outer(
            pa["nrm"].to_numpy(dtype=np.float64),
            pb["b_nrm"].to_numpy(dtype=np.float64),
        )
        src = np.repeat(pa["vec_id"].to_numpy(), len(pb))
        dst = np.tile(pb["b_vec_id"].to_numpy(), len(pa))
        keep = src != dst
        return pd.DataFrame(
            {"src": src[keep], "dst": dst[keep], "sim": sim.ravel()[keep]}
        )

    scored = (
        a.groupBy("label", "ga", "gb")
        .cogroup(b.groupBy("b_label", "b_ga", "b_gb"))
        .applyInPandas(score_bucket, "src long, dst long, sim double")
    )
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("src", "dst", F.col("rn").cast("int").alias("rnk"), F.round("sim", 6).alias("sim"))
    )


@register("sim_knn_graph", "X", oracle=_KNN_GRAPH_ORACLE,
          doc="k-NN graph over embeddings, blocked by label (the coarse ANN "
              "cell): top-3 neighbors per vector within its block, exact "
              "within-cell scoring with a hash-sub-block size bound — the "
              "IVF refine stage run for EVERY vector, which is how "
              "embedding-dedup clusters and curriculum graphs get built")
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs only WITHIN a label block, and within a block only
    inside hash sub-block pairs of ≤ KNN_BLOCK_CAP rows per side (see
    knn_graph_blocked): the per-task quadratic is capped by construction,
    not by hoping the coarse quantizer balanced its cells. At 100 TB the
    label comes from an IVF coarse quantizer; an oversized cell costs
    n_sub² bounded tasks, never one unbounded task (skew pytest:
    tests/test_llm_ops.py::test_knn_graph_bounded_on_skewed_corpus)."""
    emb = load(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("e")
    ).withColumn("nrm", _norm(F.col("e")))
    return knn_graph_blocked(d)


_KMEANS_ASSIGN_ORACLE = f"""
WITH d AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
),
n AS (
  SELECT vec_id, e, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN e]), (a, b) -> a + b)) AS nrm FROM d
),
c AS (SELECT vec_id AS centroid_id, e AS c_e, nrm AS c_nrm FROM n WHERE vec_id < {KMEANS_K}),
scored AS (
  SELECT n.vec_id, c.centroid_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [n.e[i] * c.c_e[i] FOR i IN range(1, len(n.e) + 1)]), (x, y) -> x + y)
           / (n.nrm * c.c_nrm) AS sim
  FROM n, c
),
assigned AS (
  SELECT vec_id, centroid_id, sim FROM (
    SELECT vec_id, centroid_id, sim,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC NULLS LAST, centroid_id ASC NULLS FIRST) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_assigned,
       round(AVG(sim), 6) AS avg_sim
FROM assigned
GROUP BY centroid_id
"""


@register("embedding_kmeans_assign", "X", oracle=_KMEANS_ASSIGN_ORACLE,
          doc="One k-means assignment step: 8 deterministic seed centroids "
              "(vec_id < 8) broadcast against every vector, argmax-cosine "
              "assignment, per-cluster size + mean similarity — the "
              "building block of IVF training and diversity-aware sampling")
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The iterative-algorithm shape on Spark: each iteration is one
    broadcast (k centroids, tiny) × one narrow scan of the vectors + a
    k-row aggregate — no shuffle of the embedding column at all. Chaining
    iterations re-broadcasts the k-row update; 100 TB of vectors never
    moves."""
    emb = load(spark, sf_dir, "embeddings")
    d = emb.select("vec_id", _as_double(F.col("embedding")).alias("e")).withColumn(
        "nrm", _norm(F.col("e"))
    )
    c = (
        d.where(F.col("vec_id") < KMEANS_K)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("e").alias("c_e"),
            F.col("nrm").alias("c_nrm"),
        )
    )
    scored = d.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "centroid_id",
        (_dot(F.col("e"), F.col("c_e")) / (F.col("nrm") * F.col("c_nrm"))).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
    assigned = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.round(F.avg("sim"), 6).alias("avg_sim"),
    )


TRUNCATE_DIM = 8  # retained leading dimensions (matryoshka-style)

_TRUNCATE_FIDELITY_ORACLE = f"""
WITH d AS (
  SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS e
  FROM embeddings
),
n AS (
  SELECT vec_id, label,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN e]), (a, b) -> a + b)) AS full_norm,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN e[1:{TRUNCATE_DIM}]]), (a, b) -> a + b)) AS trunc_norm
  FROM d
)
SELECT vec_id, label,
       CAST(round(1000000 * trunc_norm / full_norm) AS BIGINT) AS fidelity_micro
FROM n
"""


@register("embedding_truncate_fidelity", "X", oracle=_TRUNCATE_FIDELITY_ORACLE,
          doc="Matryoshka-style truncation fidelity: cosine between each "
              "embedding and its first-8-dims truncation reduces to "
              "|trunc|/|full| — the per-vector audit run before committing "
              "to a cheaper ANN index dimension")
def embedding_truncate_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cos(full, zero-padded truncation) = Σ_{{i≤k}} x_i² / (|full|·|trunc|)
    = |trunc|/|full| — so the audit is two array folds per row, no pairs,
    no shuffle beyond the scan. Fold order is ascending-index on both
    engines, making the doubles bit-identical before the micro-int round
    (same contract as dedup_embedding)."""
    emb = load(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq_sum = lambda arr: F.aggregate(  # noqa: E731
        F.transform(arr, lambda x: x * x), F.lit(0.0), lambda a, b: a + b
    )
    d = emb.select("vec_id", "label", as_double.alias("e"))
    n = d.select(
        "vec_id",
        "label",
        F.sqrt(sq_sum(F.col("e"))).alias("full_norm"),
        F.sqrt(sq_sum(F.slice(F.col("e"), 1, TRUNCATE_DIM))).alias("trunc_norm"),
    )
    return n.select(
        "vec_id",
        "label",
        # try_divide: a zero-norm vector has no fidelity ratio
        F.round(F.try_divide(1000000 * F.col("trunc_norm"), F.col("full_norm")))
        .cast("bigint")
        .alias("fidelity_micro"),
    )


PQ_SUBSPACES = 2       # split the 64-dim vector into two 32-dim halves
PQ_CENTROIDS = 4       # deterministic codebook: vec_id 0..3's halves
PQ_HALF = 32

_PQ_ORACLE = f"""
WITH d AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
),
halves AS (
  SELECT vec_id, 1 AS half, e[1:{PQ_HALF}] AS h FROM d
  UNION ALL
  SELECT vec_id, 2 AS half, e[{PQ_HALF + 1}:{2 * PQ_HALF}] AS h FROM d
),
cents AS (
  SELECT vec_id AS cid, half, h AS c FROM halves WHERE vec_id < {PQ_CENTROIDS}
),
dists AS (
  SELECT v.vec_id, v.half, c.cid,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, {PQ_HALF} + 1),
                                    i -> (v.h[i] - c.c[i]) * (v.h[i] - c.c[i]))),
                     (a, b) -> a + b) AS dist
  FROM halves v JOIN cents c ON c.half = v.half
),
best AS (
  SELECT vec_id, half, cid,
         row_number() OVER (PARTITION BY vec_id, half ORDER BY dist NULLS FIRST, cid) AS rn
  FROM dists
)
SELECT c1.cid AS code1, c2.cid AS code2, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM (SELECT vec_id, cid FROM best WHERE half = 1 AND rn = 1) c1
JOIN (SELECT vec_id, cid FROM best WHERE half = 2 AND rn = 1) c2 USING (vec_id)
GROUP BY c1.cid, c2.cid
"""


@register("embedding_pq_codes", "X", oracle=_PQ_ORACLE,
          doc="Product quantization: 64-dim vectors split into two 32-dim "
              "subspaces, each assigned to its nearest of 4 deterministic "
              "codebook centroids (L2, ascending-index fold) — cell "
              "occupancy counts per (code1, code2). The third ANN "
              "primitive beside hyperplane LSH and IVF cells")
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ's scale contract: the codebook is tiny and broadcasts (here 4
    centroids per subspace; production uses 256 → one byte per
    subspace), so encoding is a single map-side pass over the vectors —
    no shuffle until the final occupancy count. Distances are
    ascending-index double folds, bit-identical cross-engine, and the
    argmin tiebreak orders by (dist, cid) so assignment is total."""
    emb = load(spark, sf_dir, "embeddings")
    codes = _pq_codes(emb)
    return codes.groupBy("code1", "code2").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )


def _pq_halves(emb: DataFrame) -> DataFrame:
    """embeddings → (vec_id, half, h): the two 32-dim subvectors per row."""
    d = emb.select("vec_id", _as_double(F.col("embedding")).alias("e"))
    return d.select(
        "vec_id", F.lit(1).alias("half"), F.slice("e", 1, PQ_HALF).alias("h")
    ).unionAll(
        d.select(
            "vec_id", F.lit(2).alias("half"),
            F.slice("e", PQ_HALF + 1, PQ_HALF).alias("h"),
        )
    )


def _pq_sqdist(h_col, c_col):
    """Squared L2 between two subvectors — ascending-index double fold,
    bit-identical to the oracles' list_reduce."""
    return F.aggregate(
        F.zip_with(h_col, c_col, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, b: a + b,
    )


def _pq_codes(emb: DataFrame) -> DataFrame:
    """embeddings → (vec_id, code1, code2): nearest-centroid assignment per
    subspace against the deterministic codebook (halves of vec_id <
    PQ_CENTROIDS), tiebreak (dist asc, cid asc). Shared by the occupancy
    report (embedding_pq_codes) and the ADC search (sim_topk_pq)."""
    halves = _pq_halves(emb)
    cents = halves.where(F.col("vec_id") < PQ_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("half").alias("c_half"), F.col("h").alias("c")
    )
    dists = halves.join(
        F.broadcast(cents), F.col("half") == F.col("c_half")
    ).select("vec_id", "half", "cid", _pq_sqdist(F.col("h"), F.col("c")).alias("dist"))
    # argmin as min(struct(dist, cid)) — lexicographic struct ordering IS the
    # (dist asc, cid asc) tiebreak, and unlike a row_number window it is a
    # partial+final aggregate: each task emits one candidate per (vec_id,
    # half), so no per-key sort and no skew exposure on the window shuffle
    best = (
        dists.groupBy("vec_id", "half")
        .agg(F.min(F.struct("dist", "cid")).alias("m"))
        .select("vec_id", "half", F.col("m.cid").alias("cid"))
    )
    c1 = best.where(F.col("half") == 1).select("vec_id", F.col("cid").alias("code1"))
    c2 = best.where(F.col("half") == 2).select("vec_id", F.col("cid").alias("code2"))
    return c1.join(c2, "vec_id")


_SIM_TOPK_PQ_ORACLE = f"""
WITH d AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
),
halves AS (
  SELECT vec_id, 1 AS half, e[1:{PQ_HALF}] AS h FROM d
  UNION ALL
  SELECT vec_id, 2 AS half, e[{PQ_HALF + 1}:{2 * PQ_HALF}] AS h FROM d
),
cents AS (
  SELECT vec_id AS cid, half, h AS c FROM halves WHERE vec_id < {PQ_CENTROIDS}
),
dists AS (
  SELECT v.vec_id, v.half, c.cid,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, {PQ_HALF} + 1),
                                    i -> (v.h[i] - c.c[i]) * (v.h[i] - c.c[i]))),
                     (a, b) -> a + b) AS dist
  FROM halves v JOIN cents c ON c.half = v.half
),
best AS (
  SELECT vec_id, half, cid, dist,
         row_number() OVER (PARTITION BY vec_id, half ORDER BY dist NULLS FIRST, cid) AS rn
  FROM dists
),
codes AS (
  SELECT c1.vec_id, c1.cid AS code1, c2.cid AS code2
  FROM (SELECT vec_id, cid FROM best WHERE half = 1 AND rn = 1) c1
  JOIN (SELECT vec_id, cid FROM best WHERE half = 2 AND rn = 1) c2 USING (vec_id)
),
lut AS (
  SELECT d.vec_id AS q_id, d.half, d.cid, d.dist
  FROM dists d WHERE d.vec_id % {QUERY_STRIDE} = 0
),
scored AS (
  SELECT l1.q_id, v.vec_id, l1.dist + l2.dist AS adist
  FROM codes v
  JOIN lut l1 ON l1.half = 1 AND l1.cid = v.code1
  JOIN lut l2 ON l2.half = 2 AND l2.cid = v.code2 AND l2.q_id = l1.q_id
  WHERE v.vec_id <> l1.q_id
)
SELECT q_id, vec_id, CAST(rn AS INTEGER) AS rnk, round(adist, 6) AS adist FROM (
  SELECT q_id, vec_id, adist,
         row_number() OVER (PARTITION BY q_id ORDER BY adist ASC NULLS FIRST, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= {TOP_K}
"""


@register("sim_topk_pq", "X", oracle=_SIM_TOPK_PQ_ORACLE,
          doc="PQ asymmetric-distance (ADC) top-k: database vectors reduced "
              "to (code1, code2), per-query distance = LUT[code1] + "
              "LUT[code2] from a broadcast query×centroid lookup table — "
              "the memory-resident search mode of a PQ index, completing "
              "the ANN triple (LSH buckets, IVF cells, PQ codes)")
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC's scale contract, stated with the plan: the per-query lookup
    table is |queries| × SUBSPACES × CENTROIDS rows (here 5×2×4; 256-
    centroid production codebooks are still KBs per query) → broadcast;
    scoring the full corpus is then ONE map-side pass over the tiny
    codes table (two ints per vector — this is why PQ exists: the
    float vectors never leave disk), followed by a per-query window
    top-k. Approximation error vs exact cosine is sim_topk's to
    measure; the parity oracle here pins the ADC arithmetic itself."""
    emb = load(spark, sf_dir, "embeddings")
    codes = _pq_codes(emb)

    # query-side LUT: distance from each query half to each centroid
    halves = _pq_halves(emb)
    cents = halves.where(F.col("vec_id") < PQ_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("half").alias("c_half"), F.col("h").alias("c")
    )
    lut = (
        halves.where(F.col("vec_id") % QUERY_STRIDE == 0)
        .join(F.broadcast(cents), F.col("half") == F.col("c_half"))
        .select(
            F.col("vec_id").alias("q_id"), "half", "cid",
            _pq_sqdist(F.col("h"), F.col("c")).alias("dist"),
        )
    )
    l1 = lut.where(F.col("half") == 1).select("q_id", F.col("cid").alias("cid1"), F.col("dist").alias("d1"))
    l2 = lut.where(F.col("half") == 2).select(F.col("q_id").alias("q_id2"), F.col("cid").alias("cid2"), F.col("dist").alias("d2"))
    scored = (
        codes.join(F.broadcast(l1), F.col("code1") == F.col("cid1"))
        .join(
            F.broadcast(l2),
            (F.col("code2") == F.col("cid2")) & (F.col("q_id") == F.col("q_id2")),
        )
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", (F.col("d1") + F.col("d2")).alias("adist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adist").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("q_id", "vec_id", F.col("rn").cast("int").alias("rnk"), F.round("adist", 6).alias("adist"))
    )


_CENTROID_UPDATE_ORACLE = f"""
WITH d AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
),
n AS (
  SELECT vec_id, e, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN e]), (a, b) -> a + b)) AS nrm FROM d
),
c AS (SELECT vec_id AS centroid_id, e AS c_e, nrm AS c_nrm FROM n WHERE vec_id < {KMEANS_K}),
scored AS (
  SELECT n.vec_id, n.e, c.centroid_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [n.e[i] * c.c_e[i] FOR i IN range(1, len(n.e) + 1)]), (x, y) -> x + y)
           / (n.nrm * c.c_nrm) AS sim
  FROM n, c
),
assigned AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT vec_id, e, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC NULLS LAST, centroid_id ASC NULLS FIRST) AS rn
    FROM scored
  ) WHERE rn = 1
),
elems AS (
  SELECT centroid_id,
         unnest([{{'pos': i - 1, 'v': e[i]}} FOR i IN range(1, len(e) + 1)],
                recursive := true)
  FROM assigned
)
SELECT centroid_id, pos,
       round(AVG(v), 6) AS c_val,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM elems
GROUP BY centroid_id, pos
"""


@register("embedding_centroid_update", "X", oracle=_CENTROID_UPDATE_ORACLE,
          doc="Full k-means Lloyd iteration: argmax-cosine assignment to "
              "the 8 deterministic seed centroids, then element-wise mean "
              "recompute of every centroid — emitted exploded as "
              "(centroid, dimension, value) so the next iteration's "
              "broadcast table is exactly this output")
def embedding_centroid_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the iterative-k-means story started by
    embedding_kmeans_assign: assignment is broadcast × narrow scan (the
    vectors never shuffle), and the recompute explodes to dim rows per
    vector then collapses through a map-side partial average keyed on
    (centroid, pos) — k × dim result rows regardless of corpus size, so
    chained iterations move only the centroid table."""
    emb = load(spark, sf_dir, "embeddings")
    d = emb.select("vec_id", _as_double(F.col("embedding")).alias("e")).withColumn(
        "nrm", _norm(F.col("e"))
    )
    c = d.where(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("c_e"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = d.crossJoin(F.broadcast(c)).select(
        "vec_id", "e", "centroid_id",
        (_dot(F.col("e"), F.col("c_e")) / (F.col("nrm") * F.col("c_nrm"))).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
    assigned = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    elems = assigned.select(
        "centroid_id", F.posexplode("e").alias("pos", "v")
    )
    return elems.groupBy("centroid_id", "pos").agg(
        F.round(F.avg("v"), 6).alias("c_val"),
        F.count(F.lit(1)).alias("n_members"),
    )


_EMBEDDING_OUTLIERS_ORACLE = f"""
WITH d AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
),
n AS (
  SELECT vec_id, e, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN e]), (a, b) -> a + b)) AS nrm FROM d
),
c AS (SELECT vec_id AS centroid_id, e AS c_e, nrm AS c_nrm FROM n WHERE vec_id < {KMEANS_K}),
scored AS (
  SELECT n.vec_id, c.centroid_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [n.e[i] * c.c_e[i] FOR i IN range(1, len(n.e) + 1)]), (x, y) -> x + y)
           / (n.nrm * c.c_nrm) AS sim
  FROM n, c
),
assigned AS (
  SELECT vec_id, centroid_id, round(sim, 9) AS sim FROM (
    SELECT vec_id, centroid_id, sim,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC NULLS LAST, centroid_id ASC NULLS FIRST) AS rn
    FROM scored
  ) WHERE rn = 1
),
stats AS (
  SELECT centroid_id, AVG(sim) AS mu, stddev_samp(sim) AS sigma
  FROM assigned GROUP BY centroid_id
)
SELECT a.centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(COUNT(*) FILTER (WHERE a.sim < s.mu - 2 * s.sigma) AS BIGINT) AS n_outliers,
       round(MIN(a.sim), 6) AS min_sim,
       round(AVG(a.sim), 6) AS avg_sim
FROM assigned a JOIN stats s ON a.centroid_id = s.centroid_id
GROUP BY a.centroid_id
"""


@register("embedding_outliers", "X", oracle=_EMBEDDING_OUTLIERS_ORACLE,
          doc="Embedding-space junk detection: vectors assigned to their "
              "nearest seed centroid, then flagged when cosine similarity "
              "falls 2σ below the cluster mean — the screen that catches "
              "corrupt or off-distribution embeddings before training")
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same broadcast-assignment skeleton as embedding_kmeans_assign (the
    vectors never shuffle); the outlier pass adds one k-row stats
    aggregate broadcast back over the assignments. Similarities are
    9dp-rounded before the 2σ comparison so the threshold test is
    bit-stable cross-engine."""
    emb = load(spark, sf_dir, "embeddings")
    d = emb.select("vec_id", _as_double(F.col("embedding")).alias("e")).withColumn(
        "nrm", _norm(F.col("e"))
    )
    c = d.where(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("c_e"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = d.crossJoin(F.broadcast(c)).select(
        "vec_id", "centroid_id",
        (_dot(F.col("e"), F.col("c_e")) / (F.col("nrm") * F.col("c_nrm"))).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "centroid_id", F.round("sim", 9).alias("sim"))
    )
    stats = assigned.groupBy("centroid_id").agg(
        F.avg("sim").alias("mu"), F.stddev_samp("sim").alias("sigma")
    )
    return (
        assigned.join(F.broadcast(stats), "centroid_id")
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count(
                F.when(F.col("sim") < F.col("mu") - 2 * F.col("sigma"), 1)
            ).alias("n_outliers"),
            F.round(F.min("sim"), 6).alias("min_sim"),
            F.round(F.avg("sim"), 6).alias("avg_sim"),
        )
    )


_DIM_STATS_ORACLE = """
WITH flat AS (
  SELECT u.i - 1 AS dim, CAST(u.v AS DOUBLE) AS v
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS v,
                       unnest(range(1, len(embedding) + 1)) AS i) u
)
SELECT dim,
       round(AVG(v), 4) + 0.0 AS mean,
       round(stddev_samp(v), 4) AS std,
       round(MIN(v), 6) AS min_v,
       round(MAX(v), 6) AS max_v,
       CAST(SUM(CASE WHEN v = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
FROM flat GROUP BY dim
ORDER BY dim
"""


@register("embedding_dim_stats", "X", oracle=_DIM_STATS_ORACLE,
          doc="Per-dimension embedding health stats: mean/std/min/max and "
              "zero counts for each of the 64 dimensions — the dead-dim "
              "and scale-drift screen run before any index build")
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode fans each vector into (dim, value) rows — 64 rows per
    vector — then one map-side-combined groupBy on dim reduces to 64
    output rows however large the corpus; no window, no collect. The
    float32 values are exact as doubles, so only the summed stats need
    the cross-engine round."""
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim", F.col("v").cast("double").alias("v")
    )
    return (
        flat.groupBy("dim")
        .agg(
            # + 0.0 after the round (SKILL gotcha list): a near-zero mean
            # rounds to -0.0 in DuckDB but +0.0 through Spark's BigDecimal
            # path — hit live at sf0.1 on dims 9 and 24 (PARITY_r9)
            (F.round(F.avg("v"), 4) + F.lit(0.0)).alias("mean"),
            F.round(F.stddev_samp("v"), 4).alias("std"),
            F.round(F.min("v"), 6).alias("min_v"),
            F.round(F.max("v"), 6).alias("max_v"),
            F.sum(F.when(F.col("v") == 0.0, 1).otherwise(0)).cast("long").alias("n_zero"),
        )
        .orderBy("dim")
    )


# Hash-sampled subset size for the pairwise-distance audit; the
# all-pairs stage is DIST_SAMPLE²/2 rows by construction, never
# corpus-quadratic.
DIST_SAMPLE_MOD = 5  # keep vec_id % 5 == 0 → ~20% of vectors

_DIST_HIST_ORACLE = f"""
WITH s AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % {DIST_SAMPLE_MOD} = 0
),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]))
         / (sqrt(list_sum(list_transform(a.embedding,
                  x -> CAST(x AS DOUBLE) * x)))
            * sqrt(list_sum(list_transform(b.embedding,
                  x -> CAST(x AS DOUBLE) * x)))) AS cos_sim
  FROM s a JOIN s b ON a.vec_id < b.vec_id
)
SELECT CAST(floor((cos_sim + 1) * 10) AS BIGINT) AS sim_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(MIN(cos_sim), 6) AS lo,
       round(MAX(cos_sim), 6) AS hi
FROM pairs GROUP BY 1 ORDER BY sim_bucket
"""


@register("embedding_distance_histogram", "X", oracle=_DIST_HIST_ORACLE,
          doc="Pairwise cosine-similarity histogram over a deterministic "
              "~20% hash sample (0.1-wide buckets on [-1,1]) — the "
              "embedding-collapse screen: a healthy space is spread, a "
              "collapsed one piles into the top buckets")
def embedding_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The all-pairs stage runs on the HASH SAMPLE only (documented
    bounded-quadratic, like dedup_embedding's verify stage) — the audit
    needs the distribution's shape, not every pair. Dot products are
    JVM-side zip_with/aggregate folds in signature order, IEEE-identical
    to the oracle's list folds before the single rounding. Norms are
    precomputed ONCE per row before the pair join (a row property, so
    bit-identical to the oracle's per-pair recomputation) — folding them
    inside the pair select would triple the per-pair array work."""
    def _row_norm(col):
        return F.sqrt(
            F.aggregate(
                F.transform(col, lambda x: x.cast("double") * x),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )

    emb = load(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % DIST_SAMPLE_MOD == 0
    )
    a = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("ea"),
        _row_norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("eb"),
        _row_norm(F.col("embedding")).alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select((dot / (F.col("na") * F.col("nb"))).alias("cos_sim"))
    )
    return (
        pairs.groupBy(
            F.floor((F.col("cos_sim") + 1) * 10).cast("long").alias("sim_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.min("cos_sim"), 6).alias("lo"),
            F.round(F.max("cos_sim"), 6).alias("hi"),
        )
        .orderBy("sim_bucket")
    )


_COVARIANCE_ORACLE = f"""
WITH d AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
),
el AS (
  SELECT vec_id, unnest(range(1, {EMB_DIM} + 1)) AS i, unnest(e) AS v FROM d
),
g AS (
  SELECT a.i AS i, b.i AS j, SUM(a.v * b.v) AS sxy
  FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
),
s AS (SELECT i, SUM(v) AS sv FROM el GROUP BY i),
n AS (SELECT COUNT(*) AS n FROM d)
SELECT CAST(g.i AS INTEGER) AS dim_i, CAST(g.j AS INTEGER) AS dim_j,
       round((g.sxy - sa.sv * sb.sv / n.n) / (n.n - 1), 6) + 0.0 AS cov
FROM g
CROSS JOIN n
JOIN s sa ON sa.i = g.i
JOIN s sb ON sb.i = g.j
"""


@register("embedding_covariance", "X", oracle=_COVARIANCE_ORACLE,
          doc=f"Full {EMB_DIM}×{EMB_DIM} covariance matrix (upper triangle) "
              "of the embedding corpus via per-batch numpy Gram partials "
              "(mapInPandas X^T X) merged by a tiny (i,j)-keyed aggregate — "
              "the PCA/whitening precursor, computed as distributed linear "
              "algebra rather than a row explosion")
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-correct formulation of corpus covariance: each Arrow
    batch collapses to ONE d(d+1)/2-row partial Gram inside numpy (BLAS
    syrk, zero Python-loop rows), so the shuffle carries
    #batches × 2080 rows regardless of corpus size — vs the naive
    posexplode-pair formulation whose shuffle is n × d² rows (a 4096×
    amplification at d=64 that is gone here). Dimension sums (for mean
    centering) ride a cheap posexplode since they are n × d rows with a
    64-key aggregate. Double-precision throughout; the 1e-6 rounding
    absorbs BLAS-vs-sequential summation-order ulps."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    d = emb.select(_as_double(F.col("embedding")).alias("e"))

    def gram_partials(batches):
        for pdf in batches:
            rows = [v for v in pdf["e"] if v is not None and len(v) == EMB_DIM]
            if not rows:
                continue
            X = np.asarray(rows, dtype=np.float64)
            G = X.T @ X
            iu = np.triu_indices(EMB_DIM)
            yield pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype("int32"),
                    "j": (iu[1] + 1).astype("int32"),
                    "sxy": G[iu],
                }
            )

    gram = (
        d.mapInPandas(gram_partials, "i int, j int, sxy double")
        .groupBy("i", "j")
        .agg(F.sum("sxy").alias("sxy"))
    )
    el = d.select(F.posexplode("e").alias("pos", "v")).select(
        (F.col("pos") + 1).cast("int").alias("i"), "v"
    )
    s = el.groupBy("i").agg(F.sum("v").alias("sv"))
    n = emb.agg(F.count(F.lit(1)).alias("n"))
    sa = s.select(F.col("i").alias("ia"), F.col("sv").alias("sva"))
    sb = s.select(F.col("i").alias("ib"), F.col("sv").alias("svb"))
    return (
        gram.crossJoin(F.broadcast(n))
        .join(F.broadcast(sa), F.col("i") == F.col("ia"))
        .join(F.broadcast(sb), F.col("j") == F.col("ib"))
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            # + 0.0 canonicalizes IEEE negative zero (a tiny negative
            # covariance rounds to -0.0, which string-compares unequal to
            # the other engine's 0.0)
            (
                # try_divide: a single-vector corpus has n - 1 = 0 — the
                # sample covariance is undefined (NULL), DuckDB's x/0
                F.round(
                    F.try_divide(
                        F.col("sxy")
                        - F.try_divide(F.col("sva") * F.col("svb"), F.col("n")),
                        F.col("n") - 1,
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def _ann_eval_method_sql(method: str, top_cte: str) -> str:
    ne = "(SELECT COUNT(*) FROM exact_top)"
    nh = (f"(SELECT COUNT(*) FROM {top_cte} t JOIN exact_top e "
          f"ON t.q_id = e.q_id AND t.vec_id = e.vec_id)")
    return (
        f"SELECT '{method}' AS method, CAST({ne} AS BIGINT) AS n_exact, "
        f"CAST({nh} AS BIGINT) AS n_hits, "
        f"CAST(CASE WHEN {ne} = 0 THEN 1000000 ELSE (1000000 * {nh}) // {ne} END AS BIGINT) AS recall_micro"
    )


# One mega-oracle composing all four search paths' SQL twins (exact, LSH,
# IVF, PQ — each textually mirroring its standalone oracle with prefixed
# CTE names) and comparing top-k pair sets — possible since r10 because
# LSH and IVF gained exact twins.
_SIM_ANN_EVAL_ORACLE = f"""
WITH d AS (
  SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
),
n AS (
  SELECT vec_id, label, e,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN e]), (a, b) -> a + b)) AS nrm
  FROM d
),
q AS (SELECT vec_id AS q_id, e AS q_e, nrm AS q_nrm FROM n WHERE vec_id % {QUERY_STRIDE} = 0),
ex_scored AS (
  SELECT q.q_id, n.vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [q.q_e[i] * n.e[i] FOR i IN range(1, len(n.e) + 1)]), (x, y) -> x + y)
           / (q.q_nrm * n.nrm) AS sim
  FROM q, n WHERE n.vec_id <> q.q_id
),
exact_top AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC NULLS LAST, vec_id ASC) AS rn
    FROM ex_scored
  ) WHERE rn <= {TOP_K}
),{_LSH_SIG_CTES},
lsh_scored AS (
  SELECT c.q_id, c.vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [a.e[i] * v.e[i] FOR i IN range(1, len(v.e) + 1)]), (x, y) -> x + y)
           / (a.nrm * v.nrm) AS sim
  FROM lsh_cand c JOIN n a ON a.vec_id = c.q_id JOIN n v ON v.vec_id = c.vec_id
),
lsh_top AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC NULLS LAST, vec_id ASC) AS rn
    FROM lsh_scored
  ) WHERE rn <= {TOP_K}
),
cent0 AS (
  SELECT label,
         {", ".join(f"SUM(CAST(round(e[{i + 1}] * {_IVF_QUANT}) AS BIGINT)) AS c{i}" for i in range(EMB_DIM))}
  FROM n GROUP BY label
),
centn AS (
  SELECT label, c,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN c]), (a, b) -> a + b)) AS c_nrm
  FROM (SELECT label, [{", ".join(f"CAST(c{i} AS DOUBLE)" for i in range(EMB_DIM))}] AS c FROM cent0)
),
qc AS (
  SELECT q.q_id, q.q_e, q.q_nrm, cn.label,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [q.q_e[i] * cn.c[i] FOR i IN range(1, len(cn.c) + 1)]), (x, y) -> x + y)
           / (q.q_nrm * cn.c_nrm) AS c_sim
  FROM q, centn cn
),
probed AS (
  SELECT q_id, q_e, q_nrm, label FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY c_sim DESC NULLS LAST, label ASC NULLS FIRST) AS rn FROM qc
  ) WHERE rn <= {IVF_NPROBE}
),
ivf_scored AS (
  SELECT p.q_id, n.vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [p.q_e[i] * n.e[i] FOR i IN range(1, len(n.e) + 1)]), (x, y) -> x + y)
           / (p.q_nrm * n.nrm) AS sim
  FROM probed p JOIN n ON n.label = p.label AND n.vec_id <> p.q_id
),
ivf_top AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC NULLS LAST, vec_id ASC) AS rn
    FROM ivf_scored
  ) WHERE rn <= {TOP_K}
),
halves AS (
  SELECT vec_id, 1 AS half, e[1:{PQ_HALF}] AS h FROM d
  UNION ALL
  SELECT vec_id, 2 AS half, e[{PQ_HALF + 1}:{2 * PQ_HALF}] AS h FROM d
),
pq_cents AS (
  SELECT vec_id AS cid, half, h AS c FROM halves WHERE vec_id < {PQ_CENTROIDS}
),
pq_dists AS (
  SELECT v.vec_id, v.half, c.cid,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, {PQ_HALF} + 1),
                                    i -> (v.h[i] - c.c[i]) * (v.h[i] - c.c[i]))),
                     (a, b) -> a + b) AS dist
  FROM halves v JOIN pq_cents c ON c.half = v.half
),
pq_best AS (
  SELECT vec_id, half, cid, dist,
         row_number() OVER (PARTITION BY vec_id, half ORDER BY dist NULLS FIRST, cid) AS rn
  FROM pq_dists
),
pq_codes AS (
  SELECT c1.vec_id, c1.cid AS code1, c2.cid AS code2
  FROM (SELECT vec_id, cid FROM pq_best WHERE half = 1 AND rn = 1) c1
  JOIN (SELECT vec_id, cid FROM pq_best WHERE half = 2 AND rn = 1) c2 USING (vec_id)
),
pq_lut AS (
  SELECT pd.vec_id AS q_id, pd.half, pd.cid, pd.dist
  FROM pq_dists pd WHERE pd.vec_id % {QUERY_STRIDE} = 0
),
pq_scored AS (
  SELECT l1.q_id, v.vec_id, l1.dist + l2.dist AS adist
  FROM pq_codes v
  JOIN pq_lut l1 ON l1.half = 1 AND l1.cid = v.code1
  JOIN pq_lut l2 ON l2.half = 2 AND l2.cid = v.code2 AND l2.q_id = l1.q_id
  WHERE v.vec_id <> l1.q_id
),
pq_top AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY adist ASC NULLS FIRST, vec_id ASC) AS rn
    FROM pq_scored
  ) WHERE rn <= {TOP_K}
)
{_ann_eval_method_sql("sim_topk", "exact_top")}
UNION ALL {_ann_eval_method_sql("sim_topk_lsh", "lsh_top")}
UNION ALL {_ann_eval_method_sql("sim_topk_ivf", "ivf_top")}
UNION ALL {_ann_eval_method_sql("sim_topk_pq", "pq_top")}
"""


@register("sim_ann_eval", "X", oracle=_SIM_ANN_EVAL_ORACLE, bench=False,
          doc="ANN quality report: recall@5 of the LSH, IVF, and PQ-ADC "
              "search paths against exact brute-force cosine top-k, as "
              "micro-ints per method — the tuning feedback loop for the "
              "ANN family (dedup_lsh_eval's counterpart for similarity "
              "search). Exact-oracle since r10 (all four paths have SQL "
              "twins)")
def sim_ann_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How an ANN index's knobs (tables×bits, nprobe, codebook size) get
    validated before a corpus-wide run: measure recall on the query
    sample against the exact baseline. Each method's top-k is |q|×k
    rows, so the set comparisons are tiny joins on (q_id, vec_id);
    exact's own recall is emitted as the 1.0 control row."""
    from toy_map_reduce_spark.registry import get_spec

    exact = scratch.persist(
        get_spec("sim_topk").builder(spark, sf_dir).select("q_id", "vec_id")
    )
    n_exact = exact.count()
    rows = []
    for method in ("sim_topk", "sim_topk_lsh", "sim_topk_ivf", "sim_topk_pq"):
        got = get_spec(method).builder(spark, sf_dir).select("q_id", "vec_id")
        n_hit = got.join(exact, ["q_id", "vec_id"], "inner").count()
        rows.append(
            (method, n_exact, n_hit,
             (1_000_000 * n_hit) // n_exact if n_exact else 1_000_000)
        )
    scratch.release(exact)
    return spark.createDataFrame(
        rows, "method string, n_exact long, n_hits long, recall_micro long"
    )


_SEMANTIC_KEEP_ORACLE = f"""
WITH d AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
),
n AS (
  SELECT vec_id, e, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN e]), (a, b) -> a + b)) AS nrm FROM d
),
c AS (SELECT vec_id AS centroid_id, e AS c_e, nrm AS c_nrm FROM n WHERE vec_id < {KMEANS_K}),
scored AS (
  SELECT n.vec_id, c.centroid_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [n.e[i] * c.c_e[i] FOR i IN range(1, len(n.e) + 1)]), (x, y) -> x + y)
           / (n.nrm * c.c_nrm) AS sim
  FROM n, c
),
assigned AS (
  SELECT vec_id, centroid_id, sim FROM (
    SELECT vec_id, centroid_id, sim,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC NULLS LAST, centroid_id ASC NULLS FIRST) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(arg_max(vec_id, sim) AS BIGINT) AS keep_vec_id,
       round(MAX(sim), 6) AS keep_sim,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_pruned
FROM assigned GROUP BY centroid_id
"""


@register("dedup_semantic_keep", "X", oracle=_SEMANTIC_KEEP_ORACLE,
          doc="Semantic dedup (the SemDeDup shape): vectors clustered to "
              "the deterministic centroids, ONE representative kept per "
              "cell (closest to its centroid), the rest pruned — the "
              "embedding-space analogue of dedup_keep_longest's keep "
              "decision; per-cell keep id, similarity, and prune count")
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup removes REDUNDANT-not-identical content: cluster in
    embedding space, keep the most central member per cell. The plan is
    the k-means assignment (broadcast centroids, one scan, min-struct
    argmax per vector) plus a per-cell arg_max — two partial-aggregated
    reductions, no pairwise anything. Production varies the cell count
    to tune the prune rate; the argmax tiebreak (sim, then vec_id via
    the unique sim values of the fixture) keeps the driver hash stable.
    Note the keep rule's tie behavior: arg_max on sim alone suffices
    because a vector's self-similarity 1.0 makes each seed centroid its
    own cell's keeper — the general rule would tiebreak on vec_id."""
    emb = load(spark, sf_dir, "embeddings")
    d = emb.select("vec_id", _as_double(F.col("embedding")).alias("e")).withColumn(
        "nrm", _norm(F.col("e"))
    )
    c = d.where(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("c_e"),
        F.col("nrm").alias("c_nrm"),
    )
    sim = _dot(F.col("e"), F.col("c_e")) / (F.col("nrm") * F.col("c_nrm"))
    scored = d.crossJoin(F.broadcast(c)).select("vec_id", "centroid_id", sim.alias("sim"))
    assigned = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct((-F.col("sim")).alias("neg"), F.col("centroid_id").alias("centroid_id"), F.col("sim").alias("sim"))).alias("m"))
        .select("vec_id", F.col("m.centroid_id").alias("centroid_id"), F.col("m.sim").alias("sim"))
    )
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max_by("vec_id", "sim").cast("long").alias("keep_vec_id"),
        F.round(F.max("sim"), 6).alias("keep_sim"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_pruned"),
    )


_QUANTIZE_ERROR_ORACLE = """
WITH d AS (
  SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS e
  FROM embeddings
),
q AS (
  SELECT vec_id, label, e,
         [x * (greatest(list_aggregate([abs(y) FOR y IN e], 'max'), 1e-12) / 127.0)
          FOR x IN [CAST(floor(z * (127.0 / greatest(list_aggregate([abs(y) FOR y IN e], 'max'), 1e-12)) + 0.5) AS BIGINT)
                    FOR z IN e]] AS de
  FROM d
),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [a.e[i] * b.e[i] FOR i IN range(1, len(a.e) + 1)]), (x, y) -> x + y)
           / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN a.e]), (x, y) -> x + y))
              * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN b.e]), (x, y) -> x + y))) AS cos_full,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [a.de[i] * b.de[i] FOR i IN range(1, len(a.de) + 1)]), (x, y) -> x + y)
           / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN a.de]), (x, y) -> x + y))
              * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN b.de]), (x, y) -> x + y))) AS cos_q
  FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(floor(AVG(abs(cos_full - cos_q)) * 1000000 + 0.5) AS BIGINT)
         AS mean_abs_err_micro,
       CAST(floor(MAX(abs(cos_full - cos_q)) * 1000000 + 0.5) AS BIGINT)
         AS max_abs_err_micro
FROM pairs
"""


@register("embedding_quantize_error", "X", oracle=_QUANTIZE_ERROR_ORACLE,
          bench=False,
          doc="Int8 quantization fidelity on the SIMILARITY metric itself: "
              "label-blocked pair cosines computed at full precision and "
              "on dequantized int8 vectors, mean/max absolute error in "
              "micro units — the acceptance test before shipping a "
              "quantized index (embedding_quantize reports per-vector "
              "reconstruction; this reports what search actually feels)")
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction error understates what matters: search ranks by
    pairwise similarity, so the acceptance metric is the cosine delta
    distribution over candidate pairs. Pairs are label-blocked (the
    same bounded-quadratic contract as dedup_embedding, bench=False);
    quantize/dequantize is the exact floor(x·127/s + 0.5) rule the
    embedding_quantize oracle pins, so the two reports stay in
    lock-step."""
    emb = load(spark, sf_dir, "embeddings")
    e = _as_double(F.col("embedding"))
    max_abs = F.greatest(
        F.array_max(F.transform(e, lambda x: F.abs(x))), F.lit(1e-12)
    )
    de = F.transform(
        F.transform(e, lambda x: F.floor(x * (127.0 / max_abs) + 0.5)),
        lambda qx: qx * (max_abs / 127.0),
    )
    d = emb.select("vec_id", "label", e.alias("e"), de.alias("de"))

    def cos(ca, cb):
        dot = F.aggregate(F.zip_with(ca, cb, lambda x, y: x * y), F.lit(0.0), lambda a, b: a + b)
        na = F.sqrt(F.aggregate(F.transform(ca, lambda x: x * x), F.lit(0.0), lambda a, b: a + b))
        nb = F.sqrt(F.aggregate(F.transform(cb, lambda x: x * x), F.lit(0.0), lambda a, b: a + b))
        return dot / (na * nb)

    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(
        (cos(F.col("a.e"), F.col("b.e")) - cos(F.col("a.de"), F.col("b.de"))).alias("delta")
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.floor(F.avg(F.abs("delta")) * 1000000 + 0.5).cast("long").alias("mean_abs_err_micro"),
        F.floor(F.max(F.abs("delta")) * 1000000 + 0.5).cast("long").alias("max_abs_err_micro"),
    )
