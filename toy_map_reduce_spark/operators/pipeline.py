"""Training-data pipeline operators (X tier): the glue steps between raw
corpus and training shards — PII/URL redaction, deterministic dataset
splitting and sampling, token-balanced shard assignment, and connected-
component clustering of near-duplicate pairs.

Determinism doctrine: anything that partitions the dataset (splits,
samples, shards) keys off the portable polynomial fingerprint
(operators/textstats.py) — identical in Spark and DuckDB, stable across
runs/partitionings, and content-addressed (re-ingesting the same document
lands in the same split). Never ``rand()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load
from toy_map_reduce_spark.operators.dedup import DF_CAP
from toy_map_reduce_spark.operators.textstats import _tokens


# portable fingerprint expression (matches _TEXT_FINGERPRINT_ORACLE)
def _fingerprint():
    tok_codes = F.transform(
        _tokens("text"),
        lambda s: (F.length(s) * 131 + F.ascii(F.substring(s, 1, 1))).cast("long"),
    )
    # coalesce: split(NULL) is NULL, but the oracle's list_prepend(0, NULL)
    # folds to the 0 seed — a NULL doc fingerprints as 0 on both engines
    return F.aggregate(
        F.coalesce(tok_codes, F.array().cast("array<long>")),
        F.lit(0).cast("long"),
        lambda h, x: (h * 1000003 + x) % 2147483647,
    )


_FP_SQL = """
list_reduce(
  list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                              s -> CAST(length(s) * 131 + ascii(substr(s, 1, 1)) AS BIGINT))),
  (h, x) -> (h * 1000003 + x) % 2147483647
)
"""


_TEXT_REDACT_ORACLE = """
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '[a-z0-9._]+@[a-z0-9.]+', '[EMAIL]', 'g'),
           'https?://[^ ]+', '[URL]', 'g'),
         '[0-9]{3}-[0-9]{3,4}-[0-9]{4}', '[PHONE]', 'g') AS redacted,
       length(regexp_replace(
         regexp_replace(
           regexp_replace(text, '[a-z0-9._]+@[a-z0-9.]+', '[EMAIL]', 'g'),
           'https?://[^ ]+', '[URL]', 'g'),
         '[0-9]{3}-[0-9]{3,4}-[0-9]{4}', '[PHONE]', 'g')) <> length(text) AS was_redacted
FROM documents
"""


@register("text_redact", "X", oracle=_TEXT_REDACT_ORACLE,
          doc="PII/URL scrubbing: email, URL, phone patterns replaced with "
              "typed placeholders (chained regexp_replace, JVM-side)")
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), r"[a-z0-9._]+@[a-z0-9.]+", "[EMAIL]"),
            r"https?://[^ ]+",
            "[URL]",
        ),
        r"[0-9]{3}-[0-9]{3,4}-[0-9]{4}",
        "[PHONE]",
    )
    return docs.select(
        "doc_id",
        redacted.alias("redacted"),
        (F.length(redacted) != F.length("text")).alias("was_redacted"),
    )


_DATASET_SPLIT_ORACLE = f"""
SELECT doc_id,
       CASE WHEN {_FP_SQL} % 100 < 80 THEN 'train'
            WHEN {_FP_SQL} % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


@register("dataset_split", "X", oracle=_DATASET_SPLIT_ORACLE,
          doc="Deterministic 80/10/10 train/val/test assignment by content "
              "fingerprint — stable across runs, partitionings, and "
              "re-ingestion (never rand())")
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bucket = _fingerprint() % 100
    return docs.select(
        "doc_id",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )


_SAMPLE_HASH_ORACLE = f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS sampled,
       CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
FROM documents
WHERE {_FP_SQL} % 100 < 10
GROUP BY lang
"""


@register("sample_hash", "X", oracle=_SAMPLE_HASH_ORACLE,
          doc="Reproducible ~10% sample via fingerprint threshold (the "
              "scalable substitute for rand() sampling: same rows every run, "
              "no sort, no state)")
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sampled = docs.where((_fingerprint() % 100) < 10)
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("sampled"),
        F.sum("n_chars").cast("long").alias("sampled_chars"),
    )


_SHARD_ASSIGN_ORACLE = """
WITH sized AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
ranked AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (ORDER BY n_tokens DESC NULLS LAST, doc_id ASC) AS rn
  FROM sized
)
SELECT CAST((rn - 1) % 8 AS INTEGER) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM ranked
GROUP BY 1
"""


@register("shard_assign", "X", oracle=_SHARD_ASSIGN_ORACLE,
          doc="Token-balanced shard assignment: size-desc round-robin over 8 "
              "shards (greedy balance without sequential state); per-shard "
              "doc and token totals")
def shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-desc rank is a distributed range-partitioned row_number
    (functions/ranks.py) — the corpus-grain global order that would
    otherwise be the classic single-task sort at 100 TB. The sized frame
    (2 ints per doc — tiny even at corpus doc counts) is persisted and
    counted: one tokenization pass feeds both the range sampler and the
    shuffle, and the count sizes the shuffle width (parts_for) so a toy
    corpus doesn't pay the full fixed partition scaffold."""
    from toy_map_reduce_spark.functions.ranks import parts_for, with_global_order

    docs = load(spark, sf_dir, "documents")
    sized = scratch.persist(
        docs.select("doc_id", F.size(_tokens("text")).alias("n_tokens"))
    )
    ranked = with_global_order(
        sized, [F.col("n_tokens").desc(), F.col("doc_id").asc()], rn_col="rn",
        parts=parts_for(sized.count(), spark),
    )
    return (
        ranked.select(((F.col("rn") - 1) % 8).cast("int").alias("shard"), "n_tokens")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


_DEDUP_CLUSTERS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
sh_all AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                   FOR i IN range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
    FROM toks
  ) WHERE shingle <> ''
),
sh AS (
  -- same DF_CAP posting-list cap as dedup_ngram_jaccard (lock-step)
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
    FROM sh_all
  ) WHERE df <= {DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS both_cnt
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(i.both_cnt AS DOUBLE) / (sa.n + sb.n - i.both_cnt) >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach AS (
  -- transitive closure (pair graph is tiny relative to the corpus)
  WITH RECURSIVE r(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
  )
  SELECT * FROM r
)
SELECT d.doc_id,
       CAST(least(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
GROUP BY d.doc_id
"""


@register("dedup_clusters", "X", oracle=_DEDUP_CLUSTERS_ORACLE, bench=False,
          doc="Connected components over the near-dup pair graph (iterative "
              "min-label propagation, the alternating-join CC algorithm); "
              "cluster_id = min doc_id in component. Oracle = recursive-CTE "
              "transitive closure")
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative DataFrame algorithm: labels start as doc_id; each round
    every node takes min(own label, neighbors' labels) until fixpoint.
    Rounds ≈ graph diameter (tiny for dup clusters); each round is one
    join + one aggregation. Every CHECKPOINT_EVERY rounds the label
    frame is localCheckpoint'ed: persist() caches data but the logical
    plan still GROWS one join deeper per round, so a long-diameter graph
    at 100 TB pays ever-larger analysis/serialization costs and risks
    stack overflow on the lineage — the checkpoint truncates the plan to
    the materialized result (r5 verdict item 4; lineage-depth pinned in
    tests/test_plans.py)."""
    from toy_map_reduce_spark.operators.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    docs = load(spark, sf_dir, "documents").select("doc_id")
    labels = min_label_propagation(docs, pairs)
    return labels.select("doc_id", F.col("label").cast("long").alias("cluster_id"))


CC_CHECKPOINT_EVERY = 5


def min_label_propagation(
    docs: DataFrame, pairs: DataFrame, max_rounds: int = 15,
    reliable_checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by alternating-join min-label propagation:
    returns (doc_id, label) with label = component min doc_id.

    ``pairs`` is the undirected edge list as (doc_a, doc_b) rows (each
    unordered pair once). Each round is one join + one aggregation, with
    fixpoint early-exit. Every CC_CHECKPOINT_EVERY rounds the label frame
    is checkpointed (eager): persist() alone caches DATA but the
    logical plan still grows one join deeper per round, so a
    long-diameter graph at 100 TB pays ever-larger analysis/
    serialization per round and ultimately risks a lineage stack
    overflow — the checkpoint truncates the plan to the materialized
    result (r5 verdict item 4; plan-depth pinned in tests/test_plans.py).

    Checkpoint mode: localCheckpoint by default (executor-local blocks —
    fastest, right for local mode). On a real cluster pass
    ``reliable_checkpoint_dir`` to use reliable ``checkpoint()`` into
    that HDFS/object-store path instead: localCheckpoint'ed blocks die with their executor, which at
    1000 executors makes a multi-round CC job restart-prone, while a
    reliable checkpoint survives executor loss. The loop structure and
    the result are identical in both modes (pinned in
    tests/test_plans.py::test_dedup_clusters_reliable_checkpoint_mode).

    Lifecycle caveats of the reliable mode (r7 advisor): (1)
    ``setCheckpointDir`` mutates the shared SparkContext — the last
    caller's dir wins for every checkpoint() in the session; (2) Spark
    never deletes reliable checkpoint files by default, so a long-lived
    session running many reliable-mode CC jobs accumulates checkpoint
    data unboundedly. A deployment using this mode should set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (Spark
    then removes a checkpoint's files once its DataFrame is
    garbage-collected) or point the dir at a path with an object-store
    TTL/lifecycle rule. Not set session-wide here: the default
    (localCheckpoint) writes no reliable files at all, and a library
    shouldn't flip a global cleaner conf under its caller."""
    if reliable_checkpoint_dir:
        docs.sparkSession.sparkContext.setCheckpointDir(reliable_checkpoint_dir)
    edges = scratch.persist(pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ))

    labels = docs.withColumn("label", F.col("doc_id"))

    for rnd in range(max_rounds):  # diameter bound; fixpoint check below
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least("label", F.coalesce("nbr_label", F.col("label"))).alias("label"),
        )
        if (rnd + 1) % CC_CHECKPOINT_EVERY == 0:
            if reliable_checkpoint_dir:
                new_labels = new_labels.checkpoint(eager=True)
            else:
                new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = scratch.persist(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        scratch.release(labels)  # drop the previous round's cached copy
        labels = new_labels
        if changed == 0:
            break

    scratch.release(edges)
    return labels


_SAMPLE_STRATIFIED_ORACLE = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS sampled,
       CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
FROM documents
WHERE {_FP_SQL} % 100 < CASE WHEN lang = 'en' THEN 20 ELSE 5 END
GROUP BY lang
"""


@register("sample_stratified", "X", oracle=_SAMPLE_STRATIFIED_ORACLE,
          doc="Stratified deterministic sampling: per-language rates (20% en, "
              "5% others) via fingerprint threshold — the language-rebalancing "
              "step of a training-data mix, content-addressed like sample_hash "
              "(never rand(), stable under re-ingestion)")
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 20).otherwise(5)
    sampled = docs.where((_fingerprint() % 100) < rate)
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("sampled"),
        F.sum("n_chars").cast("long").alias("sampled_chars"),
    )


_PACK_SEQUENCES_ORACLE = """
WITH sized AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
placed AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start_off
  FROM sized
)
SELECT CAST(start_off // 2048 AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM placed
GROUP BY 1
"""


@register("pack_sequences", "X", oracle=_PACK_SEQUENCES_ORACLE,
          doc="Concat-and-chunk sequence packing: docs laid end-to-end in "
              "doc_id order, assigned to fixed 2048-token training windows "
              "by start offset (running-sum window) — per-sequence doc and "
              "token totals")
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The global running offset is a distributed range-partitioned
    running sum (functions/ranks.py) — doc_id-ordered, exact, and never a
    single-task window even at corpus grain. Deterministic: ordering is
    by doc_id, never by arrival. The sized frame is persisted + counted
    (one tokenization pass, size-aware shuffle width — see shard_assign)."""
    from toy_map_reduce_spark.functions.ranks import parts_for, with_global_order

    docs = load(spark, sf_dir, "documents")
    sized = scratch.persist(
        docs.select("doc_id", F.size(_tokens("text")).alias("n_tokens"))
    )
    placed = with_global_order(
        sized, [F.col("doc_id").asc()], cumsums={"_cum": "n_tokens"},
        parts=parts_for(sized.count(), spark),
    ).withColumn("start_off", F.col("_cum") - F.col("n_tokens"))
    return (
        placed.select(
            F.floor(F.col("start_off") / 2048).cast("long").alias("seq_id"),
            "doc_id",
            "n_tokens",
        )
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
    )


_DECONTAMINATE_ORACLE = f"""
WITH hashed AS (
  SELECT doc_id, lang,
         sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h,
         {_FP_SQL} % 100 < 5 AS is_eval
  FROM documents
),
eval_hashes AS (SELECT DISTINCT h FROM hashed WHERE is_eval),
train AS (SELECT * FROM hashed WHERE NOT is_eval)
SELECT t.lang,
       CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(COUNT(*) FILTER (WHERE e.h IS NOT NULL) AS BIGINT) AS n_contaminated,
       CAST(COUNT(*) FILTER (WHERE e.h IS NULL) AS BIGINT) AS n_kept
FROM train t LEFT JOIN eval_hashes e ON t.h = e.h
GROUP BY t.lang
"""


@register("dedup_decontaminate", "X", oracle=_DECONTAMINATE_ORACLE,
          doc="Eval-set decontamination: training docs whose normalized-text "
              "hash appears in the (fingerprint-designated) eval split are "
              "dropped — hash-keyed join against the eval hash set, per-lang "
              "kept/contaminated counts. At scale the eval hash set is tiny "
              "and broadcasts; the 100 TB train side never shuffles")
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from toy_map_reduce_spark.functions.text import norm_text

    docs = load(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        "lang",
        F.sha2(norm_text(F.col("text")), 256).alias("h"),
        ((_fingerprint() % 100) < 5).alias("is_eval"),
    )
    eval_hashes = F.broadcast(
        hashed.where("is_eval").select("h").distinct()
    ).withColumnRenamed("h", "eh")
    train = hashed.where(~F.col("is_eval"))
    tagged = train.join(eval_hashes, train.h == eval_hashes.eh, "left")
    return tagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train"),
        F.count("eh").alias("n_contaminated"),
        F.sum(F.when(F.col("eh").isNull(), 1).otherwise(0)).cast("long").alias("n_kept"),
    )


CHUNK_TOKENS = 30
CHUNK_STRIDE = 20  # 10-token overlap between consecutive chunks

_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_idx,
       CAST(len(toks[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS INTEGER) AS n_chunk_tokens,
       toks[i * {CHUNK_STRIDE} + 1] AS first_tok,
       toks[least(i * {CHUNK_STRIDE} + {CHUNK_TOKENS}, len(toks))] AS last_tok
FROM t, UNNEST(range(0, CAST(ceil(len(toks) / {CHUNK_STRIDE}.0) AS BIGINT))) AS u(i)
"""


@register("text_chunk_overlap", "X", oracle=_CHUNK_ORACLE,
          doc="Sliding-window document chunking (30-token chunks, 10-token "
              "overlap) — the RAG/context-window splitter; 1→N rows via a "
              "generated start-offset sequence, narrow (no shuffle)")
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking is embarrassingly parallel: each doc expands to
    ceil(n/stride) chunk rows inside its own partition — posexplode over a
    generated sequence, zero shuffle, which is what lets a 100 TB corpus
    chunk at scan speed."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n = F.size("toks")
    starts = F.expr(
        f"sequence(0, cast(ceil(size(toks) / {CHUNK_STRIDE}.0) as int) - 1)"
    )
    ch = docs.select("doc_id", "toks", n.alias("n"), F.posexplode(starts))
    chunk = F.expr(f"slice(toks, col * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS})")
    return ch.select(
        "doc_id",
        F.col("col").cast("int").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.element_at("toks", F.col("col") * CHUNK_STRIDE + 1).alias("first_tok"),
        F.element_at(
            "toks",
            F.least(F.col("col") * CHUNK_STRIDE + CHUNK_TOKENS, F.col("n")).cast("int"),
        ).alias("last_tok"),
    )


_MIX_REBALANCE_ORACLE = """
WITH per_src AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang, source
),
per_lang AS (
  SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang FROM per_src GROUP BY lang
),
tot AS (
  SELECT CAST(SUM(n_lang) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS k FROM per_lang
)
SELECT s.lang, s.source, s.n_docs,
       least(CAST(1000000 AS BIGINT),
             CAST(floor(CAST(1000000 * n_total AS DOUBLE) / (k * n_lang)) AS BIGINT))
         AS weight_micro,
       CAST(floor(CAST(s.n_docs AS DOUBLE)
                  * least(CAST(1000000 AS BIGINT),
                          CAST(floor(CAST(1000000 * n_total AS DOUBLE) / (k * n_lang)) AS BIGINT))
                  / 1000000) AS BIGINT) AS expected_kept
FROM per_src s JOIN per_lang l USING (lang), tot
"""


@register("data_mix_rebalance", "X", oracle=_MIX_REBALANCE_ORACLE,
          doc="Training-data mix rebalancing: per-language downsampling "
              "weights toward a uniform language target (never "
              "upsampling), with expected kept-doc counts per (lang, "
              "source) shard — the planning step before a weighted "
              "sample_hash pass")
def data_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure aggregate algebra: (lang, source) counts roll up to language
    counts, the language table is dimension-sized so it broadcasts back,
    and the corpus total is a broadcast scalar. Weights are micro-int
    floors of exact integer ratios — the same deterministic-arithmetic
    rule every sampling operator here follows, so a re-run (or the
    oracle) can never disagree on a boundary. At 100 TB this plan is two
    partial+final aggregates over one scan plus broadcast joins; the
    actual rebalanced sample is then one sample_hash pass with these
    weights as per-language thresholds."""
    docs = load(spark, sf_dir, "documents")
    per_src = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    per_lang = per_src.groupBy("lang").agg(F.sum("n_docs").alias("n_lang"))
    tot = per_lang.agg(
        F.sum("n_lang").alias("n_total"), F.count(F.lit(1)).alias("k")
    )
    weight = F.least(
        F.lit(1000000).cast("bigint"),
        F.floor((1000000 * F.col("n_total")).cast("double") / (F.col("k") * F.col("n_lang"))),
    )
    return (
        per_src.join(F.broadcast(per_lang), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            weight.alias("weight_micro"),
            F.floor(F.col("n_docs").cast("double") * weight / 1000000)
            .cast("bigint")
            .alias("expected_kept"),
        )
    )


_SAMPLE_WEIGHTED_ORACLE = f"""
WITH per_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang FROM documents GROUP BY lang
),
tot AS (
  SELECT CAST(SUM(n_lang) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS k FROM per_lang
),
weights AS (
  SELECT lang,
         least(CAST(1000000 AS BIGINT),
               CAST(floor(CAST(1000000 * n_total AS DOUBLE) / (k * n_lang)) AS BIGINT))
           AS weight_micro
  FROM per_lang, tot
)
SELECT d.lang, w.weight_micro,
       CAST(COUNT(*) AS BIGINT) AS kept,
       CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
FROM documents d JOIN weights w USING (lang)
WHERE ({{fp}}) % 1000000 < w.weight_micro
GROUP BY d.lang, w.weight_micro
""".format(fp=_FP_SQL)


@register("sample_weighted", "X", oracle=_SAMPLE_WEIGHTED_ORACLE,
          doc="Weighted rebalancing sample: the data_mix_rebalance "
              "per-language weights applied as fingerprint thresholds — "
              "deterministic downsampling toward a uniform language mix "
              "in one scan, no rand(), no sort")
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The execution half of data_mix_rebalance: weights (a k-row frame)
    broadcast-join onto the corpus and each doc keeps iff
    fingerprint % 1M < weight — the same doc survives every rerun, and
    the realized mix converges to the target as the corpus grows. This
    is how production mixes are applied at 100 TB: plan (tiny aggregate)
    + one filtered pass, instead of per-source shuffled subsamples."""
    docs = load(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    tot = per_lang.agg(F.sum("n_lang").alias("n_total"), F.count(F.lit(1)).alias("k"))
    weights = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.lit(1000000).cast("bigint"),
            F.floor((1000000 * F.col("n_total")).cast("double") / (F.col("k") * F.col("n_lang"))),
        ).alias("weight_micro"),
    )
    kept = docs.join(F.broadcast(weights), "lang").where(
        (_fingerprint() % 1000000) < F.col("weight_micro")
    )
    return kept.groupBy("lang", "weight_micro").agg(
        F.count(F.lit(1)).alias("kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )


CURRICULUM_BANDS = 4
CURRICULUM_HEAD = 3  # first docs surfaced per band in the shuffled order

_CURRICULUM_ORACLE = f"""
WITH d AS (
  SELECT doc_id, len(string_split(COALESCE(text, ''), ' ')) AS difficulty
  FROM documents
),
banded AS (
  SELECT doc_id, difficulty,
         ntile({CURRICULUM_BANDS}) OVER (ORDER BY difficulty NULLS FIRST, doc_id) AS band,
         md5(CAST(doc_id AS VARCHAR) || '#epoch0') AS shuffle_key
  FROM d
),
ranked AS (
  SELECT band, doc_id, difficulty,
         row_number() OVER (PARTITION BY band ORDER BY shuffle_key NULLS FIRST) AS rn
  FROM banded
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(difficulty) AS BIGINT) AS min_difficulty,
       CAST(MAX(difficulty) AS BIGINT) AS max_difficulty,
       string_agg(CASE WHEN rn <= {CURRICULUM_HEAD} THEN CAST(doc_id AS VARCHAR) END,
                  ',' ORDER BY rn) AS head_docs
FROM ranked GROUP BY band
"""


@register("pipeline_curriculum_order", "X", oracle=_CURRICULUM_ORACLE,
          doc=f"Curriculum data ordering: docs banded into "
              f"{CURRICULUM_BANDS} difficulty quartiles (token count), "
              "then deterministically hash-shuffled WITHIN each band — "
              "easy-to-hard epoch ordering with md5(doc_id#epoch) as the "
              "reproducible shuffle, never rand()")
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same determinism contract as dataset_split/sample_hash: the shuffle
    key is a hash of (doc_id, epoch), so every re-run and every engine
    produces the identical order, and the next epoch just changes the
    salt. The quartile bands are an exact distributed rank + the
    uneven-remainder ntile formula (functions/ranks.py) — corpus-grain,
    so a single-task ntile window would be the 100 TB bottleneck. The
    difficulty frame is persisted + counted (one tokenization pass,
    size-aware shuffle width, literal group size — see shard_assign)."""
    from toy_map_reduce_spark.functions.ranks import (
        ntile_from_rn, parts_for, with_global_order,
    )

    docs = scratch.persist(
        load(spark, sf_dir, "documents").select(
            "doc_id",
            F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
            .alias("difficulty"),
        )
    )
    n_docs = docs.count()
    banded = with_global_order(
        docs, [F.col("difficulty"), F.col("doc_id")], rn_col="_rn",
        parts=parts_for(n_docs, spark),
    ).select(
        "doc_id", "difficulty",
        ntile_from_rn(F.col("_rn"), F.lit(n_docs), CURRICULUM_BANDS).alias("band"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#epoch0")))
        .alias("shuffle_key"),
    )
    wr = Window.partitionBy("band").orderBy("shuffle_key")
    ranked = banded.withColumn("rn", F.row_number().over(wr))
    head = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("rn") <= CURRICULUM_HEAD,
                        F.struct("rn", F.col("doc_id").cast("string").alias("d")),
                    )
                )
            ),
            lambda s: s["d"],
        ),
        ",",
    )
    return ranked.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("difficulty").cast("long").alias("min_difficulty"),
        F.max("difficulty").cast("long").alias("max_difficulty"),
        head.alias("head_docs"),
    )


_DATASET_CARD_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, md5(text) AS h, len(string_split(text, ' ')) AS toks
  FROM documents
),
lang_top AS (
  SELECT CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM t) AS share
  FROM t GROUP BY lang ORDER BY share DESC NULLS LAST, lang NULLS FIRST LIMIT 1
)
SELECT metric, value FROM (
  SELECT 'n_docs' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM t
  UNION ALL
  SELECT 'n_tokens', CAST(SUM(toks) AS DOUBLE) FROM t
  UNION ALL
  SELECT 'mean_doc_tokens', round(AVG(toks), 4) FROM t
  UNION ALL
  SELECT 'n_langs', CAST(COUNT(DISTINCT lang) AS DOUBLE) FROM t
  UNION ALL
  SELECT 'top_lang_share', round(MAX(share), 6) FROM lang_top
  UNION ALL
  SELECT 'exact_dup_rate',
         round(1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 6) FROM t
)
"""


@register("pipeline_dataset_card", "X", oracle=_DATASET_CARD_ORACLE,
          doc="Dataset-card generator: corpus size, token totals, language "
              "spread, dominant-language share, and exact-duplicate rate "
              "as one (metric, value) summary — the headline stats block "
              "of a training-data release card")
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every metric is a one-pass aggregate (dup rate reuses the SHA/md5
    content-hash distinct from dedup_exact; top-language share is a
    groupBy on a low-cardinality key) — the whole card costs two scans
    and shuffles only rollup-sized intermediates at any corpus scale."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).alias("toks"),
    )
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
        F.round(F.avg("toks"), 4).alias("mean_doc_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("h").alias("n_hashes"),
    )
    top_share = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(base.select("n_docs")))
        .select((F.col("c").cast("double") / F.col("n_docs")).alias("share"), "lang")
        .orderBy(F.col("share").desc(), "lang")
        .limit(1)
    )
    # LEFT join (not crossJoin): an empty corpus has no top language, and
    # the 1-row card must survive the empty 1-row-vs-0-row product with a
    # NULL share — the oracle's scalar MAX(share) subquery does the same
    metrics = base.join(F.broadcast(top_share), F.lit(True), "left").select(
        F.explode(
            F.map_from_arrays(
                F.array(
                    F.lit("n_docs"), F.lit("n_tokens"), F.lit("mean_doc_tokens"),
                    F.lit("n_langs"), F.lit("top_lang_share"), F.lit("exact_dup_rate"),
                ),
                F.array(
                    F.col("n_docs").cast("double"),
                    F.col("n_tokens").cast("double"),
                    F.col("mean_doc_tokens"),
                    F.col("n_langs").cast("double"),
                    F.round("share", 6),
                    # try_divide: n_docs = 0 on an empty corpus — the dup
                    # rate is undefined (NULL), matching DuckDB's x/0
                    F.round(
                        F.lit(1.0)
                        - F.try_divide(F.col("n_hashes").cast("double"), F.col("n_docs")),
                        6,
                    ),
                ),
            )
        ).alias("metric", "value")
    )
    return metrics


MANIFEST_SHARDS = 16

_SHARD_MANIFEST_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#shard'), 1, 8)) AS BIGINT)
           % {MANIFEST_SHARDS} AS shard,
         octet_length(encode(text)) AS n_bytes,
         md5(text) AS h
  FROM documents
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id,
       md5(COALESCE(string_agg(h, '' ORDER BY doc_id), '')) AS shard_digest
FROM d GROUP BY shard
"""


@register("pipeline_shard_manifest", "X", oracle=_SHARD_MANIFEST_ORACLE,
          doc=f"Dataset-release manifest: docs hash-assigned to "
              f"{MANIFEST_SHARDS} shards (md5(doc_id#shard), never rand), "
              "per-shard sizes, id ranges, and an order-independent "
              "content digest (md5 over doc hashes in doc_id order) — the "
              "integrity index shipped next to every released shard set")
def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard digest is md5 of per-doc content hashes concatenated in
    doc_id order — computed by sorting the collected (doc_id, hash)
    structs AFTER the per-shard collect, so shuffle arrival order can't
    change the digest (the same array_sort determinism contract as
    tokenize_chat_template). Per-shard state is docs-per-shard hashes,
    bounded by the shard size a release would cap anyway."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#shard"))), 1, 8
                ),
                16, 10,
            ).cast("long") % MANIFEST_SHARDS
        ).alias("shard"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5("text").alias("h"),
    )
    digest = F.md5(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "h"))),
                lambda s: s["h"],
            ),
            "",
        )
    )
    return docs.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        digest.alias("shard_digest"),
    )


# Per-key sample size for the balanced subset.
RSV_PER_KEY = 5

_RESERVOIR_ORACLE = f"""
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '#rsv'), doc_id) AS rn
  FROM documents
)
SELECT lang, doc_id FROM ranked WHERE rn <= {RSV_PER_KEY}
"""


@register("sample_reservoir_per_key", "X", oracle=_RESERVOIR_ORACLE,
          doc=f"Balanced per-key sample: exactly {RSV_PER_KEY} documents "
              "per language, selected by md5 hash order — the "
              "deterministic substitute for per-class reservoir sampling "
              "(same rows every run, no sequential state)")
def sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-order row_number per key gives a uniform-looking, fully
    reproducible k-per-class subset (true reservoir sampling is
    sequential and order-dependent — unusable under re-ingestion). The
    per-key sort is the honest exact cost; at 100 TB with huge keys the
    swap-in keeps a k-sized min-heap per key via aggregation (min_by
    over the hash), trading determinism for no sort — documented, not
    silently chosen."""
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#rsv")))
    w = Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= RSV_PER_KEY)
        .select("lang", "doc_id")
    )


LEAK_PLANT = 50

_SPLIT_LEAKAGE_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  -- planted duplicates: the fixture has no byte-identical docs, so the
  -- audit re-ingests the first {LEAK_PLANT} under fresh ids (the
  -- mirror-site scenario the audit exists to catch)
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id < {LEAK_PLANT}
),
d AS (
  SELECT doc_id, md5(text) AS h,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 10 < 8
              THEN 'train' ELSE 'test' END AS id_split,
         CASE WHEN {_FP_SQL} % 100 < 80 THEN 'train' ELSE 'test' END AS content_split
  FROM corpus
),
g AS (
  SELECT h,
         COUNT(*) AS n_copies,
         COUNT(DISTINCT id_split) AS id_sides,
         COUNT(DISTINCT content_split) AS content_sides
  FROM d GROUP BY h HAVING COUNT(*) > 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
       CAST(SUM(n_copies) AS BIGINT) AS n_dup_docs,
       CAST(SUM(CASE WHEN id_sides > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS leaked_groups_id_split,
       CAST(SUM(CASE WHEN content_sides > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS leaked_groups_content_split
FROM g
"""


@register("pipeline_split_leakage", "X", oracle=_SPLIT_LEAKAGE_ORACLE,
          doc="Train/test leakage audit: exact-duplicate groups spanning "
              "both sides of (a) a doc_id-hash split and (b) the "
              "content-fingerprint split — the content split provably "
              "leaks zero groups, which is why dataset_split hashes "
              "content, never ids")
def pipeline_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit behind dataset_split's design choice: a duplicate pair
    split by doc_id hash lands on both sides ~32% of the time (1 - 0.8²
    - 0.2²), silently inflating eval scores; a content-hash split sends
    every byte-identical copy to the same side, so its leakage column is
    structurally zero. One groupBy on the content hash (map-side
    combined), two distinct-counts per group, one summary row out."""
    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = base.where(F.col("doc_id") < LEAK_PLANT).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    docs = base.unionByName(planted)
    id_split = F.when(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10 < 8,
        "train",
    ).otherwise("test")
    content_split = F.when(_fingerprint() % 100 < 80, "train").otherwise("test")
    d = docs.select(
        F.md5("text").alias("h"),
        id_split.alias("id_split"),
        content_split.alias("content_split"),
    )
    g = (
        d.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("id_split").alias("id_sides"),
            F.countDistinct("content_split").alias("content_sides"),
        )
        .where(F.col("n_copies") > 1)
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_groups"),
        F.sum("n_copies").cast("long").alias("n_dup_docs"),
        F.sum(F.when(F.col("id_sides") > 1, 1).otherwise(0)).cast("long").alias(
            "leaked_groups_id_split"
        ),
        F.sum(F.when(F.col("content_sides") > 1, 1).otherwise(0)).cast("long").alias(
            "leaked_groups_content_split"
        ),
    )


_SHARD_SKEW_ORACLE = f"""
WITH d AS (
  SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#shard'), 1, 8))
              AS BIGINT) % {MANIFEST_SHARDS} AS shard,
         octet_length(encode(text)) AS n_bytes
  FROM documents
),
per AS (
  SELECT shard, COUNT(*) AS n_docs, SUM(n_bytes) AS total_bytes
  FROM d GROUP BY shard
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
       CAST(MIN(total_bytes) AS BIGINT) AS min_bytes,
       CAST(MAX(total_bytes) AS BIGINT) AS max_bytes,
       round(MAX(total_bytes) / AVG(total_bytes), 6) AS max_over_mean,
       round(stddev_samp(total_bytes) / AVG(total_bytes), 6) AS byte_cv
FROM per
"""


@register("pipeline_shard_skew_report", "X", oracle=_SHARD_SKEW_ORACLE,
          doc="Shard-balance report for the manifest's md5 hash sharding: "
              "byte-size min/max, max-over-mean, and coefficient of "
              "variation across shards — the number that says whether "
              "the release needs re-sharding before training reads it")
def pipeline_shard_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumes the identical shard assignment as pipeline_shard_manifest
    (single hashing source of truth) and reduces it to one balance row.
    Hash sharding balances COUNTS, not BYTES, when document sizes are
    heavy-tailed — max_over_mean is what a training loader's stragglers
    will actually see, which is why the report is byte-denominated."""
    docs = load(spark, sf_dir, "documents").select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#shard"))), 1, 8
                ),
                16, 10,
            ).cast("long") % MANIFEST_SHARDS
        ).alias("shard"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    per = docs.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_bytes").alias("total_bytes")
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_shards"),
        F.min("total_bytes").cast("long").alias("min_bytes"),
        F.max("total_bytes").cast("long").alias("max_bytes"),
        F.round(F.max("total_bytes") / F.avg("total_bytes"), 6).alias("max_over_mean"),
        F.round(F.stddev_samp("total_bytes") / F.avg("total_bytes"), 6).alias("byte_cv"),
    )


_EPOCH_SHUFFLE_ORACLE = """
WITH keyed AS (
  SELECT e.epoch, d.doc_id,
         md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR)) AS k
  FROM documents d CROSS JOIN (SELECT unnest([0, 1]) AS epoch) e
),
sharded AS (
  SELECT epoch, doc_id, k, ascii(substr(k, 1, 1)) % 4 AS shard FROM keyed
)
SELECT CAST(epoch AS INTEGER) AS epoch, CAST(shard AS INTEGER) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY k)) AS order_digest
FROM sharded GROUP BY epoch, shard
"""


@register("pipeline_epoch_shuffle", "X", oracle=_EPOCH_SHUFFLE_ORACLE,
          doc="Deterministic per-epoch global shuffle: order key = "
              "md5(doc_id:epoch), so every epoch gets a different but "
              "exactly reproducible permutation with zero stored state; "
              "per-(epoch, shard) manifest digests audit the order")
def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How training-data loaders shuffle at scale: never rand() (not
    reproducible, not resumable) and never a global sort of raw rows —
    the hash key IS the permutation, epoch-salted so epochs decorrelate,
    and each worker reads its shard in key order independently. The
    digest is computed per (epoch, shard): the collect_list is bounded
    by shard size (corpus/8 here; a real manifest digests per output
    file), and array_sort runs AFTER collection so shuffle arrival
    order cannot change the digest — the same determinism contract as
    pipeline_shard_manifest."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(2).select(F.col("id").cast("int").alias("epoch"))
    keyed = docs.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("epoch").cast("string"))).alias("k"),
    )
    sharded = keyed.withColumn("shard", F.ascii(F.substring("k", 1, 1)) % 4)
    return (
        sharded.groupBy("epoch", F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("k", "doc_id"))),
                        lambda s: s["doc_id"].cast("string"),
                    ),
                )
            ).alias("order_digest"),
        )
    )


_ERASURE_ORACLE = """
WITH del AS (SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0),
kept AS (
  SELECT e.event_type FROM events e
  WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.user_id = e.user_id)
),
before AS (SELECT event_type, COUNT(*) AS n_before FROM events GROUP BY event_type),
after AS (SELECT event_type, COUNT(*) AS n_after FROM kept GROUP BY event_type)
SELECT b.event_type,
       CAST(b.n_before AS BIGINT) AS n_before,
       CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after,
       CAST(b.n_before - COALESCE(a.n_after, 0) AS BIGINT) AS n_erased
FROM before b LEFT JOIN after a USING (event_type)
"""


@register("pipeline_erasure_audit", "X", oracle=_ERASURE_ORACLE,
          doc="Right-to-erasure propagation audit: a deterministic deletion "
              "list (user_id % 97 — the stand-in for a tombstone table) "
              "anti-joined out of the fact stream, per-event-type "
              "before/after/erased counts — the compliance report a GDPR "
              "delete run emits")
def pipeline_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale mechanics of deletion propagation: the tombstone list is
    orders of magnitude smaller than the fact table, so erasure is one
    broadcast anti-join per downstream table (never a rewrite-triggering
    join on the fact side's full width), and the audit is two
    partial-aggregated counts. A lakehouse would follow with a
    copy-on-write of affected files only; the read-side semantics are
    exactly this anti-join."""
    ev = load(spark, sf_dir, "events")
    tomb = ev.where(F.col("user_id") % 97 == 0).select("user_id").distinct()
    kept = ev.join(F.broadcast(tomb), "user_id", "left_anti")
    before = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_before"))
    after = kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_after"))
    return (
        before.join(after, "event_type", "left")
        .select(
            "event_type",
            F.col("n_before").cast("long").alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
            (F.col("n_before") - F.coalesce("n_after", F.lit(0))).cast("long").alias("n_erased"),
        )
    )


TOKEN_BUDGET = 30_000  # corpus token budget for the quality-greedy fill
BUDGET_BUCKETS = 20    # score-quantile coarse buckets for the two-phase fill

_TOKEN_BUDGET_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
w AS (
  SELECT doc_id, lang,
         ((length(tok) * 131 + ascii(substr(tok, 1, 1))) % 1001 - 500) / 1000.0 AS wt
  FROM toks WHERE tok <> ''
),
scored AS (
  SELECT doc_id, lang, COUNT(*) AS n_toks,
         1.0 / (1.0 + exp(-10.0 * AVG(wt))) AS score
  FROM w GROUP BY doc_id, lang
),
run AS (
  SELECT doc_id, lang, n_toks, score,
         SUM(n_toks) OVER (ORDER BY score DESC NULLS LAST, doc_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM scored
),
kept AS (SELECT * FROM run WHERE cum <= {TOKEN_BUDGET})
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_toks) AS BIGINT) AS tokens_kept,
       round(MIN(score), 6) AS min_score_kept
FROM kept GROUP BY lang
"""


@register("pipeline_token_budget", "X", oracle=_TOKEN_BUDGET_ORACLE,
          doc=f"Token-budget curation fill: rank docs by quality-model "
              f"score, keep the prefix whose running token sum fits "
              f"{TOKEN_BUDGET} tokens — computed two-phase (coarse score "
              "buckets running-summed, then an in-bucket window only at "
              "the boundary), never a corpus-wide single-partition window")
def pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Fill a 10B-token budget with the best documents' is a global
    ordered prefix sum — the naive formulation is one unpartitioned
    window (every row through a single task). The scale-correct shape
    used here: (1) quantize scores into coarse buckets, running-sum the
    BUCKET token totals (a ~20-row window); (2) buckets wholly inside
    the budget are kept outright, buckets wholly outside dropped, and
    only the single boundary bucket runs a per-doc window — partitioned
    by bucket, so the sorted state is one bucket's docs, not the corpus.
    Bucket quantization is monotone in score, so the result is
    bit-identical to the oracle's global window."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    wt = (
        (F.length("tok") * 131 + F.ascii(F.substring("tok", 1, 1))) % 1001 - 500
    ) / 1000.0
    scored = toks.select("doc_id", "lang", wt.alias("wt")).groupBy(
        "doc_id", "lang"
    ).agg(
        F.count(F.lit(1)).alias("n_toks"),
        (1.0 / (1.0 + F.exp(-10.0 * F.avg("wt")))).alias("score"),
    )
    # phase 1: coarse score buckets (monotone quantization), bucket totals,
    # running offset over the tiny bucket table
    bucketed = scored.withColumn(
        "bkt", F.least(F.floor(F.col("score") * BUDGET_BUCKETS), F.lit(BUDGET_BUCKETS - 1))
    )
    btot = bucketed.groupBy("bkt").agg(F.sum("n_toks").alias("b_toks"))
    w_b = Window.orderBy(F.col("bkt").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    boff = btot.select(
        "bkt", F.coalesce(F.sum("b_toks").over(w_b), F.lit(0)).alias("cum_before"),
        F.col("b_toks"),
    )
    # phase 2: per-doc window ONLY within each bucket (boundary resolution);
    # fully-inside buckets keep everything, fully-outside keep nothing
    joined = bucketed.join(F.broadcast(boff), "bkt")
    w_doc = Window.partitionBy("bkt").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    kept = joined.withColumn(
        "cum", F.col("cum_before") + F.sum("n_toks").over(w_doc)
    ).where(
        (F.col("cum_before") + F.col("b_toks") <= TOKEN_BUDGET)
        | (F.col("cum") <= TOKEN_BUDGET)
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_toks").cast("long").alias("tokens_kept"),
        F.round(F.min("score"), 6).alias("min_score_kept"),
    )


SEQLEN_CHOICES = (128, 256, 512)

_SEQLEN_UNION = "\nUNION ALL\n".join(
    f"""SELECT {L} AS max_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_toks > {L} THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
       CAST(SUM(GREATEST(n_toks - {L}, 0)) AS BIGINT) AS truncation_waste,
       CAST(SUM({L} - LEAST(n_toks, {L})) AS BIGINT) AS padding_waste,
       round(SUM(LEAST(n_toks, {L})) / CAST(COUNT(*) * {L} AS DOUBLE), 6)
         AS fill_rate
FROM sized"""
    for L in SEQLEN_CHOICES
)

_SEQLEN_ORACLE = f"""
WITH sized AS (
  -- unfiltered split: the Spark side counts split(text, ' ', -1) tokens
  -- (empty tokens KEPT, reference tokenizer semantics) — filtering
  -- empties here would silently diverge on any doc with consecutive
  -- spaces or an empty body
  SELECT len(string_split(text, ' ')) AS n_toks
  FROM documents
)
{_SEQLEN_UNION}
"""


@register("pipeline_seqlen_tradeoff", "X", oracle=_SEQLEN_ORACLE,
          doc="Sequence-length decision table: for max_len ∈ {128, 256, "
              "512}, documents truncated, tokens lost to truncation, "
              "tokens lost to padding (one doc per sequence), and the "
              "resulting fill rate — the accounting that picks a context "
              "length before packing (pack_sequences then reclaims the "
              "padding)")
def pipeline_seqlen_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every candidate length is a conditional aggregate over the SAME
    per-doc token-count scan — one corpus pass total, the three report
    rows built by exploding a literal array of the choices against the
    single sized table (no union of three scans; Catalyst would not
    merge them). Truncation and padding waste trade against each other
    monotonically; fill_rate is the single number to maximize."""
    docs = load(spark, sf_dir, "documents")
    sized = docs.select(F.size(_tokens("text")).alias("n_toks"))
    # one GLOBAL aggregate carrying all three lengths as conditional
    # sums (not an explode + groupBy on max_len): one scan, no 3x row
    # expand, and — like the oracle's per-L global aggregates — the
    # report rows exist even for a zero-row corpus, where a groupBy on
    # the exploded choice column would emit nothing
    aggs = []
    for L in SEQLEN_CHOICES:
        nt = F.col("n_toks")
        aggs += [
            F.count(F.lit(1)).cast("long").alias(f"n_docs_{L}"),
            F.sum(F.when(nt > L, 1).otherwise(0)).cast("long").alias(f"n_trunc_{L}"),
            F.sum(F.greatest(nt - L, F.lit(0))).cast("long").alias(f"t_waste_{L}"),
            F.sum(F.lit(L) - F.least(nt, F.lit(L))).cast("long").alias(f"p_waste_{L}"),
            F.round(
                F.sum(F.least(nt, F.lit(L)))
                / (F.count(F.lit(1)) * F.lit(L)).cast("double"),
                6,
            ).alias(f"fill_{L}"),
        ]
    one = sized.agg(*aggs)
    structs = ", ".join(
        f"named_struct('max_len', {L}, 'n_docs', `n_docs_{L}`, "
        f"'n_truncated', `n_trunc_{L}`, 'truncation_waste', `t_waste_{L}`, "
        f"'padding_waste', `p_waste_{L}`, 'fill_rate', `fill_{L}`)"
        for L in SEQLEN_CHOICES
    )
    return one.selectExpr(f"inline(array({structs}))")


MIX_TEMPERATURE = 0.3  # alpha: share^alpha sampling (multilingual-corpus convention)

_MIX_TEMPERATURE_ORACLE = f"""
WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
tot AS (SELECT SUM(n) AS t FROM counts),
raised AS (
  SELECT lang, n, pow(n / CAST(t AS DOUBLE), {MIX_TEMPERATURE}) AS w
  FROM counts CROSS JOIN tot
),
z AS (SELECT SUM(w) AS z FROM raised)
SELECT r.lang, CAST(r.n AS BIGINT) AS n_docs,
       round(r.n / CAST(tot.t AS DOUBLE), 6) AS natural_share,
       round(r.w / z.z, 6) AS sampled_share,
       round((r.w / z.z) / (r.n / CAST(tot.t AS DOUBLE)), 4) AS upsample_factor
FROM raised r CROSS JOIN z CROSS JOIN tot
"""


@register("data_mix_temperature", "X", oracle=_MIX_TEMPERATURE_ORACLE,
          doc=f"Temperature-scaled sampling mix (alpha = {MIX_TEMPERATURE}): "
              "per-language sampling shares ∝ natural_share^alpha, "
              "renormalized — the multilingual-corpus rebalancing rule "
              "that boosts low-resource slices without the uniform "
              "target data_mix_rebalance plans toward")
def data_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure aggregate algebra on the language histogram (dimension-sized
    after one partial-aggregated count); the exponent interpolates
    between natural sampling (alpha=1) and uniform (alpha=0), and the
    emitted upsample_factor is the per-language repeat rate a sampler
    (sample_weighted) then applies. One scan, two broadcast scalars."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    raised = counts.crossJoin(F.broadcast(tot)).withColumn(
        "w", F.pow(F.col("n") / F.col("t").cast("double"), MIX_TEMPERATURE)
    )
    z = raised.agg(F.sum("w").alias("z"))
    nat = F.col("n") / F.col("t").cast("double")
    samp = F.col("w") / F.col("z")
    return (
        raised.crossJoin(F.broadcast(z))
        .select(
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            F.round(nat, 6).alias("natural_share"),
            F.round(samp, 6).alias("sampled_share"),
            F.round(samp / nat, 4).alias("upsample_factor"),
        )
    )


_IMPORTANCE_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
clean AS (SELECT doc_id, lang, tok FROM toks WHERE tok <> ''),
vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM clean),
src AS (SELECT tok, COUNT(*) AS n FROM clean GROUP BY tok),
src_tot AS (SELECT SUM(n) AS t FROM src),
tgt AS (SELECT tok, COUNT(*) AS n FROM clean WHERE lang = 'en' GROUP BY tok),
-- COALESCE: a corpus with no target-language slice has t = 0 (the add-1
-- smoothed LM stays defined), matching the conditional-aggregate form
tgt_tot AS (SELECT COALESCE(SUM(n), 0) AS t FROM tgt),
w AS (
  SELECT s.tok,
         ln((COALESCE(g.n, 0) + 1) / CAST(tgt_tot.t + vocab.v AS DOUBLE))
         - ln((s.n + 1) / CAST(src_tot.t + vocab.v AS DOUBLE)) AS lw
  FROM src s
  LEFT JOIN tgt g ON g.tok = s.tok
  CROSS JOIN src_tot CROSS JOIN tgt_tot CROSS JOIN vocab
),
per_doc AS (
  SELECT c.doc_id, c.lang, AVG(w.lw) AS logweight
  FROM clean c JOIN w ON w.tok = c.tok
  GROUP BY c.doc_id, c.lang
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(AVG(logweight), 6) AS mean_logweight,
       CAST(SUM(CASE WHEN logweight > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_target_like
FROM per_doc GROUP BY lang
"""


@register("data_importance_weights", "X", oracle=_IMPORTANCE_ORACLE,
          doc="Importance-resampling weights (the DSIR shape): per-token "
              "log p_target/p_source under add-1-smoothed unigram LMs "
              "(target = the 'en' slice), mean-pooled per doc — positive "
              "logweight marks documents that look like the target "
              "distribution; per-language means and target-like counts")
def data_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection by distribution matching, in three aggregates: both
    LMs are token-count tables off ONE exploded scan (conditional
    aggregation splits target from source), the per-token log-ratio
    table joins back keyed on the token (uniform; hot stopwords collapse
    in the count combiners and appear once in the weight table), and
    per-doc pooling is a partial-aggregated groupBy. At 100 TB the
    weight table is vocab-sized — broadcast if it fits, hash-join if
    not; nothing else changes."""
    docs = load(spark, sf_dir, "documents")
    clean = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    counts = clean.groupBy("tok").agg(
        F.count(F.lit(1)).alias("n_src"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_tgt"),
    )
    tots = counts.agg(
        F.sum("n_src").alias("t_src"),
        F.sum("n_tgt").alias("t_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    w = counts.crossJoin(F.broadcast(tots)).select(
        "tok",
        (
            F.log((F.col("n_tgt") + 1) / (F.col("t_tgt") + F.col("v")).cast("double"))
            - F.log((F.col("n_src") + 1) / (F.col("t_src") + F.col("v")).cast("double"))
        ).alias("lw"),
    )
    per_doc = (
        clean.join(w, "tok")
        .groupBy("doc_id", "lang")
        .agg(F.avg("lw").alias("logweight"))
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("logweight"), 6).alias("mean_logweight"),
        F.sum(F.when(F.col("logweight") > 0, 1).otherwise(0)).cast("long").alias("n_target_like"),
    )


_HEALTH_ORACLE = """
WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
dup AS (
  SELECT SUM(c - 1) AS removable FROM (
    SELECT COUNT(*) AS c
    FROM documents
    GROUP BY sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
  )
),
langs AS (
  SELECT -SUM(p * ln(p) / ln(2)) AS lang_entropy FROM (
    SELECT COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS p
    FROM documents GROUP BY lang
  )
),
toks AS (
  SELECT AVG(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS mean_tokens
  FROM documents
)
SELECT metric, round(value, 6) + 0.0 AS value FROM (
  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value, 1 AS ord FROM n
  UNION ALL
  SELECT 'exact_dup_rate', dup.removable / CAST(n.n_docs AS DOUBLE), 2
  FROM dup CROSS JOIN n
  UNION ALL
  SELECT 'lang_entropy_bits', lang_entropy, 3 FROM langs
  UNION ALL
  SELECT 'mean_doc_tokens', mean_tokens, 4 FROM toks
) ORDER BY ord
"""


@register("pipeline_health_dashboard", "X", oracle=_HEALTH_ORACLE,
          doc="One-query corpus health scorecard: document count, exact-"
              "duplicate rate, language-balance entropy (bits), and mean "
              "document length as metric/value rows — the at-a-glance "
              "panel a curation run opens and closes with, each metric "
              "the same formula its dedicated operator uses")
def pipeline_health_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four independent aggregates over one table, each dimension-sized
    before it reaches the union — the scorecard costs a handful of
    scans (Catalyst shares none of them across a union, so a production
    variant would cache the base scan; at this metric count the
    simplicity wins). Values share formulas with dedup_exact,
    data_mix_rebalance's histogram, and text_tokens, so the dashboard
    can never drift from the operators it summarizes."""
    from toy_map_reduce_spark.operators.dedup import _norm_text

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dup = (
        docs.groupBy(F.sha2(_norm_text(F.col("text")), 256))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") - 1).alias("removable"))
    )
    lang_p = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    lang_e = (
        lang_p.crossJoin(F.broadcast(lang_p.agg(F.sum("c").alias("t"))))
        .select((F.col("c") / F.col("t").cast("double")).alias("p"))
        .agg((-F.sum(F.col("p") * F.log("p") / F.log(F.lit(2.0)))).alias("lang_entropy"))
    )
    toks = docs.agg(
        F.avg(F.size(F.filter(F.split("text", " "), lambda t: t != ""))).alias("mean_tokens")
    )
    row = (
        n.crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(lang_e))
        .crossJoin(F.broadcast(toks))
    )
    metrics = F.array(
        F.struct(F.lit("n_docs").alias("metric"), F.col("n_docs").cast("double").alias("value")),
        F.struct(F.lit("exact_dup_rate").alias("metric"),
                 (F.col("removable") / F.col("n_docs").cast("double")).alias("value")),
        F.struct(F.lit("lang_entropy_bits").alias("metric"), F.col("lang_entropy").alias("value")),
        F.struct(F.lit("mean_doc_tokens").alias("metric"), F.col("mean_tokens").alias("value")),
    )
    # + 0.0 canonicalizes IEEE negative zero: a single-language corpus
    # has entropy -SUM(1*0) = -0.0 on one engine and 0.0 on the other
    return row.select(F.explode(metrics).alias("m")).select(
        "m.metric", (F.round("m.value", 6) + F.lit(0.0)).alias("value")
    )


_SPLIT_BY_SOURCE_ORACLE = f"""
WITH assigned AS (
  SELECT source,
         CASE WHEN {_FP_SQL} % 100 < 80 THEN 'train'
              WHEN {_FP_SQL} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
obs AS (SELECT source, split, COUNT(*) AS o FROM assigned GROUP BY 1, 2),
rt AS (SELECT source, SUM(o) AS row_total FROM obs GROUP BY source),
ct AS (SELECT split, SUM(o) AS col_total FROM obs GROUP BY split),
g AS (SELECT SUM(o) AS grand FROM obs),
grid AS (
  SELECT rt.source, ct.split, rt.row_total, ct.col_total, g.grand,
         COALESCE(obs.o, 0) AS o
  FROM rt CROSS JOIN ct CROSS JOIN g
  LEFT JOIN obs ON obs.source = rt.source AND obs.split = ct.split
)
SELECT source, split,
       CAST(o AS BIGINT) AS n_docs,
       round(o / CAST(row_total AS DOUBLE), 6) AS share_of_source,
       round(o - row_total * col_total / CAST(grand AS DOUBLE), 4) AS dev_from_expected
FROM grid
"""


@register("pipeline_split_by_source", "X", oracle=_SPLIT_BY_SOURCE_ORACLE,
          doc="Split-fairness audit: the train/val/test assignment crossed "
              "with source, each cell's deviation from independence — a "
              "content-hash split must NOT correlate with source, and "
              "this is the table that proves (or catches) it")
def pipeline_split_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The failure this catches: a split keyed on anything correlated
    with provenance (URLs, ids assigned per-feed) silently gives one
    source a different train share, and per-source eval numbers stop
    being comparable. Same fingerprint expression as dataset_split (one
    source of truth); the audit is the chi-square grid shape of
    stat_chi_square with deviations left unsquared so the DIRECTION of
    any bias is visible."""
    docs = load(spark, sf_dir, "documents")
    bucket = _fingerprint() % 100
    assigned = docs.select(
        "source",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )
    obs = assigned.groupBy("source", "split").agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("source").agg(F.sum("o").alias("row_total"))
    ct = obs.groupBy("split").agg(F.sum("o").alias("col_total"))
    g = obs.agg(F.sum("o").alias("grand"))
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(g))
        .join(obs, ["source", "split"], "left")
        .select(
            "source", "split",
            F.coalesce("o", F.lit(0)).alias("o"),
            "row_total", "col_total", "grand",
        )
    )
    return grid.select(
        "source", "split",
        F.col("o").cast("long").alias("n_docs"),
        F.round(F.col("o") / F.col("row_total").cast("double"), 6).alias("share_of_source"),
        F.round(
            F.col("o") - F.col("row_total") * F.col("col_total") / F.col("grand").cast("double"),
            4,
        ).alias("dev_from_expected"),
    )
