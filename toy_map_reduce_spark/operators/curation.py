"""Corpus-curation transforms (X tier): boilerplate-chunk removal and
URL canonicalization dedup — the cleaning stages a web-scale training
pipeline runs between crawl and tokenization (the C4 / RefinedWeb
"remove repeated lines" and "dedupe by canonical URL" steps), as exact
aggregate compositions with DuckDB twins.

text_boilerplate_shingles (textstats.py) *mines* the boilerplate report;
text_remove_boilerplate here actually *removes* it and rebuilds the
document — the transform counterpart to that diagnostic.

Scale notes (100 TB):
- Boilerplate detection is the capped_shingles pattern (dedup.py): chunk
  document frequency via partial+final groupBy aggregate — never a
  window on the chunk key — then the tiny top-K boilerplate list joins
  back as a broadcast. A chunk shared by 10^8 docs costs one combiner
  row per task, not a hot partition.
- Document rebuild sorts each doc's kept chunks AFTER the per-doc
  collect (array_sort on (idx, chunk) structs), so shuffle arrival
  order cannot change the digest — the same determinism contract as
  pipeline_shard_manifest.
- URL canonicalization is pure map-side string work; the keep-first
  dedup is one map-side-combined groupBy on the canonical key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load

# Boilerplate = the TOP_BOILERPLATE most document-frequent chunks
# (df desc, chunk asc tie-break — deterministic across engines). A
# relative top-K, unlike the absolute df cap in dedup.py, so the op is
# meaningful at every scale factor.
TOP_BOILERPLATE = 20
CHUNK_TOKENS = 2  # documented: chunks are non-overlapping 2-token spans

_REMOVE_BOILERPLATE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
ch AS (
  SELECT doc_id, u.idx, u.chunk
  FROM toks,
       LATERAL (SELECT unnest(range(len(t) // 2)) AS idx,
                       unnest([t[2*i+1] || ' ' || t[2*i+2]
                               FOR i IN range(len(t) // 2)]) AS chunk) u
),
df AS (
  SELECT chunk, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, chunk FROM ch)
  GROUP BY chunk
),
hot AS (SELECT chunk FROM df ORDER BY df DESC NULLS LAST, chunk NULLS FIRST LIMIT {TOP_BOILERPLATE}),
flagged AS (
  SELECT c.doc_id, c.idx, c.chunk, h.chunk IS NOT NULL AS bp
  FROM ch c LEFT JOIN hot h ON c.chunk = h.chunk
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       md5(COALESCE(string_agg(chunk, ' ' ORDER BY idx)
                      FILTER (WHERE NOT bp), '')) AS clean_digest
FROM flagged GROUP BY doc_id
"""


@register("text_remove_boilerplate", "X", oracle=_REMOVE_BOILERPLATE_ORACLE,
          doc=f"Boilerplate removal: drop each document's chunks that are "
              f"among the corpus-wide top-{TOP_BOILERPLATE} most "
              "document-frequent 2-token chunks, rebuild the cleaned text "
              "in position order and report its digest — the C4-style "
              "repeated-line filter as aggregate + broadcast anti-tag")
def text_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk df is a partial+final aggregate on (doc_id, chunk) distinct
    then chunk — the aggregate-not-window shape the capped_shingles fix
    established; the top-K list is TakeOrderedAndProject-sized and joins
    back as a broadcast, so the corpus never shuffles on the chunk key.
    The rebuilt-text digest sorts collected (idx, chunk) structs per doc
    before hashing, making it shuffle-order-independent."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    chunks_arr = F.expr(
        "CASE WHEN size(toks) >= 2 THEN "
        "  transform(sequence(0, int(size(toks)/2) - 1), "
        "            i -> concat(toks[2*i], ' ', toks[2*i+1])) "
        "ELSE array() END"
    )
    ch = docs.select("doc_id", F.posexplode(chunks_arr).alias("idx", "chunk"))
    df_tbl = (
        ch.select("doc_id", "chunk").distinct().groupBy("chunk").count()
    )
    hot = (
        df_tbl.orderBy(F.col("count").desc(), F.col("chunk").asc())
        .limit(TOP_BOILERPLATE)
        .select("chunk", F.lit(True).alias("bp"))
    )
    flagged = ch.join(F.broadcast(hot), "chunk", "left").select(
        "doc_id", "idx", "chunk", F.coalesce("bp", F.lit(False)).alias("bp")
    )
    kept_digest = F.md5(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(~F.col("bp"), F.struct("idx", "chunk")))
                ),
                lambda s: s["chunk"],
            ),
            " ",
        )
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("bp"), 1).otherwise(0)).cast("long").alias("n_removed"),
        kept_digest.alias("clean_digest"),
    )


# Inline URL corpus (no URL column in the fixtures): crafted variants
# that collapse under canonicalization — case in scheme/host, default
# ports, utm_* tracking params, empty params, param order, fragments,
# trailing slashes. Kept byte-identical between builder and oracle.
_URL_ROWS = [
    (1, "https://Example.COM/path/page?utm_source=x&id=5#frag"),
    (2, "https://example.com/path/page?id=5"),
    (3, "http://example.com:80/index/"),
    (4, "http://example.com/index"),
    (5, "HTTPS://example.com:443/path/page?id=5&utm_campaign=spring"),
    (6, "https://other.org/a?c=2&b=1&utm_medium=email"),
    (7, "https://other.org/a?b=1&c=2"),
    (8, "https://other.org/a/?b=1&c=2"),
    (9, "https://example.com/path/page?id=5&"),
    (10, "https://sub.other.org/a?b=1&c=2"),
]

_URL_VALUES = ", ".join(f"({i}, '{u}')" for i, u in _URL_ROWS)

_URL_CANONICAL_ORACLE = f"""
WITH raw(page_id, url) AS (VALUES {_URL_VALUES}),
parts AS (
  SELECT page_id,
         regexp_replace(url, '#.*$', '') AS nofrag
  FROM raw
),
split AS (
  SELECT page_id,
         split_part(nofrag, '?', 1) AS base,
         split_part(nofrag, '?', 2) AS query
  FROM parts
),
norm AS (
  SELECT page_id,
         regexp_replace(lower(regexp_extract(base, '^([a-zA-Z]+://[^/]*)', 1)),
                        ':(80|443)$', '') AS prefix,
         regexp_replace(substr(base, length(regexp_extract(base, '^([a-zA-Z]+://[^/]*)', 1)) + 1),
                        '/$', '') AS path,
         COALESCE(array_to_string(
           list_sort(list_filter(string_split(query, '&'),
                                 p -> p <> '' AND substr(p, 1, 4) <> 'utm_')),
           '&'), '') AS qcanon
  FROM split
),
canon AS (
  SELECT page_id,
         prefix || path ||
           CASE WHEN qcanon = '' THEN '' ELSE '?' || qcanon END AS canonical
  FROM norm
)
SELECT canonical,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       MIN(page_id) AS kept_id
FROM canon GROUP BY canonical
"""


@register("dedup_url_canonical", "X", oracle=_URL_CANONICAL_ORACLE,
          doc="URL canonicalization dedup (inline corpus): lowercase "
              "scheme+host, strip default ports / fragments / utm_* "
              "params / trailing slash, sort query params, then "
              "keep-first by canonical form — the CommonCrawl pre-dedup "
              "that removes the cheapest 30% of duplicates before any "
              "content hashing")
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization is pure map-side column work (regexp + array
    ops, no UDF); the keep-first collapse is one map-side-combined
    groupBy on the canonical string. At crawl scale this runs BEFORE
    fetching content — the reason it is its own operator and not a
    special case of dedup_exact."""
    raw = spark.createDataFrame(_URL_ROWS, ["page_id", "url"])
    nofrag = F.regexp_replace("url", "#.*$", "")
    base = F.expr("split_part(regexp_replace(url, '#.*$', ''), '?', 1)")
    query = F.expr("split_part(regexp_replace(url, '#.*$', ''), '?', 2)")
    s = raw.select("page_id", base.alias("base"), query.alias("query"))
    prefix_raw = F.regexp_extract("base", "^([a-zA-Z]+://[^/]*)", 1)
    prefix = F.regexp_replace(F.lower(prefix_raw), ":(80|443)$", "")
    path = F.regexp_replace(
        F.expr("substring(base, length(regexp_extract(base, '^([a-zA-Z]+://[^/]*)', 1)) + 1)"),
        "/$", "",
    )
    qcanon = F.array_join(
        F.array_sort(
            F.filter(
                F.split("query", "&"),
                lambda p: (p != "") & (p.substr(1, 4) != F.lit("utm_")),
            )
        ),
        "&",
    )
    canon = s.select(
        "page_id",
        F.concat(
            prefix,
            path,
            F.when(qcanon == "", "").otherwise(F.concat(F.lit("?"), qcanon)),
        ).alias("canonical"),
    )
    return canon.groupBy("canonical").agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"),
        F.min("page_id").alias("kept_id"),
    )


# --- exact-substring dedup (overlapping window fingerprints) ----------------
#
# The window-level formulation of "exact substring dedup" from the training-
# data dedup literature: any W-token span that appears verbatim in 2+
# documents is a duplicated substring. A suffix array (the single-node tool
# for this) does not distribute; the Spark-native equivalent fingerprints
# every OVERLAPPING W-token window (stride 1 — exact, no span can hide
# between samples) and finds hashes with document frequency >= 2.
SUBSTR_W = 8  # window width in tokens; spans shorter than W are not detected

_SUBSTR_TERMS = " || ' ' || ".join(f"t[i+{k}]" for k in range(1, SUBSTR_W + 1))

_DEDUP_SUBSTRING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE len(string_split(text, ' ')) >= {SUBSTR_W}
),
win AS (
  SELECT doc_id, u.idx, md5(u.wtext) AS h
  FROM toks, LATERAL (
    SELECT unnest(range(len(t) - {SUBSTR_W - 1})) AS idx,
           unnest([{_SUBSTR_TERMS} FOR i IN range(len(t) - {SUBSTR_W - 1})]) AS wtext
  ) u
),
dup AS (
  SELECT h FROM (SELECT DISTINCT doc_id, h FROM win)
  GROUP BY h HAVING COUNT(*) >= 2
),
flagged AS (
  SELECT w.doc_id, w.idx, d.h IS NOT NULL AS dup
  FROM win w LEFT JOIN dup d USING (h)
),
tot AS (
  SELECT doc_id, COUNT(*) AS n_windows,
         SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS n_dup
  FROM flagged GROUP BY doc_id
),
runs AS (
  SELECT doc_id, idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx NULLS FIRST) AS grp
  FROM flagged WHERE dup
),
longest AS (
  SELECT doc_id, MAX(cnt) AS longest FROM (
    SELECT doc_id, grp, COUNT(*) AS cnt FROM runs GROUP BY doc_id, grp
  ) GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_windows AS BIGINT) AS n_windows,
       CAST(t.n_dup AS BIGINT) AS n_dup_windows,
       CAST(l.longest AS BIGINT) AS longest_run,
       CAST(l.longest + {SUBSTR_W - 1} AS BIGINT) AS longest_tokens
FROM tot t JOIN longest l USING (doc_id)
WHERE t.n_dup > 0
"""


@register("dedup_substring", "X", oracle=_DEDUP_SUBSTRING_ORACLE,
          doc=f"Exact-substring dedup report: every overlapping {SUBSTR_W}-"
              "token window fingerprinted (md5), windows whose hash appears "
              "in 2+ distinct docs flagged, per-doc duplicated-window count "
              "and longest consecutive duplicated run (gaps-and-islands) — "
              "the distributed stand-in for suffix-array substring dedup")
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_report(load(spark, sf_dir, "documents"))


def substring_report(docs: DataFrame) -> DataFrame:
    """Scale shape: the window table is len(doc) rows/doc (stride 1), all
    downstream keys are uniform — the df>=2 test is a partial+final
    groupBy on the md5 hash (a hot boilerplate span costs one combiner
    row per task, never a hot partition), and the flag joins back keyed
    on the same uniform hash, NOT broadcast (the duplicated-hash set
    grows with the corpus, unlike the tiny top-K boilerplate list
    above). The longest-run window partitions by doc_id — bounded by
    document length. Intra-doc repeats are text_repetition's job; a
    window repeated only within one doc does not count here, matching
    the cross-document contract of substring dedup."""
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= SUBSTR_W
    )
    win = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - SUBSTR_W),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at("t", (i + k + 1).cast("int")) for k in range(SUBSTR_W)],
                ),
            )
        ).alias("idx", "wtext"),
    ).select("doc_id", "idx", F.md5("wtext").alias("h"))
    # win feeds both the df>=2 aggregate and the flag join; flagged feeds
    # both the per-doc totals and the run-length pass — persist each so
    # the fingerprint subtree and the flag join run once (staging-table
    # pattern, same as shingle_stage)
    win = scratch.persist(win)

    dup = (
        win.select("doc_id", "h").distinct()
        .groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 2)
        .select("h", F.lit(True).alias("dup"))
    )
    flagged = scratch.persist(win.join(dup, "h", "left").select(
        "doc_id", "idx", F.coalesce("dup", F.lit(False)).alias("dup")
    ))
    tot = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("n_dup"),
    )
    from pyspark.sql import Window

    rn = F.row_number().over(Window.partitionBy("doc_id").orderBy("idx"))
    runs = (
        flagged.where("dup")
        .select("doc_id", (F.col("idx") - rn).alias("grp"))
        .groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id").agg(F.max("cnt").alias("longest"))
    )
    return (
        tot.join(runs, "doc_id")
        .where(F.col("n_dup") > 0)
        .select(
            "doc_id",
            F.col("n_windows").cast("long").alias("n_windows"),
            F.col("n_dup").cast("long").alias("n_dup_windows"),
            F.col("longest").cast("long").alias("longest_run"),
            (F.col("longest") + SUBSTR_W - 1).cast("long").alias("longest_tokens"),
        )
    )


_CROSS_SOURCE_ORACLE = f"""
WITH toks AS (
  SELECT source, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT source, shingle FROM (
    SELECT source,
           unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                   FOR i IN range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
    FROM toks
  ) WHERE shingle <> ''
),
sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b,
       CAST(i.shared AS BIGINT) AS shared_shingles,
       round(i.shared / CAST(sa.n AS DOUBLE), 6) AS containment_a,
       round(i.shared / CAST(sb.n AS DOUBLE), 6) AS containment_b
FROM inter i
JOIN sizes sa ON sa.source = i.src_a
JOIN sizes sb ON sb.source = i.src_b
"""


@register("text_cross_source_overlap", "X", oracle=_CROSS_SOURCE_ORACLE,
          doc="Source-pair overlap matrix: distinct 3-gram shingles shared "
              "between every pair of sources with containment in each "
              "direction — the corpus-forensics view that shows which "
              "feeds mirror or scrape each other before per-document "
              "dedup even runs")
def text_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shingle table collapses to SOURCE grain before any join — a
    few rows per distinct (source, shingle), so the self-join is keyed
    on the shingle with fan-out bounded by the number of SOURCES sharing
    it (handfuls), not documents: no df cap needed at this grain. The
    directional containments tell ingest which feed is the subset
    (drop it) vs a genuine sibling (dedup at document grain)."""
    docs = load(spark, sf_dir, "documents")
    from toy_map_reduce_spark.functions.text import norm_text

    toks = docs.select("source", F.split(norm_text(F.col("text")), " ").alias("t")).where(
        F.size("t") >= 3
    )
    sh = toks.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("t", (i + 1).cast("int")),
                    F.element_at("t", (i + 2).cast("int")),
                    F.element_at("t", (i + 3).cast("int")),
                ),
            )
        ).alias("shingle"),
    ).where(F.col("shingle") != "").distinct()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a", "src_b",
            F.col("shared").cast("long").alias("shared_shingles"),
            F.round(F.col("shared") / F.col("n_a").cast("double"), 6).alias("containment_a"),
            F.round(F.col("shared") / F.col("n_b").cast("double"), 6).alias("containment_b"),
        )
    )


_SOURCE_DIVERGENCE_ORACLE = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
clean AS (SELECT source, tok FROM toks WHERE tok <> ''),
vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM clean),
corpus AS (SELECT tok, COUNT(*) AS n FROM clean GROUP BY tok),
ctot AS (SELECT SUM(n) AS t FROM corpus),
per_src AS (SELECT source, tok, COUNT(*) AS n FROM clean GROUP BY source, tok),
stot AS (SELECT source, SUM(n) AS t FROM per_src GROUP BY source),
kl AS (
  SELECT s.source,
         SUM(((s.n + 1) / CAST(stot.t + vocab.v AS DOUBLE))
             * ln(((s.n + 1) / CAST(stot.t + vocab.v AS DOUBLE))
                  / ((c.n + 1) / CAST(ctot.t + vocab.v AS DOUBLE)))) AS kl_partial,
         SUM((s.n + 1) / CAST(stot.t + vocab.v AS DOUBLE)) AS mass
  FROM per_src s
  JOIN corpus c ON c.tok = s.tok
  JOIN stot ON stot.source = s.source
  CROSS JOIN ctot CROSS JOIN vocab
  GROUP BY s.source
)
SELECT k.source,
       CAST(st.t AS BIGINT) AS n_tokens,
       round(k.kl_partial, 6) AS kl_vs_corpus_nats
FROM kl k JOIN stot st ON st.source = k.source
"""


@register("text_source_divergence", "X", oracle=_SOURCE_DIVERGENCE_ORACLE,
          doc="Per-source KL divergence from the corpus unigram "
              "distribution (add-1 smoothed, nats, over each source's "
              "observed vocabulary) — the outlier-feed detector: a source "
              "whose language diverges hard from the pool is machine "
              "noise, another language, or a scrape gone wrong")
def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same LM machinery as data_importance_weights pointed the other
    way: instead of scoring documents against a target, score each
    SOURCE against the pooled corpus. Both distributions come from one
    exploded scan (per-source counts roll up to corpus counts); the KL
    sum runs over each source's observed vocabulary (absent types
    contribute ~zero mass under add-1 at these sizes — documented
    truncation, identical on both engines)."""
    docs = load(spark, sf_dir, "documents")
    clean = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    per_src = clean.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    corpus = per_src.groupBy("tok").agg(F.sum("n").alias("cn"))
    stot = per_src.groupBy("source").agg(F.sum("n").alias("st"))
    ctot = corpus.agg(F.sum("cn").alias("ct"))
    vocab = corpus.agg(F.count(F.lit(1)).alias("v"))
    joined = (
        per_src.join(corpus, "tok")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(ctot))
        .crossJoin(F.broadcast(vocab))
    )
    ps = (F.col("n") + 1) / (F.col("st") + F.col("v")).cast("double")
    pc = (F.col("cn") + 1) / (F.col("ct") + F.col("v")).cast("double")
    kl = joined.groupBy("source").agg(
        F.round(F.sum(ps * F.log(ps / pc)), 6).alias("kl_vs_corpus_nats"),
        F.max("st").alias("st"),
    )
    return kl.select(
        "source", F.col("st").cast("long").alias("n_tokens"), "kl_vs_corpus_nats"
    )
