"""Text-analysis operators (X tier): per-document statistics, heuristic
language ID, quality scoring, token counting, and document fingerprinting —
the text half of an LLM training-data pipeline, all pure column expressions
(JVM codegen, zero Python on the data path).

The fixture corpus is single-space-separated lowercase ASCII (verified in
TESTDATA exploration), which keeps every one of these exactly
SQL-expressible for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load

# tiny deterministic marker lists; fixed priority order breaks ties
LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "et", "les"),
    "zh": ("de", "le", "shi", "bu"),
}

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")


def _tokens(col):
    from toy_map_reduce_spark.functions.text import tokens

    return tokens(F.col(col))


_TEXT_STATS_ORACLE = """
WITH t AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks, length(text) AS len FROM documents)
SELECT doc_id, lang,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len AS INTEGER) AS n_chars_computed,
       n_chars,
       CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
       round(CAST(len - (len(toks) - 1) AS DOUBLE) / len(toks), 6) AS avg_token_len,
       round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS type_token_ratio
FROM t
"""


@register("text_stats", "X", oracle=_TEXT_STATS_ORACLE,
          doc="Per-document stats: token/char counts, distinct tokens, "
              "avg token length, type-token ratio")
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = _tokens("text")
    n_tok = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    ln = F.length("text")
    return docs.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        ln.alias("n_chars_computed"),
        "n_chars",
        n_dis.alias("n_distinct"),
        F.round((ln - (n_tok - 1)).cast("double") / n_tok, 6).alias("avg_token_len"),
        F.round(n_dis.cast("double") / n_tok, 6).alias("type_token_ratio"),
    )


def _marker_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"CAST(len(list_filter(toks, x -> x IN ({words}))) AS INTEGER)"


_LANG_ORDER = ("en", "es", "de", "fr", "zh")

_TEXT_LANG_ID_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id, lang,
         {", ".join(f"{_marker_score_sql(lg)} AS s_{lg}" for lg in _LANG_ORDER)}
  FROM t
)
SELECT doc_id, lang, s_en, s_es, s_de, s_fr, s_zh,
       CASE
         WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
         WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
         WHEN s_fr >= s_zh THEN 'fr'
         ELSE 'zh'
       END AS lang_guess
FROM s
"""


@register("text_lang_id", "X", oracle=_TEXT_LANG_ID_ORACLE,
          doc="Heuristic language ID: marker-token counts per language, "
              "argmax with fixed priority tie-break")
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    d = docs.select("doc_id", "lang", _tokens("text").alias("toks"))
    def _isin(markers):
        # single-param lambda factory: a two-param lambda would be treated
        # by F.filter as (element, index)
        return lambda x: x.isin(*markers)

    for lg in _LANG_ORDER:
        d = d.withColumn(
            f"s_{lg}",
            F.size(F.filter(F.col("toks"), _isin(LANG_MARKERS[lg]))),
        )
    guess = (
        F.when(
            (F.col("s_en") >= F.col("s_es")) & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")) & (F.col("s_en") >= F.col("s_zh")),
            "en",
        )
        .when(
            (F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr"))
            & (F.col("s_es") >= F.col("s_zh")),
            "es",
        )
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") >= F.col("s_zh")), "de")
        .when(F.col("s_fr") >= F.col("s_zh"), "fr")
        .otherwise("zh")
    )
    return d.select(
        "doc_id", "lang", "s_en", "s_es", "s_de", "s_fr", "s_zh", guess.alias("lang_guess")
    )


_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

_TEXT_QUALITY_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS len FROM documents),
m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS n_stop,
         len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))) AS n_numeric,
         CAST(len - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_wlen
  FROM t
)
SELECT doc_id,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
       round(CAST(n_numeric AS DOUBLE) / n_tokens, 6) AS numeric_ratio,
       round(mean_wlen, 6) AS mean_word_len,
       round(0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
             + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
             + 0.2 * (1.0 - CAST(n_numeric AS DOUBLE) / n_tokens), 6) AS quality_score
FROM m
"""


@register("text_quality", "X", oracle=_TEXT_QUALITY_ORACLE,
          doc="Quality scoring: stopword ratio, numeric ratio, mean word "
              "length, composite [0,1] score")
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = _tokens("text")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    n_num = F.size(F.filter(toks, lambda x: x.rlike("^[0-9]+$")))
    mean_wlen = (F.length("text") - (n_tok - 1)).cast("double") / n_tok
    score = (
        0.5 * (n_stop.cast("double") / n_tok)
        + 0.3 * F.least(n_tok.cast("double") / 100.0, F.lit(1.0))
        + 0.2 * (1.0 - n_num.cast("double") / n_tok)
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(n_stop.cast("double") / n_tok, 6).alias("stopword_ratio"),
        F.round(n_num.cast("double") / n_tok, 6).alias("numeric_ratio"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(score, 6).alias("quality_score"),
    )


_TEXT_TOKENS_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_ish_tokens,
       CAST(length(text) AS INTEGER) AS n_chars,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_llm_tokens
FROM documents
"""


@register("text_tokens", "X", oracle=_TEXT_TOKENS_ORACLE,
          doc="Token counting: whitespace split, BPE-ish regex segmentation, "
              "chars/4 LLM-token estimate")
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(_tokens("text")).alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).alias("bpe_ish_tokens"),
        F.length("text").alias("n_chars"),
        F.ceil(F.length("text") / 4.0).alias("approx_llm_tokens"),
    )


_NGRAM_FREQ_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bi AS (
  SELECT unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bigram
  FROM toks
)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt FROM bi
GROUP BY bigram
ORDER BY cnt DESC NULLS LAST, bigram ASC NULLS FIRST
LIMIT 100
"""


@register("text_ngram_freq", "X", oracle=_NGRAM_FREQ_ORACLE,
          doc="Corpus-wide top-100 bigram frequencies (n-gram language-model "
              "statistics; deterministic (cnt, bigram) ordering)")
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # single-token docs have no bigrams; without the guard sequence(0, -1)
    # yields [0, -1] and element_at(t, 0) throws INVALID_INDEX_OF_ZERO
    toks = docs.select(_tokens("text").alias("t")).where(F.size("t") >= 2)
    bigrams = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at("t", (i + 1).cast("int")), F.element_at("t", (i + 2).cast("int"))
                ),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(100)
    )


_LENGTH_HISTOGRAM_ORACLE = """
SELECT CAST(least(n_chars // 50, 16) AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY 1
"""


@register("text_length_histogram", "X", oracle=_LENGTH_HISTOGRAM_ORACLE,
          doc="Document-length histogram: 50-char integer buckets, top-capped "
              "(corpus length distribution for quality filtering; exact int "
              "arithmetic — DuckDB 1.0 has no width_bucket)")
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 50), F.lit(16)).cast("int")
    return (
        docs.select(bucket.alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


# shared TF-IDF core: one definition for both operators, builder and oracle
# (a tokenization or smoothing change must not be able to diverge them).
# The weight is rounded to 6dp BEFORE any ranking: mathematically-equal
# weights reached via different ln() expressions can differ by 1 ulp in
# opposite directions across engines (SURVEY.md §7.4), and an unrounded
# rank key would make the top-k cutoff engine-dependent.
_TFIDF_CTE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf
  FROM tf t JOIN df d ON t.term = d.term CROSS JOIN n
)
"""


def _tfidf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, tf, df, tfidf) — tfidf pre-rounded to 6dp. The corpus
    size joins in lazily as a one-row broadcast aggregate (no driver-side
    count(): builders must stay lazy — plan inspection alone must not run
    Spark jobs)."""
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    toks = docs.select("doc_id", F.explode(_tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )


_TFIDF_ORACLE = _TFIDF_CTE + """
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf
FROM scored
"""


@register("text_tfidf", "X", oracle=_TFIDF_ORACLE,
          doc="TF-IDF weights via pure DataFrame ops: per-doc term frequency "
              "⋈ document frequency (broadcast — vocabulary ≪ corpus) × ln(N/df)")
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tfidf_scored(spark, sf_dir)


_KEYWORDS_ORACLE = _TFIDF_CTE + """
SELECT doc_id, CAST(rn AS INTEGER) AS rnk, term, tfidf FROM (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC NULLS LAST, term ASC NULLS FIRST) AS rn
  FROM scored
) WHERE rn <= 3
"""


@register("text_keywords", "X", oracle=_KEYWORDS_ORACLE,
          doc="Keyword extraction: top-3 TF-IDF terms per document (window "
              "top-k on the 6dp-rounded weight, term tiebreak)")
def text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    scored = _tfidf_scored(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", F.col("rn").cast("int").alias("rnk"), "term", "tfidf")
    )


_TEXT_FINGERPRINT_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(toks, s -> CAST(length(s) * 131 + ascii(substr(s, 1, 1)) AS BIGINT))),
         (h, x) -> (h * 1000003 + x) % 2147483647
       ) AS fingerprint
FROM t
"""


@register("text_fingerprint", "X", oracle=_TEXT_FINGERPRINT_ORACLE,
          doc="Rolling polynomial document fingerprint over the token stream "
              "(portable integer arithmetic — exact cross-engine parity)")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok_codes = F.transform(
        _tokens("text"),
        lambda s: (F.length(s) * 131 + F.ascii(F.substring(s, 1, 1))).cast("long"),
    )
    # coalesce: split(NULL) is NULL, but the oracle's list_prepend(0,
    # NULL) folds to the 0 seed — a NULL doc fingerprints as 0 both sides
    fp = F.aggregate(
        F.coalesce(tok_codes, F.array().cast("array<long>")),
        F.lit(0).cast("long"),
        lambda h, x: (h * 1000003 + x) % 2147483647,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


_CHAR_NGRAM_ORACLE = """
SELECT trigram, CAST(COUNT(*) AS BIGINT) AS freq
FROM (
  SELECT substr(t, i, 3) AS trigram
  FROM (SELECT regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t FROM documents),
       LATERAL (SELECT unnest(range(1, length(t) - 1)) AS i) u
)
GROUP BY trigram
ORDER BY freq DESC NULLS LAST, trigram ASC NULLS FIRST
LIMIT 50
"""


@register("text_char_ngrams", "X", oracle=_CHAR_NGRAM_ORACLE,
          doc="Corpus-wide top-50 character trigrams (the language-ID / "
              "script-detection feature space): substring explode over "
              "normalized text, one count shuffle, TakeOrdered top-k")
def text_char_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from toy_map_reduce_spark.functions.text import norm_text

    docs = load(spark, sf_dir, "documents")
    grams = (
        docs.select(norm_text(F.col("text")).alias("t"))
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length("t") - 2, F.lit(1))),
                    lambda i: F.col("t").substr(i, F.lit(3)),
                )
            ).alias("trigram")
        )
        .where(F.length("trigram") == 3)
    )
    return (
        grams.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("trigram").asc())
        .limit(50)
    )


_ENTROPY_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
cnt AS (SELECT source, word, COUNT(*) AS c FROM tok GROUP BY source, word),
tot AS (SELECT source, SUM(c) AS n FROM cnt GROUP BY source)
SELECT cnt.source,
       CAST(tot.n AS BIGINT) AS n_tokens,
       CAST(round(-SUM((CAST(c AS DOUBLE) / tot.n) * log2(CAST(c AS DOUBLE) / tot.n)) * 1000000) AS BIGINT)
         AS micro_entropy
FROM cnt JOIN tot ON cnt.source = tot.source
GROUP BY cnt.source, tot.n
"""


@register("agg_entropy", "X", oracle=_ENTROPY_ORACLE,
          doc="Per-source Shannon token entropy (bits) as micro-ints — the "
              "corpus-diversity signal that flags template/spam sources "
              "(low entropy) in a training-data mix; two hash aggregations, "
              "no window")
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H = -Σ p·log2(p) over the source's word distribution. The word
    count combines map-side; the per-source total joins back on the tiny
    distinct-source frame, so token volume never concentrates — entropy of
    a 100 TB source costs one pass."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("word"))
    cnt = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        cnt.join(F.broadcast(tot), "source")
        .groupBy("source", F.col("n").cast("long").alias("n_tokens"))
        .agg(
            F.round(-F.sum(p * F.log2(p)) * 1_000_000)
            .cast("long")
            .alias("micro_entropy")
        )
    )


COOC_WINDOW = 3   # max token-position distance for a co-occurrence pair
COOC_TOP_N = 100

_COOCCURRENCE_ORACLE = f"""
WITH pos AS (
  SELECT doc_id, tok, CAST(i AS BIGINT) AS p
  FROM (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  ), LATERAL (SELECT unnest(toks) AS tok,
                     unnest(range(1, len(toks) + 1)) AS i) u
  WHERE tok <> ''
),
pairs AS (
  SELECT least(a.tok, b.tok) AS w1, greatest(a.tok, b.tok) AS w2,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id
   AND b.p - a.p BETWEEN 1 AND {COOC_WINDOW}
   AND a.tok <> b.tok
  GROUP BY 1, 2
)
SELECT w1, w2, n FROM pairs
ORDER BY n DESC NULLS LAST, w1 NULLS FIRST, w2 NULLS FIRST
LIMIT {COOC_TOP_N}
"""


@register("text_cooccurrence", "X", oracle=_COOCCURRENCE_ORACLE,
          doc="Skip-gram co-occurrence counts: token pairs within a "
              "±3-position window per document, unordered-canonicalized, "
              "corpus-wide top-100 — the count matrix behind GloVe/PMI "
              "embedding training")
def text_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The position self-join is keyed on doc_id (equi) with the window
    as a residual range predicate — fan-out is bounded by COOC_WINDOW
    per token, so the join output is ≤ w·|tokens|, linear in the corpus,
    never all-pairs-within-doc. The final top-100 is
    TakeOrderedAndProject with a total (n, w1, w2) order so ties can't
    flip between engines. At 100 TB the (w1, w2) count aggregate is the
    heavy shuffle, with map-side combining doing most of the collapse."""
    docs = load(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ", -1)).alias("i", "tok"),
    ).where(F.col("tok") != "").select(
        "doc_id", "tok", (F.col("i") + 1).cast("bigint").alias("p")
    )
    a, b = pos.alias("a"), pos.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.p") - F.col("a.p")).between(1, COOC_WINDOW)
            & (F.col("a.tok") != F.col("b.tok")),
        )
        .groupBy(
            F.least("a.tok", "b.tok").alias("w1"),
            F.greatest("a.tok", "b.tok").alias("w2"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.orderBy(F.col("n").desc(), "w1", "w2").limit(COOC_TOP_N)


BPE_TOP_N = 20

_BPE_PAIRS_ORACLE = f"""
WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY word
),
pairs AS (
  SELECT substr(word, i, 2) AS pair, CAST(SUM(freq) AS BIGINT) AS n
  FROM words, LATERAL (SELECT unnest(range(1, length(word))) AS i) u
  GROUP BY substr(word, i, 2)
)
SELECT pair, n FROM pairs
ORDER BY n DESC NULLS LAST, pair NULLS FIRST
LIMIT {BPE_TOP_N}
"""


@register("tokenize_bpe_pairs", "X", oracle=_BPE_PAIRS_ORACLE,
          doc="One BPE training step's core computation: adjacent-symbol "
              "pair counts within words, weighted by word frequency — the "
              "top pair is the next merge a byte-pair-encoding tokenizer "
              "would learn")
def tokenize_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale trick real BPE trainers use is right here: aggregate to
    the WORD-FREQUENCY table first (vocab-sized, not corpus-sized), then
    explode character pairs weighted by freq — pair counting costs
    O(vocab · word_len), independent of corpus row count after the first
    aggregate. The iterative trainer reruns this after each merge;
    dedup_clusters/graph_pagerank demonstrate that loop-unrolled shape."""
    from toy_map_reduce_spark.functions.text import norm_text

    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(norm_text(F.col("text")), " ")).alias("word")
        )
        .where(F.length("word") >= 2)  # 1-char words have no pairs; also
        # guards Spark's sequence(1, 0), which would generate a DESCENDING
        # [1, 0] range where DuckDB's range(1, 1) is empty
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = (
        words.select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.col("word").substr(i, F.lit(2)),
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
    )
    return pairs.orderBy(F.col("n").desc(), "pair").limit(BPE_TOP_N)


BOILERPLATE_MIN_FRAC = 10  # shingle is boilerplate if df ≥ n_docs / 10

_BOILERPLATE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                   FOR i IN range(1, greatest(len(t) - 2, 1) + 1)]) AS shingle
    FROM toks WHERE len(t) >= 3
  ) WHERE shingle <> ''
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
FROM sh, total
GROUP BY shingle, n_docs
HAVING COUNT(*) * {BOILERPLATE_MIN_FRAC} >= n_docs
"""


@register("text_boilerplate_shingles", "X", oracle=_BOILERPLATE_ORACLE,
          doc="Boilerplate mining: shingles present in ≥ 10% of documents "
              "with their document frequency — the inverse view of the "
              "dedup df-cap (what templates/navigation chrome look like "
              "corpus-wide), integer-exact threshold")
def text_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same partial+final shingle-df aggregate that powers
    capped_shingles (never a window on the shingle key), filtered from
    the other side: high-df survivors ARE the boilerplate report a
    curation team reviews before choosing DF_CAP. The threshold compares
    df·10 ≥ n_docs in integers, so no ratio can flip cross-engine."""
    from toy_map_reduce_spark.operators.dedup import _shingles

    docs = load(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df_tbl = _shingles(docs).groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        df_tbl.crossJoin(F.broadcast(n_docs))
        .where(F.col("df") * BOILERPLATE_MIN_FRAC >= F.col("n_docs"))
        .select("shingle", "df")
    )


_LANGID_CONFUSION_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id, lang,
         {", ".join(f"{_marker_score_sql(lg)} AS s_{lg}" for lg in _LANG_ORDER)}
  FROM t
),
guessed AS (
  SELECT lang,
         CASE
           WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
           WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
           WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
           WHEN s_fr >= s_zh THEN 'fr'
           ELSE 'zh'
         END AS lang_guess
  FROM s
)
SELECT lang, lang_guess,
       CAST(COUNT(*) AS BIGINT) AS n
FROM guessed
GROUP BY lang, lang_guess
"""


@register("text_langid_confusion", "X", oracle=_LANGID_CONFUSION_ORACLE,
          doc="Language-ID confusion matrix: true label × classifier guess "
              "counts — the evaluation rollup over text_lang_id's per-doc "
              "output, the matrix any classifier-stage pipeline reports")
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition, not new machinery: the per-doc classifier runs as the
    same pure column expressions as text_lang_id, and the confusion
    matrix is one |labels|²-bounded aggregate on top — at 100 TB the
    matrix costs the classifier scan plus a negligible shuffle."""
    from toy_map_reduce_spark.registry import get_spec

    per_doc = get_spec("text_lang_id").builder(spark, sf_dir)
    return per_doc.groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).alias("n")
    )


ZIPF_TOP_RANKS = 200

_ZIPF_ORACLE = f"""
WITH freq AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS f FROM (
    SELECT unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY word
),
ranked AS (
  SELECT f, row_number() OVER (ORDER BY f DESC NULLS LAST, word NULLS FIRST) AS rnk FROM freq
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
       round(regr_slope(ln(CAST(f AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6) AS zipf_slope,
       round(regr_r2(ln(CAST(f AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6) AS fit_r2
FROM ranked
WHERE rnk <= {ZIPF_TOP_RANKS}
"""


@register("text_zipf_slope", "X", oracle=_ZIPF_ORACLE,
          doc="Zipf-law fit: OLS slope of log frequency on log rank over "
              "the top-200 vocabulary — natural corpora slope ≈ −1; "
              "strong deviation flags synthetic or template-heavy data "
              "in a corpus audit")
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary aggregate (partial+final), then the top-200 slice via
    orderBy().limit() — Spark plans that as TakeOrderedAndProject (a
    distributed per-partition top-k + tiny driver merge), NOT a global
    sort, so the vocab-grain ordering never funnels through one task.
    The rank window then runs over the 200-row slice only. The (f DESC,
    word) tiebreak keeps rank assignment total, so both engines regress
    over identical (rank, freq) pairs."""
    from pyspark.sql import Window
    from toy_map_reduce_spark.functions.text import norm_text

    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split(norm_text(F.col("text")), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    top = freq.orderBy(F.col("f").desc(), "word").limit(ZIPF_TOP_RANKS)
    ranked = top.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.col("f").desc(), "word"))
    )
    lf = F.log(F.col("f").cast("double"))
    lr = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr), 6).alias("fit_r2"),
    )


_NGRAM_NOVELTY_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
ng AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ngram
  FROM t WHERE len(toks) >= 3
),
first_seen AS (
  SELECT ngram, MIN(doc_id) AS first_doc FROM ng GROUP BY ngram
)
SELECT ng.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(COUNT(*) FILTER (WHERE fs.first_doc = ng.doc_id) AS BIGINT) AS n_novel,
       round(CAST(COUNT(*) FILTER (WHERE fs.first_doc = ng.doc_id) AS DOUBLE)
             / COUNT(*), 6) AS novelty
FROM ng JOIN first_seen fs ON ng.ngram = fs.ngram
GROUP BY ng.doc_id
"""


@register("text_ngram_novelty", "X", oracle=_NGRAM_NOVELTY_ORACLE,
          doc="N-gram novelty per document: fraction of a doc's distinct "
              "word trigrams whose first corpus occurrence (min doc_id) is "
              "this doc — the incremental-information signal that ranks "
              "near-template docs at ~0 without any pairwise comparison")
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty without pairwise comparison: one groupBy on the trigram key
    assigns global first-occurrence (map-side partial min neutralizes hot
    boilerplate trigrams — the same aggregate-not-window rule as
    capped_shingles), one join back, one groupBy on doc_id. Shuffle
    volume is the distinct doc-trigram list, linear in corpus size."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    ).where(F.size("toks") >= 3)
    tri = F.expr(
        "transform(sequence(0, size(toks) - 3), "
        "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"
    )
    ng = docs.select("doc_id", F.explode(tri).alias("ngram")).distinct()
    first_seen = ng.groupBy("ngram").agg(F.min("doc_id").alias("first_doc"))
    novel = F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
    return (
        ng.join(first_seen, "ngram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            novel.alias("n_novel"),
            F.round(novel.cast("double") / F.count(F.lit(1)), 6).alias("novelty"),
        )
    )


BPE_N_MERGES = 6


def _sql_str(s: str) -> str:
    """SQL single-quoted string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _bpe_merge_fold_sql(sym_sql: str, a: str, b: str) -> str:
    """Greedy leftmost non-overlapping merge of adjacent (a, b) → a+b inside
    a symbol array, as a pure JVM higher-order fold (no UDF): the
    accumulator carries (emitted prefix, one pending symbol); each step
    either completes a merge, flushes the pending symbol, or starts a new
    pending one. Matches the replacement rule of reference BPE trainers.

    Built as a SQL STRING (the _bracketed_stats lesson): the Column-object
    form crossed py4j hundreds of times per merge, and bpe_apply chains
    |merges| folds — nesting is linear in text (each fold embeds the
    previous once), so one selectExpr parses the whole chain."""
    qa, qb, qab = _sql_str(a), _sql_str(b), _sql_str(a + b)
    hit = f"acc.pend = {qa} AND s = {qb}"
    return (
        f"aggregate({sym_sql}, "
        f"named_struct('out', CAST(array() AS ARRAY<STRING>), "
        f"'pend', CAST(NULL AS STRING)), "
        f"(acc, s) -> named_struct("
        f"'out', CASE WHEN acc.pend IS NULL THEN acc.out "
        f"WHEN {hit} THEN array_append(acc.out, {qab}) "
        f"ELSE array_append(acc.out, acc.pend) END, "
        f"'pend', CASE WHEN acc.pend IS NULL OR NOT ({hit}) THEN s "
        f"ELSE CAST(NULL AS STRING) END), "
        f"acc -> CASE WHEN acc.pend IS NULL THEN acc.out "
        f"ELSE array_append(acc.out, acc.pend) END)"
    )


def bpe_train(words: DataFrame, n_merges: int = BPE_N_MERGES):
    """(word, freq) → ordered merge list [(rank, pair_a, pair_b, merged,
    n), ...]: the actual BPE training loop. Each iteration counts
    adjacent symbol pairs weighted by word frequency (one partial+final
    aggregate over the vocab-sized table), pulls the single argmax row to
    the driver (trainer state is one pair — the same tiny-state pattern
    as k-means centroids), and rewrites the symbol arrays with a JVM
    fold. Ties break (count desc, pair_a asc, pair_b asc) so training is
    total-ordered and rerun-deterministic."""
    # localCheckpoint, not cache(): caching keeps the LOGICAL PLAN, which
    # after k rewrites nests the merge fold k deep — every iteration then
    # re-analyzes (and the final iteration re-codegens) a deeper
    # expression tree. Truncating to the materialized rows holds each
    # iteration's plan at depth 1 (measured 2.5 s -> 1.6 s for 6 merges
    # at sf0.1; same merge list). Same fix as the CC label loop.
    #
    # eager=False: the checkpoint materializes inside the NEXT pair-count
    # job instead of as its own job, halving the job count per merge
    # (rewrite + argmax were two barriers; now one), and the final
    # iteration's rewrite — which nothing reads — never runs at all.
    # Lineage truncation is identical: the plan is replaced by the
    # checkpoint RDD at construction either way.
    sym = words.select(
        F.filter(F.split("word", ""), lambda c: c != "").alias("sym"), "freq"
    ).localCheckpoint(eager=False)
    merges = []
    prev = None  # predecessor whose blocks the lazy `sym` may still need
    for rank in range(1, n_merges + 1):
        pair_struct = F.transform(
            F.sequence(F.lit(1), F.size("sym") - 1),
            lambda i: F.struct(
                F.element_at("sym", i.cast("int")).alias("pa"),
                F.element_at("sym", (i + 1).cast("int")).alias("pb"),
            ),
        )
        best = (
            sym.where(F.size("sym") >= 2)
            .select("freq", F.explode(pair_struct).alias("p"))
            .groupBy("p.pa", "p.pb")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), "pa", "pb")
            .first()
        )
        # `sym` is materialized now, so its predecessor's checkpoint
        # blocks are dead — releasing EARLIER would strand the lazy
        # checkpoint (lineage is truncated; blocks are the only copy)
        if prev is not None:
            prev.unpersist()
            prev = None  # released — the tail cleanup must not re-release
        if best is None:
            break
        a, b, n = best["pa"], best["pb"], best["n"]
        merges.append((rank, a, b, a + b, int(n)))
        new_sym = sym.selectExpr(
            f"{_bpe_merge_fold_sql('sym', a, b)} AS sym", "freq"
        ).localCheckpoint(eager=False)
        prev = sym
        sym = new_sym
    if prev is not None:
        prev.unpersist()
    sym.unpersist()
    return merges


@register("tokenize_bpe_train", "X", oracle=None,
          doc=f"Full BPE merge training ({BPE_N_MERGES} iterations) over the "
              "word-frequency table: per-iteration weighted pair counts → "
              "argmax merge → JVM-fold symbol rewrite; returns the learned "
              "merge list. Rows-only (the iterative fold has no SQL twin); "
              "pinned against a pure-Python reference trainer in pytest")
def tokenize_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale contract of distributed BPE: the corpus is touched ONCE
    (word-frequency aggregate — corpus-sized shuffle, map-side combined);
    every training iteration then runs over the vocab-sized table only,
    so 6 merges cost 6 small aggregates regardless of corpus size. Driver
    state per iteration is a single (pair, count) row. The symbol
    rewrite is a whole-stage-codegen fold — no Python touches row data."""
    from toy_map_reduce_spark.functions.text import norm_text

    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(norm_text(F.col("text")), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = bpe_train(words)
    return spark.createDataFrame(
        merges, "merge_rank int, pair_a string, pair_b string, merged string, n long"
    )


def bpe_apply(words: DataFrame, merges: list[tuple]) -> DataFrame:
    """Apply a learned merge list in rank order to a (word, freq) table:
    each merge is one chained JVM fold over the symbol arrays (the same
    rewrite the trainer used), so encoding is |merges| narrow map stages
    over the vocab-sized table — corpus rows are never touched. Returns
    (word, freq, n_sym)."""
    expr = "filter(split(word, ''), c -> c != '')"
    for _, a, b, _, _ in merges:
        expr = _bpe_merge_fold_sql(expr, a, b)
    # the chain nests linearly in text, so ONE selectExpr parses all
    # |merges| folds — a single Project, whole-stage-codegen'd once
    return words.selectExpr("word", "freq", f"size({expr}) AS n_sym")


@register("tokenize_bpe_apply", "X", oracle=None,
          doc="BPE encode pass with the merges tokenize_bpe_train learns: "
              "chained JVM-fold rewrites over the word-frequency table, "
              "corpus-level chars→tokens compression report. Rows-only "
              "(iterative fold, no SQL twin); encode pinned against the "
              "reference trainer's output in pytest")
def tokenize_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train + encode end-to-end, still touching the corpus exactly once:
    the merge list is driver-side (6 tiny rows), encoding is 6 chained
    whole-stage-codegen folds over the vocab table, and the compression
    report is one aggregate weighted by word frequency — the
    tokens-per-byte number a tokenizer change is judged by."""
    from toy_map_reduce_spark.functions.text import norm_text

    docs = load(spark, sf_dir, "documents")
    # persisted for the trainer's actions AND the lazy report, which reads
    # it again when the caller materializes it: the scope releases it then
    words = scratch.persist(
        docs.select(F.explode(F.split(norm_text(F.col("text")), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = bpe_train(words)
    enc = bpe_apply(words, merges)
    return enc.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_words"),
        F.sum("freq").cast("long").alias("corpus_words"),
        F.sum(F.length("word") * F.col("freq")).cast("long").alias("chars_total"),
        F.sum(F.col("n_sym") * F.col("freq")).cast("long").alias("tokens_total"),
        F.round(
            F.sum(F.col("n_sym") * F.col("freq"))
            / F.sum(F.length("word") * F.col("freq")).cast("double"),
            6,
        ).alias("tokens_per_char"),
    )


_LEXICAL_DIVERSITY_ORACLE = """
WITH per_doc AS (
  SELECT doc_id, lang,
         len(list_distinct(list_filter(string_split(text, ' '), t -> t <> '')))
           AS n_types,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(AVG(n_types / CAST(n_tokens AS DOUBLE)), 6) AS mean_ttr,
       round(MIN(n_types / CAST(n_tokens AS DOUBLE)), 6) AS min_ttr,
       CAST(SUM(CASE WHEN n_types / CAST(n_tokens AS DOUBLE) < 0.3
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_diversity
FROM per_doc WHERE n_tokens > 0
GROUP BY lang
"""


@register("text_lexical_diversity", "X", oracle=_LEXICAL_DIVERSITY_ORACLE,
          doc="Type-token ratio per document rolled up per language: mean "
              "and min TTR plus a low-diversity (< 0.3) count — the "
              "lexical-repetitiveness quality signal beside "
              "text_repetition's bigram looping detector")
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTR is array algebra per row (distinct count over the token array
    — no explode, no shuffle until the per-lang rollup), which is the
    right shape because the signal is per-document: the corpus-level
    aggregate only summarizes. Low TTR flags keyword-stuffed or
    template-generated docs a length/stopword filter passes."""
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    per_doc = docs.select(
        "lang",
        F.size(F.array_distinct(toks)).alias("n_types"),
        F.size(toks).alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    ttr = F.col("n_types") / F.col("n_tokens").cast("double")
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg(ttr), 6).alias("mean_ttr"),
        F.round(F.min(ttr), 6).alias("min_ttr"),
        F.sum(F.when(ttr < 0.3, 1).otherwise(0)).cast("long").alias("n_low_diversity"),
    )


_VOCAB_STATS_ORACLE = """
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
clean AS (SELECT lang, tok FROM toks WHERE tok <> ''),
freq AS (SELECT lang, tok, COUNT(*) AS n FROM clean GROUP BY lang, tok),
lt AS (SELECT lang, SUM(n) AS t FROM freq GROUP BY lang),
per_lang AS (
  SELECT f.lang,
         SUM(f.n) AS n_tokens,
         COUNT(*) AS n_types,
         SUM(CASE WHEN f.n = 1 THEN 1 ELSE 0 END) AS n_hapax,
         -SUM((f.n / CAST(lt.t AS DOUBLE)) * ln(f.n / CAST(lt.t AS DOUBLE))) AS h
  FROM freq f JOIN lt ON lt.lang = f.lang
  GROUP BY f.lang
)
SELECT lang,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       round(n_hapax / CAST(n_types AS DOUBLE), 6) AS hapax_rate,
       round(exp(h), 4) AS unigram_perplexity
FROM per_lang
"""


@register("text_vocab_stats", "X", oracle=_VOCAB_STATS_ORACLE,
          doc="Vocabulary statistics per language: token/type counts, "
              "hapax-legomena rate (share of once-seen types — the "
              "long-tail/noise indicator), and unigram perplexity "
              "exp(H) — the effective vocabulary size a uniform corpus "
              "of the same entropy would have")
def text_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four statistics fall out of ONE (lang, token) frequency
    aggregate: hapax is a conditional count, entropy is a sum over the
    frequency rows with the per-lang total as a window over the
    lang-keyed (bounded) partition. High hapax + low perplexity says
    'a few stopwords plus typo noise'; both high says genuine lexical
    richness — the pair reads together, which is why one operator
    emits both."""
    docs = load(spark, sf_dir, "documents")
    clean = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    from pyspark.sql import Window

    freq = clean.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang")
    p = F.col("n") / F.sum("n").over(w).cast("double")
    per = freq.select("lang", "n", (-p * F.log(p)).alias("h_term"))
    return per.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)) / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("hapax_rate"),
        F.round(F.exp(F.sum("h_term")), 4).alias("unigram_perplexity"),
    )
