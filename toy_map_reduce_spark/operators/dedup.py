"""Deduplication operators (X tier) — the LLM-training-pipeline extension
of the reference's MapReduce model (north star, BASELINE.json): exact
hash dedup, MinHash+LSH near-dup, SimHash, and exact n-gram Jaccard.

Scale notes (100 TB):

* ``dedup_exact`` is one hash-groupBy: shuffle keyed on a 256-bit digest —
  perfectly distributed, no skew, map-side partial agg collapses
  duplicates early.
* ``dedup_near`` is the classic banding trick: signature = k minhashes,
  band into b buckets, candidate pairs only *within* a bucket. Shuffle
  volume is b rows per doc (here 8) instead of the O(n²) all-pairs join —
  this is the only formulation that survives 100 TB.
* ``dedup_simhash`` keeps one 64-bit signature per doc (64 conditional
  sums, all JVM codegen); Hamming-near pairs are then found via 4-way
  block rotation (pigeonhole) rather than all-pairs.
* ``dedup_ngram_jaccard`` is the exact posting-list formulation: explode
  distinct shingles, self-join on shingle (inverted index), count
  intersections. Exact but shuffle-heavy — the verification stage you run
  on LSH candidates, not on the full corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load

# ---------------------------------------------------------------------------
# Near-dup knob table — recall/cost tradeoffs in one place so a tuner never
# has to re-derive them:
#
#   knob                  value  tradeoff
#   --------------------  -----  ------------------------------------------
#   NUM_HASHES            32     minhash estimator stderr ~ 1/sqrt(32)≈0.18;
#                                more hashes = tighter est_jaccard, more CPU
#   NUM_BANDS × BAND_ROWS 8×4    LSH threshold ≈ (1/b)^(1/r) = (1/8)^(1/4)
#                                ≈ 0.59 Jaccard; more bands = higher recall
#                                at lower thresholds but b rows/doc shuffle
#   DF_CAP                100    posting-list cap: a shingle in k docs makes
#                                k(k-1)/2 join rows, so the cap bounds the
#                                inverted-index join at DF_CAP²/2 per
#                                shingle; raising it raises recall on
#                                boilerplate-heavy corpora and join cost
#   SIMHASH_BLOCKS        4      pigeonhole blocks over the 64-bit simhash;
#                                exact retrieval requires
#                                SIMHASH_MAX_HAMMING ≤ SIMHASH_BLOCKS − 1
#   SIMHASH_MAX_HAMMING   3      looser = more pairs verified per bucket
# ---------------------------------------------------------------------------
NUM_HASHES = 32
NUM_BANDS = 8
BAND_ROWS = NUM_HASHES // NUM_BANDS


from toy_map_reduce_spark.functions.text import norm_text as _norm_text


# ---------------------------------------------------------------------------
# Cross-engine hash family (r10): every minhash/simhash signature used to be
# seeded xxhash64, which has no DuckDB twin — the whole near-dup family was
# therefore "rows-only" in the parity gate, the weakest check it offers. The
# family below is exactly as strong for LSH purposes and is bit-identical on
# both engines, promoting all of it to exact-oracle parity:
#
#   md5(item)  →  four 31-bit words x1..x4 (md5 is byte-identical in Spark
#                 and DuckDB; one digest per row, JVM-side in Spark)
#   h_j(item)  =  CW_lo_j ⊕ CW_hi_j packed into one 62-bit BIGINT, where
#                 CW_lo_j = (a_j·x1 + b_j·x2 + e_j) mod p  over p = 2³¹−1
#                 CW_hi_j = (c_j·x3 + d_j·x4 + f_j) mod p
#
# This is the classic Carter–Wegman universal family over the Mersenne prime
# p = 2³¹−1; two independent draws concatenated give a 62-bit range, so the
# r6 finding that a single 32-bit mod-p family measurably degraded planted-
# pair minhash recall does not apply (collision probability ~2⁻⁶²). Every
# product is < 2⁶² and every sum of residues < 3·2³¹, so the arithmetic never
# exceeds signed-64 range — load-bearing, because DuckDB ERRORS on BIGINT
# overflow while the JVM silently wraps; the formula must stay in the range
# where both engines agree. Constants a_j..f_j are derived from md5 of a
# fixed tag at import time (deterministic, no RNG) and are baked as literals
# into both the Spark expressions and the generated oracle SQL.
#
# Cost at scale: ONE md5 per shingle/token (vs 32 seeded xxhash64 calls
# before) plus integer arithmetic that whole-stage codegen folds — the
# signature stage got cheaper, and hashing was never the bottleneck (the
# bucket self-join dominates; see minhash_candidates).
# ---------------------------------------------------------------------------
import hashlib as _hashlib

CW_PRIME = 2147483647  # 2^31 − 1


def _cw_constants(j: int) -> tuple[int, int, int, int, int, int]:
    """Deterministic per-seed (a, b, e, c, d, f): multipliers in [1, p−1],
    offsets in [0, p−1], unpacked from 256 fixed md5 bits so no constant is
    degenerate and no runtime randomness exists."""
    v = int.from_bytes(
        _hashlib.md5(f"tmrs-cw-{j}-lo".encode()).digest()
        + _hashlib.md5(f"tmrs-cw-{j}-hi".encode()).digest(),
        "big",
    )
    out = []
    for mult in (True, True, False, True, True, False):
        if mult:
            out.append(1 + v % (CW_PRIME - 1))
            v //= CW_PRIME - 1
        else:
            out.append(v % CW_PRIME)
            v //= CW_PRIME
    return tuple(out)


_CW = [_cw_constants(j) for j in range(64)]


def _cw_sql(j: int, x1: str = "x1", x2: str = "x2", x3: str = "x3", x4: str = "x4") -> str:
    """The 62-bit CW hash for seed ``j`` over pre-projected words, as a SQL
    string. This ONE string is used by BOTH engines — parsed by Spark via
    ``F.expr`` and embedded verbatim in the DuckDB oracles — so the twins
    cannot drift. (Plain-Column construction was measured 8× slower to
    BUILD: 32 hashes × ~12 arithmetic nodes is hundreds of py4j round
    trips per query build, where one expr string parses JVM-side; the
    per-row execution cost is identical.)"""
    a, b, e, c, d, f = _CW[j]
    p = CW_PRIME
    lo = f"(({a}*{x1}) % {p} + ({b}*{x2}) % {p} + {e}) % {p}"
    hi = f"(({c}*{x3}) % {p} + ({d}*{x4}) % {p} + {f}) % {p}"
    return f"(({hi}) * 2147483648 + ({lo}))"


# Word extraction is the one place the two engines need different TEXT for
# the same VALUES (hex→int spelling differs): Spark parses the md5 halves
# with conv(), DuckDB with a '0x' cast. Cross-engine equality of the four
# words is pinned in tests (and transitively by every minhash oracle).
_X_WORDS_SPARK = [
    f"cast(conv(substring(md5(shingle), {1 + 8 * k}, 8), 16, 10) as bigint) & {CW_PRIME} as x{k + 1}"
    for k in range(4)
]
_X_WORDS_SQL = ", ".join(
    f"('0x'||substr(m,{1 + 8 * k},8))::BIGINT & {CW_PRIME} AS x{k + 1}" for k in range(4)
)


def _shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """documents → distinct (doc_id, shingle) word n-grams.

    Docs shorter than ``n`` tokens emit NO shingles — this matches the
    DuckDB oracles exactly (their ``t[i] || ' ' || t[i+1] ...`` shingle is
    NULL when an index is out of range and gets dropped; Spark's
    ``concat_ws`` would instead silently skip the null part and emit a
    truncated shingle, a cross-engine divergence on short docs)."""
    toks = df.select(
        "doc_id", F.split(_norm_text(F.col("text")), " ").alias("t")
    ).where(F.size("t") >= n)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - n),
                lambda i: F.concat_ws(" ", *[F.element_at("t", (i + j + 1).cast("int")) for j in range(n)]),
            )
        ).alias("shingle"),
    )
    return sh.where(F.col("shingle") != "").distinct()


# Document-frequency cap for the inverted-index self-join: a shingle shared
# by k documents produces k·(k-1)/2 join rows, so one boilerplate/template
# shingle (navigation chrome, license header, lorem filler) at corpus scale
# is a quadratic blow-up. Standard fix from the dedup literature: drop
# shingles whose posting list exceeds a fixed cap before joining — such
# shingles carry no near-duplicate signal anyway (they match *everything*).
# The cap bounds the join at DF_CAP²/2 rows per hot shingle.
DF_CAP = 100


def shingle_stage(docs: DataFrame) -> DataFrame:
    """The persisted shingle staging table: distinct (doc_id, shingle),
    cached MEMORY_AND_DISK because every consumer in a near-dup pipeline
    (minhash signatures, the df-cap aggregate, both sides of the
    inverted-index join, per-doc sizes) re-reads it — without the persist,
    Spark re-runs the scan→normalize→explode→distinct subtree once per
    consumer (measured 8–12 evaluations in one query plan). This mirrors
    what a production 100 TB dedup run does: materialize the shingle table
    once (disk-backed cache or a staging parquet), then fan out. The
    lineage stays intact, so the pipeline is still correct — just slower —
    if the cache is evicted. Like every persisted intermediate it lives
    until the query that made it is done (``toy_map_reduce_spark/scratch.py``);
    the next query over the same corpus stages it again."""
    return scratch.persist(_shingles(docs))


def capped_shingles(docs: DataFrame, df_cap: int = DF_CAP,
                    sh_all: DataFrame | None = None) -> DataFrame:
    """Distinct (doc_id, shingle) with hot shingles (df > ``df_cap``)
    removed — the single source of the posting-list cap for every exact
    Jaccard path (ngram_jaccard_pairs, dedup_near_verified, dedup_clusters).
    Pass ``sh_all`` (typically a ``shingle_stage`` frame) to share one
    persisted shingle table across pipeline stages.

    Scale mechanism: the df count is a ``groupBy("shingle").count()`` —
    partial (map-side) + final aggregation, so a shingle appearing in 10⁸
    docs contributes one partial row per input partition, never 10⁸ rows in
    one task. A ``Window.partitionBy("shingle")`` count would instead hash
    ALL occurrences of the hottest shingle into a single task before
    counting — the exact skew this operator exists to defuse. The surviving
    hot-shingle list is tiny by construction (every entry represents >
    ``df_cap`` docs, so ≤ n/df_cap entries), so it broadcasts, and the
    anti-join is map-side with zero shuffle of the posting lists.
    """
    if sh_all is None:
        sh_all = _shingles(docs)
    hot = (
        sh_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_cap)
        .select("shingle")
    )
    # Persisted for the same reason as shingle_stage: every consumer uses
    # the capped table 2-3x (both sides of the inverted-index join plus
    # the per-doc sizes), and without the persist each use re-runs the
    # hot-shingle aggregate + broadcast anti-join subtree.
    return scratch.persist(sh_all.join(F.broadcast(hot), "shingle", "left_anti"))


_DEDUP_EXACT_ORACLE = """
SELECT sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS text_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS dup_count
FROM documents
GROUP BY 1
"""


@register("dedup_exact", "X", oracle=_DEDUP_EXACT_ORACLE,
          doc="Exact dedup: normalized-text SHA-256 groupBy, min doc_id survives")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.sha2(_norm_text(F.col("text")), 256).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def _minhash_sig(sh: DataFrame) -> DataFrame:
    """(doc_id, shingle) → (doc_id, sig): one md5 per shingle projected to
    four 31-bit words, then one groupBy computing all 32 CW minhashes at
    once (single shuffle). The 62-bit CW family replaced seeded xxhash64
    in r10 so the whole near-dup family gets an exact DuckDB oracle — see
    the family note at the top of this module; quality is preserved (the
    r6 degradation was a single 32-bit range, this is 62-bit)."""
    words = sh.selectExpr("doc_id", *_X_WORDS_SPARK)
    minhash_cols = [
        F.expr(f"min({_cw_sql(j)})").alias(f"mh{j}") for j in range(NUM_HASHES)
    ]
    sig = words.groupBy("doc_id").agg(*minhash_cols)
    return sig.select("doc_id", F.array(*[f"mh{j}" for j in range(NUM_HASHES)]).alias("sig"))


def minhash_candidates(docs: DataFrame, sh_all: DataFrame | None = None) -> DataFrame:
    """documents → LSH candidate pairs (doc_a, doc_b, sig_a, sig_b):
    banding join, not all-pairs — shuffle is NUM_BANDS rows/doc. Pass
    ``sh_all`` to reuse a shared (persisted) shingle table."""
    sh = _shingles(docs) if sh_all is None else sh_all
    sig = _minhash_sig(sh)

    # bands: (doc_id, band_id, band_hash); bucket join on (band_id, band_hash).
    # Band key = md5 over the band's 4 minhashes — cross-engine, and still a
    # fixed-width bucket key so the shuffle stays NUM_BANDS rows/doc.
    band_structs = ", ".join(
        f"named_struct('band_id', {b}, 'band_hash', md5(concat_ws('|', "
        + ", ".join(f"element_at(sig, {b * BAND_ROWS + r + 1})" for r in range(BAND_ROWS))
        + ")))"
        for b in range(NUM_BANDS)
    )
    bands = sig.select(
        "doc_id", "sig", F.expr(f"explode(array({band_structs}))").alias("band")
    ).select("doc_id", "sig", "band.band_id", "band.band_hash")

    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )


# --- generated DuckDB twins for the minhash pipeline (r10) ----------------
# The shingle CTEs are textually identical to _NGRAM_JACCARD_ORACLE's; the
# minhash CTEs mirror minhash_candidates stage for stage: words (one md5 per
# shingle), sig (32 MIN aggregates), bands (8 zipped-unnest rows/doc keyed
# by md5 of the band's minhashes), cand (bucket self-join, doc_a < doc_b).
_SHINGLE_CTES = """
toks AS (
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
)"""


def _minhash_ctes(n_hashes: int = NUM_HASHES) -> str:
    mins = ",\n         ".join(f"MIN({_cw_sql(j)}) AS mh{j}" for j in range(n_hashes))
    band_keys = ", ".join(
        "md5(" + "||'|'||".join(f"mh{b * BAND_ROWS + r}::VARCHAR" for r in range(BAND_ROWS)) + ")"
        for b in range(NUM_BANDS)
    )
    band_ids = ", ".join(str(b) for b in range(NUM_BANDS))
    return f"""
mh_words AS (
  SELECT doc_id, {_X_WORDS_SQL}
  FROM (SELECT doc_id, md5(shingle) AS m FROM sh_all)
),
mh_sig AS (
  SELECT doc_id,
         {mins}
  FROM mh_words GROUP BY doc_id
),
mh_bands AS (
  SELECT doc_id, unnest([{band_ids}]) AS band_id,
         unnest([{band_keys}]) AS band_hash
  FROM mh_sig
),
mh_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM mh_bands a JOIN mh_bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)"""


_EST_SUM_SQL = " + ".join(
    f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)" for j in range(NUM_HASHES)
)

_DEDUP_NEAR_ORACLE = f"""
WITH {_SHINGLE_CTES},{_minhash_ctes()}
SELECT doc_a, doc_b, est_jaccard FROM (
  SELECT c.doc_a, c.doc_b,
         round(({_EST_SUM_SQL}) / {float(NUM_HASHES)}, 6) AS est_jaccard
  FROM mh_cand c
  JOIN mh_sig sa ON sa.doc_id = c.doc_a
  JOIN mh_sig sb ON sb.doc_id = c.doc_b
) WHERE est_jaccard >= 0.5
"""


@register("dedup_near", "X", oracle=_DEDUP_NEAR_ORACLE, bench=True,
          doc="MinHash+LSH near-dup: 32 deterministic 62-bit CW minhashes, "
              "8 bands of 4 — candidate pairs share a band bucket; similarity "
              "estimated from signature agreement. Exact-oracle since r10 "
              "(md5-seeded CW family is bit-identical in DuckDB); "
              "planted-duplicate recall is pytest-verified")
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = minhash_candidates(load(spark, sf_dir, "documents"))
    est = F.round(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq))
        / F.lit(float(NUM_HASHES)),
        6,
    )
    return (
        cand.select("doc_a", "doc_b", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= 0.5)
    )


_DEDUP_NEAR_VERIFIED_ORACLE = f"""
WITH {_SHINGLE_CTES},{_minhash_ctes()},
cap_sh AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
    FROM sh_all
  ) WHERE df <= {DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM cap_sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS both_cnt
  FROM mh_cand c
  JOIN cap_sh sa ON sa.doc_id = c.doc_a
  JOIN cap_sh sb ON sb.doc_id = c.doc_b AND sa.shingle = sb.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.both_cnt AS DOUBLE) / (na.n + nb.n - i.both_cnt), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE CAST(i.both_cnt AS DOUBLE) / (na.n + nb.n - i.both_cnt) >= 0.5
"""


@register("dedup_near_verified", "X", oracle=_DEDUP_NEAR_VERIFIED_ORACLE, bench=True,
          doc="The scale-correct two-stage near-dup pipeline: MinHash+LSH "
              "candidate generation (8 rows/doc shuffle) followed by exact "
              "3-gram Jaccard computed ONLY over candidate pairs — the "
              "inverted-index pass never touches non-candidate docs. "
              "Exact-oracle since r10; subset-of-exact + planted recall "
              "pytest-verified")
def dedup_near_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB this is the formulation that replaces a corpus-wide exact
    self-join: candidates are |pairs| ≪ n², and the verify joins are keyed
    on doc_id (uniform), so no posting-list skew can explode. Exact Jaccard
    uses the same df-capped shingle sets as dedup_ngram_jaccard. One
    persisted shingle table (shingle_stage) feeds both the LSH and verify
    stages."""
    docs = load(spark, sf_dir, "documents")
    sh_all = shingle_stage(docs)
    cand = minhash_candidates(docs, sh_all=sh_all).select("doc_a", "doc_b")

    sh = capped_shingles(docs, sh_all=sh_all)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))

    sa = sh.alias("sa")
    sb = sh.alias("sb")
    inter = (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sb,
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("both_cnt"))
    )
    na = sizes.alias("na")
    nb = sizes.alias("nb")
    jac = F.col("both_cnt").cast("double") / (F.col("na.n") + F.col("nb.n") - F.col("both_cnt"))
    return (
        inter.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .where(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, simhash): 64-bit SimHash per doc (md5 token
    hashes split into two 32-bit halves, bitwise majority vote). 64
    bit-count sums + one row count, all JVM codegen, one shuffle. md5
    replaced xxhash64 in r10 so the signature has an exact DuckDB twin —
    both engines read bit i from the same hex digest, so the vote sums
    and therefore the packed signature are bit-identical.

    The majority vote is reconstructed arithmetically: with S_i = Σ bit_i
    over a doc's token hashes and n = token count, the ±1 vote sum is
    2·S_i − n, so bit i of the signature is set iff 2·S_i > n — identical
    output to summing conditional ±1s, but the per-row aggregate input is
    a bare (h >> i) & 1 instead of a CASE WHEN per bit (the hot-path cost:
    64 expressions × every token in the corpus; measured ~25% off the
    signature aggregate at sf0.1)."""
    toks = docs.select(
        "doc_id", F.explode(F.split(_norm_text(F.col("text")), " ")).alias("tok")
    ).where(F.col("tok") != "")
    m = toks.select("doc_id", F.md5("tok").alias("m"))
    hashed = m.selectExpr(
        "doc_id",
        "cast(conv(substring(m, 1, 8), 16, 10) as bigint) as h1",
        "cast(conv(substring(m, 9, 8), 16, 10) as bigint) as h2",
    )

    # per-bit set counts + token count: one partial-aggregated shuffle;
    # bits 0..31 come from the first 32-bit half, 32..63 from the second
    # (both halves are non-negative, so the shifts never see a sign bit —
    # the regime where Spark's and DuckDB's >> provably agree). Built as
    # expr strings: 64 Column chains were measured at ~1 s of py4j build
    # time per query construction.
    bit_sums = [
        F.expr(f"sum(shiftright(h{'1' if i < 32 else '2'}, {i % 32}) & 1)").alias(f"s{i}")
        for i in range(64)
    ]
    votes = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nt"), *bit_sums)

    # majority: 2*S_i - n > 0  <=>  set bit i (ties -> 0, as before); one
    # pack expression mirroring the oracle's _SIMHASH_PACK_SQL, bit 63 as
    # the signed-64 minimum literal (shiftleft(1L, 63) wraps to the same
    # value, but the literal is what both engines' SQL parses)
    pack = (
        " + ".join(f"(CASE WHEN 2*s{i} > nt THEN {1 << i} ELSE 0 END)" for i in range(63))
        + " + (CASE WHEN 2*s63 > nt THEN -9223372036854775808 ELSE 0 END)"
    )
    return votes.select("doc_id", F.expr(pack).cast("long").alias("simhash"))


# --- generated DuckDB twins for the simhash pipeline (r10) ----------------
def _simhash_ctes() -> str:
    sums = ",\n         ".join(
        f"SUM((h{'1' if i < 32 else '2'} >> {i % 32}) & 1) AS s{i}" for i in range(64)
    )
    bits = ", ".join(f"CASE WHEN 2*s{i} > nt THEN 1 ELSE 0 END AS b{i}" for i in range(64))
    return f"""
sim_toks AS (
  SELECT doc_id, unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS tok
  FROM documents
),
sim_h AS (
  SELECT doc_id,
         ('0x'||substr(m,1,8))::BIGINT AS h1,
         ('0x'||substr(m,9,8))::BIGINT AS h2
  FROM (SELECT doc_id, md5(tok) AS m FROM sim_toks WHERE tok <> '')
),
sim_votes AS (
  SELECT doc_id, COUNT(*) AS nt,
         {sums}
  FROM sim_h GROUP BY doc_id
),
sim_bits AS (
  SELECT doc_id, {bits}
  FROM sim_votes
)"""


# bit 63's place value is −2⁶³ in two's complement: Spark's shiftleft(1L, 63)
# wraps to Long.MIN_VALUE in the JVM, while DuckDB would ERROR on 1<<63 — so
# the oracle adds the signed literal instead. Partial sums stay in signed-64
# range by construction (bits 0..62 sum to ≤ 2⁶³−1, then the negative term).
_SIMHASH_PACK_SQL = (
    " + ".join(f"b{i}*{1 << i}" for i in range(63))
    + " + (CASE WHEN b63 = 1 THEN -9223372036854775808 ELSE 0 END)"
)

_DEDUP_SIMHASH_ORACLE = f"""
WITH {_simhash_ctes()}
SELECT doc_id, CAST({_SIMHASH_PACK_SQL} AS BIGINT) AS simhash FROM sim_bits
"""


@register("dedup_simhash", "X", oracle=_DEDUP_SIMHASH_ORACLE, bench=True,
          doc="64-bit SimHash signature per document (md5 token hashes, "
              "bitwise majority vote) — exact-oracle since r10 (both "
              "engines vote on the same md5 bits); determinism and "
              "near-dup sensitivity pytest-verified")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(load(spark, sf_dir, "documents"))


# Pigeonhole pair retrieval: split the 64-bit signature into 4 blocks of 16
# bits. Any pair with Hamming distance ≤ 3 differs in at most 3 bits, so at
# least one of the 4 blocks is bit-identical — a self-join keyed on
# (block_id, block_value) finds every such pair while shuffling only 4
# rows/doc (Manku et al., WWW'07 formulation). The k² blow-up risk lives in
# hot (block_id, value) buckets, which for a hash-derived signature are
# near-uniform.
SIMHASH_BLOCKS = 4
SIMHASH_MAX_HAMMING = 3

# Pigeonhole guarantee: a pair within MAX_HAMMING bits differs in at most
# MAX_HAMMING blocks, so with MAX_HAMMING ≤ BLOCKS − 1 at least one block is
# identical and the block-keyed self-join finds every such pair. Violating
# this silently turns exact retrieval into approximate.
assert SIMHASH_MAX_HAMMING <= SIMHASH_BLOCKS - 1, "pigeonhole: max_hamming must be ≤ blocks − 1"
assert NUM_HASHES == NUM_BANDS * BAND_ROWS, "banding must tile the signature exactly"


def simhash_blocks(sig: DataFrame) -> DataFrame:
    """The persisted simhash block-rotation staging table:
    (doc_id, simhash, block_id, block_val), SIMHASH_BLOCKS rows per doc.
    Both sides of the pigeonhole self-join read it, so the persist makes
    the signature aggregate (64 bit-count sums) run once, not twice.
    Module-level so every consumer builds the IDENTICAL plan, which is
    what the CacheManager matches on (concurrent clients running the same
    query share one entry)."""
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("block_id"),
                    F.shiftright("simhash", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("block_val"),
                )
                for i in range(SIMHASH_BLOCKS)
            ])
        ).alias("blk"),
    ).select("doc_id", "simhash", "blk.block_id", "blk.block_val")
    return scratch.persist(blocks)


def simhash_pairs(sig: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING) -> DataFrame:
    """(doc_id, simhash) → (doc_a, doc_b, hamming) for pairs within
    ``max_hamming`` bits (exact under the pigeonhole guarantee for
    max_hamming ≤ SIMHASH_BLOCKS - 1)."""
    blocks = simhash_blocks(sig)
    a = blocks.alias("a")
    b = blocks.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


# Block values rebuilt from the vote bits (not by shifting the packed
# signature): DuckDB's >> on a negative BIGINT is not guaranteed to match
# Java's arithmetic shift, so the oracle never shifts a signed value. The
# per-block XOR popcounts sum to exactly bit_count(sig_a XOR sig_b).
def _simhash_blk_sql(k: int) -> str:
    return " + ".join(f"b{16 * k + i}*{1 << i}" for i in range(16))


_SIMHASH_HAMMING_SQL = " + ".join(
    f"bit_count(xor(a.blk{k}, b.blk{k}))" for k in range(SIMHASH_BLOCKS)
)

_DEDUP_SIMHASH_PAIRS_ORACLE = f"""
WITH {_simhash_ctes()},
sim_sigs AS (
  SELECT doc_id,
         {", ".join(f"CAST({_simhash_blk_sql(k)} AS BIGINT) AS blk{k}" for k in range(SIMHASH_BLOCKS))}
  FROM sim_bits
),
sim_blocks AS (
  SELECT doc_id, blk0, blk1, blk2, blk3,
         unnest([{", ".join(str(k) for k in range(SIMHASH_BLOCKS))}]) AS block_id,
         unnest([{", ".join(f"blk{k}" for k in range(SIMHASH_BLOCKS))}]) AS block_val
  FROM sim_sigs
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({_SIMHASH_HAMMING_SQL} AS INTEGER) AS hamming
FROM sim_blocks a JOIN sim_blocks b
  ON a.block_id = b.block_id AND a.block_val = b.block_val AND a.doc_id < b.doc_id
WHERE {_SIMHASH_HAMMING_SQL} <= {SIMHASH_MAX_HAMMING}
"""


@register("dedup_simhash_pairs", "X", oracle=_DEDUP_SIMHASH_PAIRS_ORACLE, bench=True,
          doc="SimHash near-dup pair retrieval: 4×16-bit block-rotation "
              "pigeonhole self-join (4 rows/doc shuffle, never all-pairs), "
              "Hamming ≤ 3 verify on bucket matches. Exact-oracle since "
              "r10; planted near-dup recall is pytest-verified")
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(simhash_signatures(load(spark, sf_dir, "documents")))


_NGRAM_JACCARD_ORACLE = f"""
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
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.both_cnt AS DOUBLE) / (sa.n + sb.n - i.both_cnt), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.both_cnt AS DOUBLE) / (sa.n + sb.n - i.both_cnt) >= 0.5
"""


def ngram_jaccard_pairs(docs: DataFrame, df_cap: int = DF_CAP) -> DataFrame:
    """Exact 3-gram Jaccard over a documents frame, df-capped.

    The df filter is a partial+final aggregate plus a broadcast anti-join
    (see ``capped_shingles``) — the quadratic posting-list explosion is
    bounded before it can happen, and no single task ever holds a hot
    shingle's full posting list.
    Jaccard is computed over the *capped* shingle sets on both engines
    (sizes too), keeping the oracle in lock-step.
    """
    sh = capped_shingles(docs, df_cap, sh_all=shingle_stage(docs))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("both_cnt"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("both_cnt").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("both_cnt"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .where(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register("dedup_ngram_jaccard", "X", oracle=_NGRAM_JACCARD_ORACLE,
          doc="Exact 3-gram Jaccard near-dup via inverted-index self-join "
              "(the verification stage for LSH candidates); posting lists "
              "df-capped at 100 so boilerplate shingles can't go quadratic")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"))


_DEDUP_EMBEDDING_ORACLE = """
WITH d AS (
  SELECT vec_id, label,
         [CAST(x AS DOUBLE) FOR x IN embedding] AS e
  FROM embeddings
),
n AS (
  SELECT vec_id, label, e,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x FOR x IN e]), (a, b) -> a + b)) AS nrm
  FROM d
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [a.e[i] * b.e[i] FOR i IN range(1, len(a.e) + 1)]), (x, y) -> x + y)
             / (a.nrm * b.nrm), 6) AS cosine
FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [a.e[i] * b.e[i] FOR i IN range(1, len(a.e) + 1)]), (x, y) -> x + y)
      / (a.nrm * b.nrm) >= 0.8
"""


@register("dedup_embedding", "X", oracle=_DEDUP_EMBEDDING_ORACLE, bench=False,
          doc="Embedding-cosine near-dup, blocked by label (the coarse-cell "
              "blocking an ANN index would provide); double-precision fold "
              "matches the DuckDB oracle bit-for-bit. bench=False: the "
              "all-pairs-within-block verify stage is quadratic by design")
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = emb.select(
        "vec_id",
        "label",
        as_double.alias("e"),
    ).withColumn(
        "nrm",
        F.sqrt(F.aggregate(F.transform(F.col("e"), lambda x: x * x), F.lit(0.0), lambda a, b: a + b)),
    )
    a = d.alias("a")
    b = d.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.e"), F.col("b.e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # try_divide: a zero-norm (empty/zero) vector has no cosine — NULL,
    # which the >= threshold then rejects on both engines
    cosine = F.try_divide(dot, F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .where(cosine >= 0.8)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine, 6).alias("cosine"),
        )
    )


CONTAINMENT_THRESHOLD = 0.6

_CONTAINMENT_ORACLE = f"""
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
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
    FROM sh_all
  ) WHERE df <= {DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS both_cnt
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.both_cnt AS DOUBLE) / sa.n, 6) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
WHERE CAST(i.both_cnt AS DOUBLE) / sa.n >= {CONTAINMENT_THRESHOLD}
"""


@register("dedup_containment", "X", oracle=_CONTAINMENT_ORACLE,
          doc="Shingle containment |A∩B|/|A| (asymmetric — catches doc A "
              "quoted inside a larger doc B, which symmetric Jaccard "
              "dilutes away); df-capped inverted index, both directions "
              "emitted")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same capped inverted-index join as ngram_jaccard_pairs (one shuffle
    on shingle, hot shingles broadcast-anti-joined away), but normalized by
    the LEFT doc's shingle count only — the quote/subset detector. A 50-
    shingle doc fully contained in a 5000-shingle doc scores 1.0 here vs
    Jaccard ≈ 0.01."""
    docs = load(spark, sf_dir, "documents")
    sh = capped_shingles(docs, sh_all=shingle_stage(docs))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("both_cnt"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    return (
        inter.join(sa, "doc_a")
        .where(F.col("both_cnt").cast("double") / F.col("n_a") >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("both_cnt").cast("double") / F.col("n_a"), 6).alias("containment"),
        )
    )


EDIT_DIST_LEN_BUCKET = 16  # docs within a bucket differ by < 16 chars
EDIT_DIST_MAX_FRAC = 0.2   # near-dup iff edits ≤ 20% of the shorter doc

_EDIT_DISTANCE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang,
         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm,
         CAST(floor(n_chars / {EDIT_DIST_LEN_BUCKET}) AS BIGINT) AS len_bucket
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.norm, b.norm) AS BIGINT) AS edit_dist
FROM d a JOIN d b
  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
WHERE levenshtein(a.norm, b.norm)
      <= {EDIT_DIST_MAX_FRAC} * least(length(a.norm), length(b.norm))
"""


@register("dedup_editdistance", "X", oracle=_EDIT_DISTANCE_ORACLE, bench=False,
          doc="Edit-distance near-dup verify: Levenshtein ≤ 20% of the "
              "shorter doc, candidate pairs blocked by (lang, length "
              "bucket) — the character-level verifier that catches "
              "small-edit duplicates token-level Jaccard scores as "
              "distinct")
def dedup_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein is O(len²) per pair, so it NEVER runs corpus-wide:
    the (lang, length-bucket) equi-join is the blocking stage (a real
    pipeline would use LSH candidates, as dedup_near_verified does —
    the length bucket keeps this one oracle-expressible), and the
    distance only verifies pairs inside a block. bench=False for the
    same reason dedup_embedding is: a quadratic-within-block verify
    stage is costed by its candidate generator, not benched standalone."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        _norm_text(F.col("text")).alias("norm"),
        F.floor(F.col("n_chars") / EDIT_DIST_LEN_BUCKET).alias("len_bucket"),
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.norm"), F.col("b.norm"))
    return (
        a.join(b, (F.col("a.lang") == F.col("b.lang"))
               & (F.col("a.len_bucket") == F.col("b.len_bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .where(dist <= EDIT_DIST_MAX_FRAC
               * F.least(F.length("a.norm"), F.length("b.norm")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("bigint").alias("edit_dist"),
        )
    )


_INCREMENTAL_DEDUP_ORACLE = """
WITH corpus AS (
  SELECT sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
  FROM documents WHERE doc_id % 2 = 0
),
incoming AS (
  SELECT doc_id, lang,
         sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
  FROM documents WHERE doc_id % 2 = 1
),
fresh AS (
  SELECT i.doc_id, i.lang, i.h,
         row_number() OVER (PARTITION BY i.h ORDER BY i.doc_id) AS rn
  FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = i.h)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS admitted,
       CAST((SELECT COUNT(*) FROM incoming) AS BIGINT) AS incoming_total
FROM fresh WHERE rn = 1
GROUP BY lang
"""


@register("dedup_incremental", "X", oracle=_INCREMENTAL_DEDUP_ORACLE,
          doc="Incremental ingest dedup: a new batch (odd doc_ids) admitted "
              "against the existing corpus (even doc_ids) — anti-join on "
              "content hash against the corpus, then first-wins dedup "
              "within the batch itself; per-language admission counts")
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape for continuous ingestion: the corpus side
    reduces to its hash set (in practice a bloom/hash index you maintain,
    not a rescan), the anti-join is keyed on the digest (uniform, no
    skew), and within-batch first-wins is a partial-aggregated argmin
    (min_by over the content hash), NOT a row_number window: a window
    partitioned by h must hash every replica of a hot content-hash into
    one task, while the aggregate combines map-side so a batch holding
    one document duplicated N times costs one combiner row per task —
    the same aggregate-not-window house rule capped_shingles documents
    and dedup_keep_longest already follows. The batch still shuffles
    once. Splitting one fixture table by doc_id parity stands in for
    corpus vs. new-crawl."""
    docs = load(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "lang", F.sha2(_norm_text(F.col("text")), 256).alias("h")
    )
    corpus = hashed.where(F.col("doc_id") % 2 == 0).select("h")
    incoming = hashed.where(F.col("doc_id") % 2 == 1)

    fresh = (
        incoming.join(corpus, "h", "left_anti")
        .groupBy("h")
        .agg(F.min_by("lang", "doc_id").alias("lang"))
    )
    n_incoming = incoming.agg(F.count(F.lit(1)).alias("incoming_total"))
    return (
        fresh.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("admitted"))
        .crossJoin(F.broadcast(n_incoming))
        .select("lang", "admitted", "incoming_total")
    )


# Ground-truth CTEs shared by the lsh_eval / ensemble oracles: exact
# df-capped Jaccard ≥ 0.5 pairs, textually mirroring _NGRAM_JACCARD_ORACLE.
_LSH_TRUTH_CTES = f"""
cap_sh AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
    FROM sh_all
  ) WHERE df <= {DF_CAP}
),
cap_sizes AS (SELECT doc_id, COUNT(*) AS n FROM cap_sh GROUP BY doc_id),
tr_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS both_cnt
  FROM cap_sh a JOIN cap_sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.doc_a, i.doc_b
  FROM tr_inter i
  JOIN cap_sizes na ON na.doc_id = i.doc_a
  JOIN cap_sizes nb ON nb.doc_id = i.doc_b
  WHERE CAST(i.both_cnt AS DOUBLE) / (na.n + nb.n - i.both_cnt) >= 0.5
)"""

_DEDUP_LSH_EVAL_ORACLE = f"""
WITH {_SHINGLE_CTES},{_minhash_ctes()},{_LSH_TRUTH_CTES},
stats AS (
  SELECT (SELECT COUNT(*) FROM mh_cand) AS nc,
         (SELECT COUNT(*) FROM truth) AS ntr,
         (SELECT COUNT(*) FROM mh_cand c JOIN truth t
            ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS nh
)
SELECT CAST(nc AS BIGINT) AS n_candidates,
       CAST(ntr AS BIGINT) AS n_truth,
       CAST(nh AS BIGINT) AS n_hits,
       CAST(CASE WHEN ntr = 0 THEN 1000000 ELSE (1000000 * nh) // ntr END AS BIGINT) AS recall_micro,
       CAST(CASE WHEN nc = 0 THEN 1000000 ELSE (1000000 * nh) // nc END AS BIGINT) AS precision_micro
FROM stats
"""


@register("dedup_lsh_eval", "X", oracle=_DEDUP_LSH_EVAL_ORACLE, bench=False,
          doc="LSH quality report: precision/recall of the MinHash-banding "
              "candidate set against exact df-capped Jaccard ≥ 0.5 ground "
              "truth, as micro-ints — the tuning feedback loop for the "
              "knob table (bands/rows/df-cap). Exact-oracle since r10; "
              "invariants pytest-pinned")
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """This is how the NUM_BANDS×BAND_ROWS threshold gets validated in
    production: run both pipelines over a sample, measure candidate
    recall against exact ground truth, adjust knobs. One shared
    persisted shingle stage feeds both sides; the pair-set comparison
    is two tiny joins on (doc_a, doc_b)."""
    docs = load(spark, sf_dir, "documents")
    sh_all = shingle_stage(docs)
    cand = minhash_candidates(docs, sh_all=sh_all).select("doc_a", "doc_b")
    truth = ngram_jaccard_pairs(docs).select("doc_a", "doc_b")

    n_cand = cand.count()
    n_truth = truth.count()
    n_hit = cand.join(truth, ["doc_a", "doc_b"], "inner").count()
    recall = (1_000_000 * n_hit) // n_truth if n_truth else 1_000_000
    precision = (1_000_000 * n_hit) // n_cand if n_cand else 1_000_000
    return spark.createDataFrame(
        [(n_cand, n_truth, n_hit, recall, precision)],
        "n_candidates long, n_truth long, n_hits long, recall_micro long, precision_micro long",
    )


PREFIX_LEN = 120

_DEDUP_PREFIX_ORACLE = f"""
WITH p AS (
  SELECT doc_id,
         substr(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), 1, {PREFIX_LEN}) AS prefix,
         length(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS norm_len
  FROM documents
)
SELECT md5(prefix) AS prefix_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(norm_len) AS BIGINT) AS min_len,
       CAST(MAX(norm_len) AS BIGINT) AS max_len
FROM p
WHERE length(prefix) = {PREFIX_LEN}
GROUP BY md5(prefix)
HAVING COUNT(*) > 1
"""


@register("dedup_prefix", "X", oracle=_DEDUP_PREFIX_ORACLE,
          doc="Prefix-hash dedup: clusters sharing an identical 120-char "
              "normalized prefix but (per the length spread) differing "
              "tails — the truncated-copy / pagination-duplicate detector "
              "exact-hash dedup misses and shingle Jaccard dilutes")
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated copies (same article cut at different lengths) defeat
    whole-text hashing and score poorly on symmetric Jaccard; a fixed-
    length prefix digest catches them with dedup_exact's exact cost
    model — one uniform hash-keyed groupBy, map-side combining. Short
    docs (< prefix length) are excluded: their 'prefix' is the whole
    doc, which exact dedup already owns."""
    docs = load(spark, sf_dir, "documents")
    norm = _norm_text(F.col("text"))
    p = docs.select(
        "doc_id",
        F.substring(norm, 1, PREFIX_LEN).alias("prefix"),
        F.length(norm).alias("norm_len"),
    ).where(F.length("prefix") == PREFIX_LEN)
    return (
        p.groupBy(F.md5("prefix").alias("prefix_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.min("norm_len").cast("bigint").alias("min_len"),
            F.max("norm_len").cast("bigint").alias("max_len"),
        )
        .where(F.col("n_docs") > 1)
    )


_SCURVE_ORACLE = f"""
WITH s AS (SELECT unnest(range(1, 20)) AS i)
SELECT CAST(i AS BIGINT) AS step,
       round(i / 20.0, 2) AS similarity,
       round(1 - pow(1 - pow(i / 20.0, {BAND_ROWS}), {NUM_BANDS}), 6)
         AS p_candidate
FROM s ORDER BY step
"""


@register("dedup_lsh_scurve", "X", oracle=_SCURVE_ORACLE,
          doc=f"Analytic LSH S-curve for the engine's own "
              f"{NUM_BANDS}×{BAND_ROWS} banding: candidate probability "
              "1-(1-s^r)^b on a similarity grid — the tuning table that "
              "justifies the knob values dedup_lsh_eval then measures")
def dedup_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed form behind the banding constants (see the knob table
    at the top of this module): r controls where the S-curve rises, b
    how sharply. Emitting it as a query keeps the design rationale
    executable — a tuner diffs this curve against dedup_lsh_eval's
    measured recall instead of re-deriving the algebra. Generated from
    a range, no input tables."""
    s = spark.range(1, 20).select(F.col("id").cast("long").alias("step"))
    sim = F.col("step") / 20.0
    return s.select(
        "step",
        F.round(sim, 2).alias("similarity"),
        F.round(
            1 - F.pow(1 - F.pow(sim, BAND_ROWS), NUM_BANDS), 6
        ).alias("p_candidate"),
    ).orderBy("step")


_KEEP_LONGEST_ORACLE = f"""
WITH p AS (
  SELECT doc_id,
         substr(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), 1, {PREFIX_LEN}) AS prefix,
         length(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS norm_len
  FROM documents
),
g AS (
  SELECT md5(prefix) AS prefix_hash, doc_id, norm_len,
         row_number() OVER (PARTITION BY md5(prefix)
                            ORDER BY norm_len DESC NULLS LAST, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY md5(prefix)) AS n_docs
  FROM p WHERE length(prefix) = {PREFIX_LEN}
)
SELECT prefix_hash,
       CAST(doc_id AS BIGINT) AS keep_id,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(norm_len AS BIGINT) AS kept_len
FROM g WHERE rn = 1 AND n_docs > 1
"""


@register("dedup_keep_longest", "X", oracle=_KEEP_LONGEST_ORACLE,
          doc="The keep decision for truncated-copy clusters: within each "
              "shared-prefix group, survive the LONGEST normalized copy "
              "(len desc, doc_id asc) — dedup_prefix finds the clusters, "
              "this picks which member enters the training set")
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_exact keeps min doc_id because exact copies are
    interchangeable; truncated copies are NOT — dropping the longest
    loses content. The argmax is max_by-style via min(struct(-len,
    doc_id)): a partial+final aggregate on the uniform prefix-hash key,
    no window, no skew exposure (contrast the oracle, which uses
    row_number only because DuckDB's arg_min lacks the composite
    tiebreak)."""
    docs = load(spark, sf_dir, "documents")
    norm = _norm_text(F.col("text"))
    p = docs.select(
        "doc_id",
        F.md5(F.substring(norm, 1, PREFIX_LEN)).alias("prefix_hash"),
        F.length(norm).alias("norm_len"),
        F.length(F.substring(norm, 1, PREFIX_LEN)).alias("plen"),
    ).where(F.col("plen") == PREFIX_LEN)
    return (
        p.groupBy("prefix_hash")
        .agg(
            F.min(F.struct((-F.col("norm_len")).alias("neg_len"), F.col("doc_id").alias("doc_id"))).alias("m"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .where(F.col("n_docs") > 1)
        .select(
            "prefix_hash",
            F.col("m.doc_id").cast("long").alias("keep_id"),
            F.col("n_docs").cast("long").alias("n_docs"),
            (-F.col("m.neg_len")).cast("long").alias("kept_len"),
        )
    )


def _pair_count_sql(method: str, cte: str) -> str:
    return (
        f"SELECT '{method}' AS method, (SELECT COUNT(*) FROM {cte})::BIGINT AS n_pairs, "
        f"(SELECT COUNT(DISTINCT d) FROM (SELECT doc_a AS d FROM {cte} "
        f"UNION ALL SELECT doc_b FROM {cte}))::BIGINT AS n_docs"
    )


_DEDUP_ENSEMBLE_ORACLE = f"""
WITH {_SHINGLE_CTES},{_minhash_ctes()},{_LSH_TRUTH_CTES},
mhp AS (
  SELECT doc_a, doc_b FROM (
    SELECT c.doc_a, c.doc_b,
           round(({_EST_SUM_SQL}) / {float(NUM_HASHES)}, 6) AS est
    FROM mh_cand c
    JOIN mh_sig sa ON sa.doc_id = c.doc_a
    JOIN mh_sig sb ON sb.doc_id = c.doc_b
  ) WHERE est >= 0.5
),{_simhash_ctes()},
sim_sigs AS (
  SELECT doc_id,
         {", ".join(f"CAST({_simhash_blk_sql(k)} AS BIGINT) AS blk{k}" for k in range(SIMHASH_BLOCKS))}
  FROM sim_bits
),
sim_blocks AS (
  SELECT doc_id, blk0, blk1, blk2, blk3,
         unnest([{", ".join(str(k) for k in range(SIMHASH_BLOCKS))}]) AS block_id,
         unnest([{", ".join(f"blk{k}" for k in range(SIMHASH_BLOCKS))}]) AS block_val
  FROM sim_sigs
),
shp AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sim_blocks a JOIN sim_blocks b
    ON a.block_id = b.block_id AND a.block_val = b.block_val AND a.doc_id < b.doc_id
  WHERE {_SIMHASH_HAMMING_SQL} <= {SIMHASH_MAX_HAMMING}
),
allp AS (
  SELECT doc_a, doc_b FROM mhp
  UNION ALL SELECT doc_a, doc_b FROM truth
  UNION ALL SELECT doc_a, doc_b FROM shp
),
votes AS (SELECT doc_a, doc_b, COUNT(*) AS n FROM allp GROUP BY 1, 2)
{_pair_count_sql("minhash_lsh", "mhp")}
UNION ALL {_pair_count_sql("ngram_jaccard", "truth")}
UNION ALL {_pair_count_sql("simhash_hamming", "shp")}
UNION ALL SELECT 'union_any', (SELECT COUNT(*) FROM votes)::BIGINT, (-1)::BIGINT
UNION ALL SELECT 'consensus_2of3', (SELECT COUNT(*) FROM votes WHERE n >= 2)::BIGINT, (-1)::BIGINT
UNION ALL SELECT 'consensus_3of3', (SELECT COUNT(*) FROM votes WHERE n >= 3)::BIGINT, (-1)::BIGINT
"""


@register("dedup_ensemble_report", "X", oracle=_DEDUP_ENSEMBLE_ORACLE, bench=False,
          doc="Near-dup method-agreement report: pair sets from MinHash-LSH, "
              "exact df-capped Jaccard, and SimHash-Hamming compared at "
              "(doc_a, doc_b) granularity — per-method pair/doc counts plus "
              "2-of-3 and 3-of-3 consensus rows. Exact-oracle since r10 "
              "(all three methods have md5-derived SQL twins)")
def dedup_ensemble_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How a production dedup rollout picks its operating point: run the
    candidate methods over the same slice, measure where they agree (the
    safe deletes) and where only one fires (the review queue). All three
    pair sets are |pairs|-sized, so the comparison is two tiny joins on
    (doc_a, doc_b); consensus pairs = those found by ≥2 methods — the
    usual 'delete only on agreement' policy."""
    docs = load(spark, sf_dir, "documents")
    sets = {
        "minhash_lsh": dedup_near(spark, sf_dir).select("doc_a", "doc_b"),
        "ngram_jaccard": ngram_jaccard_pairs(docs).select("doc_a", "doc_b"),
        "simhash_hamming": simhash_pairs(simhash_signatures(docs)).select("doc_a", "doc_b"),
    }
    tagged = None
    for m, df in sets.items():
        t = df.withColumn("method", F.lit(m))
        tagged = t if tagged is None else tagged.unionAll(t)
    votes = scratch.persist(tagged.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_methods")
    ))

    rows = []
    for m, df in sets.items():
        rows.append((m, df.count(), df.select("doc_a").unionAll(df.select("doc_b")).distinct().count()))
    uni = votes.count()
    two = votes.where(F.col("n_methods") >= 2).count()
    all3 = votes.where(F.col("n_methods") >= 3).count()
    scratch.release(votes)
    rows += [("union_any", uni, -1), ("consensus_2of3", two, -1), ("consensus_3of3", all3, -1)]
    return spark.createDataFrame(rows, "method string, n_pairs long, n_docs long")


def bbit_signatures(docs: DataFrame, sh_all: DataFrame | None = None) -> DataFrame:
    """documents → (doc_id, bbit_sig): 1-bit minhash (Li & König) — the
    lowest bit of each of the 64 minhashes packed into one 64-bit long.
    64 minhashes × 1 bit = 8 bytes/doc vs 64 × 8 bytes for the full
    signatures: a 64× index-memory reduction, paid for with a noisier
    estimator (collision probability for 1-bit agreement is
    (1+J)/2, so Ĵ = 2·agree/64 − 1)."""
    sh = _shingles(docs) if sh_all is None else sh_all
    words = sh.selectExpr("doc_id", *_X_WORDS_SPARK)
    mins = words.groupBy("doc_id").agg(
        *[F.expr(f"min({_cw_sql(j)})").alias(f"m{j}") for j in range(64)]
    )
    # the pack string is the SAME text the DuckDB oracle embeds (engine-
    # neutral SQL), so the two packings cannot drift; bit 63's place value
    # is the signed-64 minimum literal on both engines
    return mins.select("doc_id", F.expr(_BBIT_PACK_SQL).cast("long").alias("bbit_sig"))


_BBIT_PACK_SQL = (
    " + ".join(f"(CASE WHEN (m{j} & 1) = 1 THEN {1 << j} ELSE 0 END)" for j in range(63))
    + " + (CASE WHEN (m63 & 1) = 1 THEN -9223372036854775808 ELSE 0 END)"
)

_DEDUP_BBIT_ORACLE = f"""
WITH {_SHINGLE_CTES},
mh_words AS (
  SELECT doc_id, {_X_WORDS_SQL}
  FROM (SELECT doc_id, md5(shingle) AS m FROM sh_all)
),
mins AS (
  SELECT doc_id,
         {", ".join(f"MIN({_cw_sql(j)}) AS m{j}" for j in range(64))}
  FROM mh_words GROUP BY doc_id
),
packed AS (
  SELECT doc_id, CAST({_BBIT_PACK_SQL} AS BIGINT) AS bbit_sig FROM mins
)
SELECT doc_id, bbit_sig, CAST(bit_count(bbit_sig) AS INTEGER) AS popcount FROM packed
"""


@register("dedup_bbit_minhash", "X", oracle=_DEDUP_BBIT_ORACLE, bench=False,
          doc="1-bit minhash signatures (b-bit minhash, Li & König): the "
              "low bit of 64 minhashes packed into one long — 64× smaller "
              "index than full signatures; estimated Jaccard = "
              "2·(agreeing bits)/64 − 1 on planted pairs. Exact-oracle "
              "since r10; estimator behavior pytest-pinned")
def dedup_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memory lever for billion-document minhash indexes: banding/
    bucketing runs on the packed longs exactly as on full signatures
    (bit-slice the long into bands), and verification falls back to the
    exact df-capped Jaccard as usual — only the candidate-generation
    index shrinks. Emitted per doc with the popcount so the driver's
    rows-only check still sees a stable schema."""
    docs = load(spark, sf_dir, "documents")
    sig = bbit_signatures(docs)
    return sig.select(
        "doc_id", "bbit_sig", F.bit_count("bbit_sig").cast("int").alias("popcount")
    )


_DEDUP_SCOPE_ORACLE = """
WITH h AS (
  SELECT doc_id, source,
         sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS text_hash
  FROM documents
),
grp AS (
  SELECT text_hash, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources
  FROM h GROUP BY text_hash
  HAVING COUNT(*) > 1
)
SELECT CASE WHEN n_sources = 1 THEN 'within_source' ELSE 'cross_source' END AS scope,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(n_docs - 1) AS BIGINT) AS n_removable
FROM grp GROUP BY 1
"""


@register("dedup_exact_by_scope", "X", oracle=_DEDUP_SCOPE_ORACLE,
          doc="Duplicate-scope triage: exact-dup groups classified "
              "within-source vs cross-source with removable-copy counts — "
              "the measurement that decides whether dedup can run "
              "per-source partition (cheap, embarrassingly parallel) or "
              "must shuffle globally")
def dedup_exact_by_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operational question behind the report: if nearly all
    duplication is within-source, dedup runs inside each source's
    partition with NO global shuffle (hash-partition by source, dedup
    locally); a material cross-source share forces the global
    content-hash shuffle dedup_exact performs. One digest groupBy
    carrying a distinct-source count — same cost as dedup_exact
    itself."""
    docs = load(spark, sf_dir, "documents")
    h = docs.select(
        "source", F.sha2(_norm_text(F.col("text")), 256).alias("text_hash")
    )
    grp = (
        h.groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .where(F.col("n_docs") > 1)
    )
    return (
        grp.groupBy(
            F.when(F.col("n_sources") == 1, "within_source")
            .otherwise("cross_source")
            .alias("scope")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum(F.col("n_docs") - 1).cast("long").alias("n_removable"),
        )
    )


_COST_MODEL_ORACLE = f"""
WITH stats AS (
  SELECT COUNT(*) AS n_docs,
         SUM(greatest(len(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) - 2, 0))
           AS n_shingles
  FROM documents
)
SELECT method, shuffle_rows, bytes_per_doc FROM (
  SELECT 'exact_hash' AS method,
         CAST(n_docs AS BIGINT) AS shuffle_rows,
         CAST(32 AS BIGINT) AS bytes_per_doc, 1 AS ord FROM stats
  UNION ALL
  SELECT 'minhash_lsh', CAST(n_docs * {NUM_BANDS} AS BIGINT),
         CAST({NUM_HASHES} * 8 AS BIGINT), 2 FROM stats
  UNION ALL
  SELECT 'bbit_minhash', CAST(n_docs * {NUM_BANDS} AS BIGINT),
         CAST(8 AS BIGINT), 3 FROM stats
  UNION ALL
  SELECT 'simhash_pigeonhole', CAST(n_docs * {SIMHASH_BLOCKS} AS BIGINT),
         CAST(8 AS BIGINT), 4 FROM stats
  UNION ALL
  SELECT 'exact_jaccard_index', CAST(n_shingles AS BIGINT),
         CAST(NULL AS BIGINT), 5 FROM stats
) ORDER BY ord
"""


@register("dedup_cost_model", "X", oracle=_COST_MODEL_ORACLE, bench=False,
          doc="Analytic shuffle-cost model for the dedup strategies, "
              "evaluated against THIS corpus's stats: rows shuffled and "
              "per-doc index bytes for exact hash, MinHash-LSH, 1-bit "
              "minhash, SimHash pigeonhole, and the exact inverted index "
              "— the planning table that picks a strategy before running "
              "one (dedup_lsh_scurve's cost-side companion)")
def dedup_cost_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable design rationale, like dedup_lsh_scurve: shuffle volume
    is the dominant dedup cost, and each strategy's volume is a closed
    form of corpus stats — n docs (exact: one digest row each; LSH:
    NUM_BANDS rows; pigeonhole: SIMHASH_BLOCKS rows) or total shingles
    (the inverted index ships every posting). Index bytes/doc shows
    the b-bit trade: 8 bytes vs 256 for full signatures. The stats come
    from one aggregate; the table is constants × two numbers."""
    docs = load(spark, sf_dir, "documents")
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.greatest(F.size(F.split(_norm_text(F.col("text")), " ")) - 2, F.lit(0))
        ).alias("n_shingles"),
    )
    rows = F.array(
        F.struct(F.lit("exact_hash").alias("method"),
                 F.col("n_docs").cast("long").alias("shuffle_rows"),
                 F.lit(32).cast("long").alias("bytes_per_doc")),
        F.struct(F.lit("minhash_lsh").alias("method"),
                 (F.col("n_docs") * NUM_BANDS).cast("long").alias("shuffle_rows"),
                 F.lit(NUM_HASHES * 8).cast("long").alias("bytes_per_doc")),
        F.struct(F.lit("bbit_minhash").alias("method"),
                 (F.col("n_docs") * NUM_BANDS).cast("long").alias("shuffle_rows"),
                 F.lit(8).cast("long").alias("bytes_per_doc")),
        F.struct(F.lit("simhash_pigeonhole").alias("method"),
                 (F.col("n_docs") * SIMHASH_BLOCKS).cast("long").alias("shuffle_rows"),
                 F.lit(8).cast("long").alias("bytes_per_doc")),
        F.struct(F.lit("exact_jaccard_index").alias("method"),
                 F.col("n_shingles").cast("long").alias("shuffle_rows"),
                 F.lit(None).cast("long").alias("bytes_per_doc")),
    )
    return stats.select(F.explode(rows).alias("r")).select(
        "r.method", "r.shuffle_rows", "r.bytes_per_doc"
    )


_THRESHOLD_SWEEP_ORACLE = f"""
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
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
    FROM sh_all
  ) WHERE df <= {DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
jac AS (
  SELECT CAST(i.both_cnt AS DOUBLE) / (sa.n + sb.n - i.both_cnt) AS j
  FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS both_cnt
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
),
grid AS (SELECT unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS thr)
SELECT g.thr AS threshold,
       CAST(SUM(CASE WHEN j.j >= g.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
FROM grid g CROSS JOIN jac j
GROUP BY g.thr
"""


@register("dedup_threshold_sweep", "X", oracle=_THRESHOLD_SWEEP_ORACLE,
          doc="Jaccard-threshold operating curve: near-dup pair counts at "
              "seven thresholds from ONE df-capped pair computation — the "
              "tuning sweep that picks the dedup cutoff (and the LSH "
              "banding target via dedup_lsh_scurve) without re-running "
              "the join per candidate threshold")
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expensive object is the scored pair table; every threshold is
    just a predicate over it, so the sweep costs ONE inverted-index
    join plus a broadcast of seven literals. Operationally this is how
    the 0.5 default in dedup_ngram_jaccard gets justified — or
    revisited per-corpus."""
    docs = load(spark, sf_dir, "documents")
    sh = capped_shingles(docs, sh_all=shingle_stage(docs))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("both_cnt"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    jac = (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            (F.col("both_cnt").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("both_cnt"))).alias("j")
        )
    )
    grid = F.explode(F.array(*[F.lit(t) for t in (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)])).alias("threshold")
    return (
        jac.select("j", grid)
        .groupBy("threshold")
        .agg(F.sum(F.when(F.col("j") >= F.col("threshold"), 1).otherwise(0)).cast("long").alias("n_pairs"))
    )
