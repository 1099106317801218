"""Reference-semantics tier (R): the flagship word count.

The reference's entire data-plane capability is one fixed pipeline
(reference ``user/UserDefinedFunctions.scala:5-30``):

* ``mapFunction`` (lines 7-14): split the document on single spaces,
  lowercase each token, strip every non-word char (Java ``[^\\w]``, i.e.
  ASCII ``[^0-9A-Za-z_]``), emit ``(token, "1")`` — empty-string tokens
  (all-punctuation words, runs of spaces) are KEPT and counted.
* ``reduceFunction`` (lines 16-25): per key, integer-sum the values — with
  the mapper emitting ``"1"`` this is exactly ``COUNT(*)`` per word.
* ``partitionBy`` (lines 27-28): partition key = first character,
  uppercased.

Spark-first expression: ``explode(split(...))`` → ``regexp_replace(lower)``
→ ``groupBy().count()``. Catalyst gives partial (map-side) aggregation
automatically — strictly better than the reference, which ships every
``(word, "1")`` pair through its CSV shuffle files with no combiner
(reference ``worker/services/WorkerServiceImpl.scala:63-78``).

Scale notes (100 TB): the aggregation key is the word itself (high
cardinality → good hash distribution); partial agg collapses the shuffle to
|vocabulary| per partition. The reference's first-letter partitioning
(≤ 37 reducers, heavily skewed toward common letters) appears only as a
*grouping column* in ``wordcount_partitioned`` — the DataFrame path
deliberately does NOT repartition by it, because a 26-way skewed shuffle is
exactly what AQE/hash partitioning avoids. Only the literal RDD translation,
``wordcount_rdd``, shuffles into those 37 partitions.
"""

from __future__ import annotations

from operator import add

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load

from toy_map_reduce_spark.functions.text import NON_WORD_CLASS


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """documents → one row per token, reference tokenizer semantics.

    ``split(text, ' ', -1)`` keeps interior AND trailing empty tokens
    (limit -1). The reference's Scala ``String.split`` drops *trailing*
    empties only; the fixture corpus has no trailing spaces, and the golden
    test (tests/test_wordcount.py) pins equivalence against an independent
    Python reimplementation of the reference UDFs.
    """
    return df.select(
        F.explode(F.split(F.col(text_col), " ", -1)).alias("tok")
    ).select(F.regexp_replace(F.lower(F.col("tok")), NON_WORD_CLASS, "").alias("word"))


_WORDCOUNT_ORACLE = """
SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT regexp_replace(lower(unnest(string_split(text, ' '))), '[^0-9a-z_]', '', 'g') AS word
  FROM documents
)
GROUP BY word
"""


@register("wordcount", "R", oracle=_WORDCOUNT_ORACLE,
          doc="Flagship: reference word count over documents.text")
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = tokenize(load(spark, sf_dir, "documents"))
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


_WORDCOUNT_PART_ORACLE = """
SELECT upper(substr(word, 1, 1)) AS part_key, word, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT regexp_replace(lower(unnest(string_split(text, ' '))), '[^0-9a-z_]', '', 'g') AS word
  FROM documents
)
GROUP BY 1, 2
"""


def first_char_partition(word: str) -> int:
    """Reference partition key = upper(first char), mapped into the fixed
    37-partition space. NOT python ``hash()``: str hashing is
    seed-randomized per process, which would scatter one key across
    partitions."""
    return (ord(word[0].upper()) if word else 0) % 37


@register("wordcount_rdd", "R", oracle=_WORDCOUNT_ORACLE, bench=False,
          doc="The literal RDD translation of the reference pipeline: flatMap "
              "(mapFunction) → reduceByKey (reduceFunction) in one combined "
              "shuffle into the first-char partitioner's 37 partitions. Demo of "
              "the MapReduce-literal surface; the DataFrame wordcount is the "
              "production path")
def wordcount_rdd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1:1 mapping of the reference's three UDFs onto the RDD API
    (reference user/UserDefinedFunctions.scala:5-30):

    * ``mapFunction``  → ``flatMap`` emitting (token, 1)
    * ``reduceFunction`` and ``partitionBy`` → ``reduceByKey(add, 37,
      first_char_partition)``: one shuffle into the reference's 26+10+1
      first-char partitions. Spark also runs ``add`` map-side as a
      combiner, which the reference never did, so each map task ships one
      pair per distinct word instead of one per token.
    """
    import re

    non_word = re.compile(r"[^0-9A-Za-z_]")

    def tokenize_py(text: str) -> list[str]:
        return [non_word.sub("", t.lower()) for t in text.split(" ")]

    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select("text").rdd
        .flatMap(
            lambda row: [] if row.text is None else [(w, 1) for w in tokenize_py(row.text)]
        )
        .reduceByKey(add, 37, first_char_partition)
    )
    # explicit schema: inference samples the RDD and raises on an empty one
    return spark.createDataFrame(counts, "word string, cnt long")


@register("wordcount_partitioned", "R", oracle=_WORDCOUNT_PART_ORACLE,
          doc="Word count keyed by the reference partitioner (first char, uppercased)")
def wordcount_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ``partitionBy`` (UserDefinedFunctions.scala:27-28) surfaced
    as a grouping column: partition key = ``upper(substring(word, 1, 1))``."""
    words = tokenize(load(spark, sf_dir, "documents"))
    return (
        words.withColumn("part_key", F.upper(F.substring("word", 1, 1)))
        .groupBy("part_key", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("part_key", "word", "cnt")
    )
