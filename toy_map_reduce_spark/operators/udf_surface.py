"""The PySpark UDF surface, reproducing the reference's three user-defined
functions (reference ``user/UserDefinedFunctions.scala:5-30``) on their
idiomatic Spark equivalents:

* ``mapFunction``  → a Python UDF returning ``array<string>`` + ``explode``
  (1 record → N records, the flatMap/UDTF shape);
* ``reduceFunction`` → a Pandas GROUPED_AGG UDF with the reference's
  garbage-tolerant fold: ``acc + Try(v.toInt).getOrElse(0)``
  (``UserDefinedFunctions.scala:23`` — unparseable values count as 0);
* ``partitionBy`` → a row Python UDF computing ``upper(first_char)``
  (``UserDefinedFunctions.scala:27-28``).

These exist to prove the UDF plumbing; the hot path everywhere else uses
built-in column expressions (JVM-side, codegen'd). At 100 TB the Pandas UDF
is the acceptable slow path (Arrow batches), the row UDF is demo-only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load


@F.udf(T.ArrayType(T.StringType()))
def py_tokenize(text: str) -> list[str]:
    """Row-at-a-time port of the reference mapFunction tokenizer
    (split on single space, lowercase, strip ASCII non-word)."""
    import re

    if text is None:
        return []
    return [re.sub(r"[^0-9A-Za-z_]", "", t.lower()) for t in text.split(" ")]


@F.udf(T.StringType())
def py_partition_key(word: str) -> str:
    """Reference partitionBy: first character, uppercased."""
    return word[:1].upper() if word else ""


@F.pandas_udf(T.LongType())
def tolerant_int_sum(v: pd.Series) -> int:
    """Reference reduceFunction fold: sum of int-parses, garbage → 0."""
    return int(pd.to_numeric(v, errors="coerce").fillna(0).sum())


@F.pandas_udf(T.LongType())
def pandas_count(v: pd.Series) -> int:
    """COUNT(*) as a grouped-agg pandas UDF — Spark disallows mixing pandas
    and non-pandas aggregates in one agg(), so the count rides the same
    Arrow batch."""
    return int(len(v))


_UDF_SURFACE_ORACLE = """
SELECT part_key,
       CAST(SUM(CASE WHEN TRY_CAST(val AS INTEGER) IS NULL THEN 0
                     ELSE CAST(val AS INTEGER) END) AS BIGINT) AS tolerant_sum,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT upper(substr(word, 1, 1)) AS part_key,
         CASE WHEN length(word) % 7 = 3 THEN 'garbage' ELSE CAST(length(word) AS VARCHAR) END AS val
  FROM (
    SELECT regexp_replace(lower(unnest(string_split(text, ' '))), '[^0-9a-z_]', '', 'g') AS word
    FROM documents
  )
)
GROUP BY part_key
"""


@register("udf_surface", "X", oracle=_UDF_SURFACE_ORACLE,
          doc="Reference UDF trio on the PySpark UDF surface: python-UDF "
              "flatMap + python-UDF partitioner + pandas grouped-agg "
              "garbage-tolerant sum", bench=False)
def udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline: py_tokenize (flatMap) → py_partition_key (partitioner) →
    tolerant_int_sum (reduce) — the full reference dataflow, with planted
    garbage values exercising the try-parse-else-0 rule."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(py_tokenize(F.col("text"))).alias("word"))
    shaped = words.select(
        py_partition_key(F.col("word")).alias("part_key"),
        F.when(F.length("word") % 7 == 3, F.lit("garbage"))
        .otherwise(F.length("word").cast("string"))
        .alias("val"),
    )
    return shaped.groupBy("part_key").agg(
        tolerant_int_sum(F.col("val")).alias("tolerant_sum"),
        pandas_count(F.col("val")).alias("cnt"),
    )


_UDTF_ORACLE = """
SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT regexp_replace(lower(unnest(string_split(text, ' '))), '[^0-9a-z_]', '', 'g') AS word
  FROM documents
)
WHERE word <> ''
GROUP BY word
"""


def _tokenize_udtf_cls():
    """Build the UDTF class lazily (the decorator needs a live Arrow/py4j
    context only at registration time, but keeping it in a factory also
    keeps import of this module side-effect-free)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string")
    class TokenizeUDTF:
        """The reference mapFunction as an OFFICIAL Python UDTF (1 row →
        N rows): split on single space, lowercase, strip ASCII non-word —
        the same semantics py_tokenize+explode emulate, on the dedicated
        table-function API."""

        def eval(self, text: str):  # noqa: D401
            import re

            if text is None:
                return
            for t in text.split(" "):
                w = re.sub(r"[^0-9A-Za-z_]", "", t.lower())
                if w:
                    yield (w,)

    return TokenizeUDTF


@register("udtf_surface", "X", oracle=_UDTF_ORACLE, bench=False,
          doc="Reference mapFunction on the dedicated Python UDTF API "
              "(lateral join of a table function, 1 row → N rows) — the "
              "first-class generator surface, vs udf_surface's "
              "array-UDF+explode emulation. Empty tokens filtered (UDTF "
              "yields only real words)")
def udtf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.udtf.register("tokenize_udtf", _tokenize_udtf_cls())
    return spark.sql(
        """
        SELECT t.word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM {docs} d, LATERAL tokenize_udtf(d.text) t
        GROUP BY t.word
        """,
        docs=load(spark, sf_dir, "documents"),
    )


_GROUPED_MAP_ORACLE = """
SELECT c_custkey,
       c_mktsegment,
       CAST(CAST(round(c_acctbal * 100) AS BIGINT)
              * COUNT(*) OVER (PARTITION BY c_mktsegment)
            - SUM(CAST(round(c_acctbal * 100) AS BIGINT))
              OVER (PARTITION BY c_mktsegment) AS BIGINT) AS dev_scaled_cents
FROM customer
"""


@register("udf_grouped_map", "X", oracle=_GROUPED_MAP_ORACLE, bench=False,
          doc="Full grouped-map generality via applyInPandas: per-segment "
              "mean-deviation where the whole group arrives as one pandas "
              "DataFrame — the surface the reference reduceFunction "
              "(key + ALL values → result, UserDefinedFunctions.scala:16-25) "
              "maps to when per-key logic outgrows SQL aggregates")
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas is the Arrow-batched grouped-map: one shuffle on the
    group key, then each group materializes as a pandas frame in the
    worker. That materialization is the scale contract — a group must fit
    in executor memory, which mktsegment-sized groups violate at 100 TB;
    real pipelines key by a bounded-cardinality-per-key column or
    pre-aggregate (the window-function twin in the oracle is the
    preferred formulation when the logic IS expressible). The deviation
    is scaled to exact integer cents (n·x − Σx), sidestepping pandas
    banker's rounding vs SQL half-up — a UDF output that crosses engines
    must avoid decimal rounding in float space. Registered as the
    API-surface demo, bench-excluded like the other UDF queries."""
    import pandas as pd

    cust = load(spark, sf_dir, "customer")

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        # float-with-NaN until the end: a NULL balance must yield a NULL
        # deviation (astype(int64) would raise), and .sum() skips NaN
        # exactly like SQL SUM skips NULL
        cents = (pdf["c_acctbal"] * 100).round()
        out = pdf[["c_custkey", "c_mktsegment"]].copy()
        out["dev_scaled_cents"] = (len(pdf) * cents - cents.sum()).astype("Int64")
        return out

    return cust.groupBy("c_mktsegment").applyInPandas(
        center, schema="c_custkey long, c_mktsegment string, dev_scaled_cents long"
    )


_UDTF_TABLE_ARG_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
"""


def _group_summary_udtf_cls():
    from pyspark.sql.functions import udtf

    @udtf(returnType="lang string, n_docs bigint, total_chars bigint")
    class GroupSummaryUDTF:
        """Polymorphic table-function over a PARTITION BY'd table argument:
        eval() sees every row of one partition, terminate() emits the
        group's summary — a Python-defined grouped aggregate surfaced
        through SQL's FROM clause."""

        def __init__(self) -> None:
            self._seen = False
            self._lang = None
            self._n = 0
            self._chars = None  # SUM semantics: all-NULL group sums to NULL

        def eval(self, row):  # noqa: D401
            self._seen = True
            self._lang = row["lang"]
            self._n += 1
            v = row["n_chars"]
            if v is not None:
                self._chars = (self._chars or 0) + int(v)

        def terminate(self):
            if self._seen:  # the NULL-lang group is a group too
                yield (self._lang, self._n, self._chars)

    return GroupSummaryUDTF


@register("udtf_table_arg", "X", oracle=_UDTF_TABLE_ARG_ORACLE, bench=False,
          doc="UDTF with a TABLE(...) PARTITION BY argument (Spark 4 "
              "polymorphic table function): per-partition eval/terminate "
              "lifecycle computing a grouped summary through the SQL FROM "
              "clause — the table-function twin of applyInPandas")
def udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION BY on the table argument is the distribution contract:
    Spark shuffles the input on the key and instantiates one UDTF per
    partition, streaming rows through eval() — unlike applyInPandas the
    group never materializes as one frame, so per-group state can be O(1)
    even when a group is huge. The oracle is the plain GROUP BY twin."""
    spark.udtf.register("tmr_group_summary", _group_summary_udtf_cls())
    return spark.sql(
        "SELECT * FROM tmr_group_summary(TABLE({docs}) PARTITION BY lang)",
        docs=load(spark, sf_dir, "documents"),
    )


# Arrow-optimized Python UDF (Spark 4 useArrow=True): same tolerant
# int-parse rule as the reference trio (``UserDefinedFunctions.scala:23``
# Try(toInt).getOrElse(0)), but executed over Arrow batches instead of
# pickled rows — the migration path for row UDFs that must stay Python.
@F.udf(T.LongType(), useArrow=True)
def arrow_tolerant_int(s: str) -> int:
    try:
        return int(s)
    except (TypeError, ValueError):
        return 0


_UDF_ARROW_ORACLE = """
WITH tagged AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey % 7 = 3 THEN 'garbage'
              ELSE CAST(o_orderkey % 100 AS VARCHAR) END AS raw
  FROM orders
)
SELECT o_orderpriority,
       CAST(SUM(COALESCE(TRY_CAST(raw AS BIGINT), 0)) AS BIGINT) AS tolerant_sum,
       CAST(COUNT(*) AS BIGINT) AS n
FROM tagged GROUP BY o_orderpriority
"""


@register("udf_arrow", "X", oracle=_UDF_ARROW_ORACLE,
          doc="Arrow-optimized Python UDF (useArrow=True): the reference's "
              "tolerant int parse over Arrow batches with a planted-garbage "
              "column — the ~10× faster serialization path for UDFs that "
              "cannot leave Python")
def udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical semantics to the pickled-row form in udf_surface, but
    the executor exchanges Arrow record batches with the Python worker —
    no per-row pickling. Benched (unlike udf_surface) precisely because
    the Arrow path is the one you would actually ship in a hot path when
    a Python dependency is unavoidable."""
    o = load(spark, sf_dir, "orders")
    raw = F.when(F.col("o_orderkey") % 7 == 3, F.lit("garbage")).otherwise(
        (F.col("o_orderkey") % 100).cast("string")
    )
    tagged = o.select("o_orderpriority", raw.alias("raw"))
    return tagged.groupBy("o_orderpriority").agg(
        F.sum(arrow_tolerant_int(F.col("raw"))).cast("long").alias("tolerant_sum"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
