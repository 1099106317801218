"""Source/sink connectors as roundtrip queries: CSV, JSON-lines,
partitioned parquet, and the reference's own ``key,value`` line-text
shuffle format.

The reference's entire I/O surface is plain text read with
``scala.io.Source`` and naive ``"$k,$v\\n"`` CSV concatenation (reference
``worker/services/WorkerServiceImpl.scala:60,72,92-96``, decode ``:132-135``
— first-comma split, silent ``("","")`` on malformed lines). Here each
format is a ``spark.read``/``df.write`` pair with explicit schemas (never
``inferSchema`` on a 100 TB feed) and ``mode("overwrite")`` sinks — the
reference's append-mode re-run duplication hazard (SURVEY.md §4.3) is
deliberately NOT reproduced.

Roundtrips write under the repo-local scratch dir (driver may invoke from
any cwd; nothing outside the repo is touched).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from toy_map_reduce_spark.registry import register
from toy_map_reduce_spark.tables import load

SCRATCH = os.environ.get("SPARK_GRAFT_SCRATCH", "/root/repo/.scratch")


def _scratch(sf_dir: str, name: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(SCRATCH, tag, name)


_CSV_ROUNDTRIP_ORACLE = """
SELECT NULLIF(l_returnflag, '') AS l_returnflag,
       round(SUM(round(l_extendedprice, 2)), 2) AS sum_price,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem
GROUP BY NULLIF(l_returnflag, '')
"""


@register("source_csv_roundtrip", "G", oracle=_CSV_ROUNDTRIP_ORACLE,
          doc="CSV sink + source roundtrip with explicit schema (values "
              "pre-rounded so text serialization is lossless), then aggregate")
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", F.round("l_extendedprice", 2).alias("price")
    )
    path = _scratch(sf_dir, "csv_roundtrip")
    li.write.mode("overwrite").option("header", "true").csv(path)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).option("header", "true").csv(path)
    return back.groupBy("l_returnflag").agg(
        F.round(F.sum("price"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("cnt"),
    )


_JSON_ROUNDTRIP_ORACLE = """
SELECT o_orderstatus,
       round(SUM(round(o_totalprice, 2)), 2) AS sum_price,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM orders
GROUP BY o_orderstatus
"""


@register("source_json_roundtrip", "G", oracle=_JSON_ROUNDTRIP_ORACLE,
          doc="JSON-lines sink + source roundtrip with explicit schema")
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price")
    )
    path = _scratch(sf_dir, "json_roundtrip")
    orders.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy(F.col("o_orderstatus")).agg(
        F.round(F.sum("price"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("cnt"),
    )


_PARTITIONED_SINK_ORACLE = """
SELECT NULLIF(o_orderstatus, '') AS o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       round(SUM(round(o_totalprice, 2)), 2) AS sum_price
FROM orders
GROUP BY NULLIF(o_orderstatus, '')
"""


@register("sink_partitioned_parquet", "G", oracle=_PARTITIONED_SINK_ORACLE,
          doc="Hive-style partitioned parquet sink (write.partitionBy) + "
              "partition-pruned read-back — the layout that enables partition "
              "pruning on a 100 TB table")
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price")
    )
    path = _scratch(sf_dir, "part_parquet")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    # explicit schema: a zero-row write leaves no part files to infer from
    back = spark.read.schema(orders.schema).parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("price"), 2).alias("sum_price"),
    )


_KV_TEXT_ORACLE = """
SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT regexp_replace(lower(unnest(string_split(text, ' '))), '[^0-9a-z_]', '', 'g') AS word
  FROM documents
)
GROUP BY word
"""


@register("source_kv_text_roundtrip", "R", oracle=_KV_TEXT_ORACLE,
          doc="The reference's shuffle-file format end-to-end: word counts "
              "serialized as 'key,value' text lines (WorkerServiceImpl.scala:72), "
              "read back with first-comma-split decode (:132-135), re-aggregated")
def source_kv_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes ``word,count`` lines exactly like the reference's map-side
    shuffle spill, then decodes with the same first-comma split (Spark
    ``substring_index`` ≡ Scala ``case s"$a,$b"`` on the first comma) and
    sums the parsed counts — proving the text shuffle format roundtrips."""
    from toy_map_reduce_spark.operators.wordcount import wordcount

    wc = wordcount(spark, sf_dir)
    path = _scratch(sf_dir, "kv_text")
    wc.select(F.concat_ws(",", "word", "cnt").alias("value")).write.mode(
        "overwrite"
    ).text(path)

    lines = spark.read.text(path)
    decoded = lines.select(
        F.substring_index("value", ",", 1).alias("word"),
        # reference semantics: garbage parses as 0 (UserDefinedFunctions.scala:23)
        F.coalesce(
            F.substring_index("value", ",", -1).cast("long"), F.lit(0)
        ).alias("cnt"),
    )
    return decoded.groupBy("word").agg(F.sum("cnt").alias("cnt"))


# The reference's one true input semantic: one map task reads an ENTIRE file
# into memory as a single string; the file name is the map key, the content
# the map value (WorkerServiceImpl.scala:60, UserDefinedFunctions.scala:8-9).
# Its input catalog is the fixed 13-file lorem corpus (MapTask.scala:19-87).
# The corpus root resolves from $SPARK_GRAFT_REFERENCE_DIR (default
# /root/reference) so the query is not pinned to one mount point; when no
# reference checkout exists at all, a tiny repo-local corpus with the same
# shape (plain .txt, space-separated words) keeps the query runnable.
import glob as _glob

_REFERENCE_DIR = os.environ.get("SPARK_GRAFT_REFERENCE_DIR", "/root/reference")
_WHOLETEXT_CORPUS = os.path.join(_REFERENCE_DIR, "worker-fs", "map-task-input")
if not _glob.glob(os.path.join(_WHOLETEXT_CORPUS, "*.txt")):
    _WHOLETEXT_CORPUS = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "data", "wholetext_corpus",
    )

_WHOLETEXT_ORACLE = f"""
SELECT file_key, word, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT parse_filename(filename) AS file_key,
         regexp_replace(lower(unnest(string_split(content, ' '))), '[^0-9a-z_]', '', 'g') AS word
  FROM read_text('{_WHOLETEXT_CORPUS}/*.txt')
)
GROUP BY file_key, word
"""


@register("source_wholetext", "R", oracle=_WHOLETEXT_ORACLE,
          doc="Whole-file-as-one-record source (filename = key, content = "
              "value — WorkerServiceImpl.scala:60) over the reference's real "
              "13-file corpus, run through the reference tokenizer "
              "(UserDefinedFunctions.scala:12-13) to per-file word counts")
def source_wholetext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-native whole-file read: ``wholetext=True`` gives one row
    per file (the exact reference semantic — content is NOT line-split, so
    tokens spanning newlines fuse under the space-only split, just as the
    reference's ``split(" ")`` on the whole string does), and
    ``input_file_name()`` recovers the filename key. Note for 100 TB: whole
    files are non-splittable by definition — parallelism is per-file, which
    is the semantic being reproduced, not a layout we'd choose for big
    inputs."""
    files = (
        spark.read.text(_WHOLETEXT_CORPUS, wholetext=True)
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file_key"),
            F.col("value").alias("content"),
        )
    )
    toks = files.select("file_key", F.explode(F.split("content", " ")).alias("tok"))
    words = toks.select(
        "file_key",
        F.regexp_replace(F.lower("tok"), "[^0-9a-z_]", "").alias("word"),
    )
    return words.groupBy("file_key", "word").agg(F.count(F.lit(1)).alias("cnt"))


_MERGE_SCHEMA_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(price) AS BIGINT) AS n_price,
       CAST(COUNT(o_orderstatus) AS BIGINT) AS n_status,
       round(SUM(price), 2) AS sum_price
FROM (
  SELECT o_orderkey, round(o_totalprice, 2) AS price, NULL AS o_orderstatus FROM orders
  UNION ALL
  SELECT o_orderkey, NULL, o_orderstatus FROM orders
)
"""


@register("source_parquet_merge_schema", "G", oracle=_MERGE_SCHEMA_ORACLE,
          doc="Schema-evolution read: two parquet batches with different "
              "column sets read back under mergeSchema=true — absent columns "
              "null-extend, the evolution semantics a long-lived 100 TB "
              "table relies on")
def source_parquet_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    path = _scratch(sf_dir, "merge_schema")
    orders.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    ).write.mode("overwrite").parquet(f"{path}/batch=1")
    orders.select("o_orderkey", "o_orderstatus").write.mode("overwrite").parquet(
        f"{path}/batch=2"
    )
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/batch=1", f"{path}/batch=2"
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("price").alias("n_price"),
        F.count("o_orderstatus").alias("n_status"),
        F.round(F.sum("price"), 2).alias("sum_price"),
    )


_CSV_MALFORMED_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 97 = 3) AS BIGINT) AS n_corrupt,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 97 <> 3) AS BIGINT) AS n_clean,
       round(SUM(CASE WHEN o_orderkey % 97 <> 3 THEN round(o_totalprice, 2) END), 2) AS clean_price_sum
FROM orders
"""


@register("source_csv_malformed", "G", oracle=_CSV_MALFORMED_ORACLE,
          doc="PERMISSIVE CSV parse with planted malformed rows: corrupt "
              "records surface in _corrupt_record instead of being silently "
              "coerced — the principled version of the reference's "
              "('','') garbage fallback (WorkerServiceImpl.scala:132-135)")
def source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every row whose orderkey ≡ 3 (mod 97) is written with a non-numeric
    price token, so the typed read can't parse it. PERMISSIVE mode keeps the
    row, nulls the typed columns, and preserves the raw line in the corrupt
    column — nothing is silently dropped or zeroed, and the counts prove
    exactly which rows failed."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )
    corrupted = orders.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.when(F.col("o_orderkey") % 97 == 3, F.lit("NOT_A_NUMBER")).otherwise(
                F.col("price").cast("string")
            ),
        ).alias("value")
    )
    path = _scratch(sf_dir, "csv_malformed")
    corrupted.write.mode("overwrite").text(path)

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).csv(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_corrupt_record").alias("n_corrupt"),
        (F.count(F.lit(1)) - F.count("_corrupt_record")).alias("n_clean"),
        F.round(F.sum("price"), 2).alias("clean_price_sum"),
    )


COMPACT_TARGET_FILES = 2

_COMPACT_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY l_returnflag
"""


@register("compact_small_files", "G", oracle=_COMPACT_ORACLE,
          doc="Small-files compaction: a fragmented write (32 files) is "
              "rewritten to 2 right-sized files and read back — byte-for-"
              "byte the same data, a fraction of the open/seek overhead. "
              "The maintenance job every long-lived parquet lake needs "
              "(file-count assertion in pytest)")
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files problem is a scan-throughput killer at 100 TB: a
    1000-executor job reading millions of KB-sized files pays per-file
    open/footer costs that dwarf the I/O. Compaction = read + repartition
    to target-size + rewrite. Here repartition(2) stands in for
    repartitioning to ~128 MB targets; the aggregate proves the rewrite
    lost nothing."""
    frag = _scratch(sf_dir, "compact/frag")
    tight = _scratch(sf_dir, "compact/tight")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity", "l_returnflag")
    li.repartition(32).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(COMPACT_TARGET_FILES).write.mode(
        "overwrite"
    ).parquet(tight)
    back = spark.read.parquet(tight)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
    )


# revenue accumulates in DECIMAL(38,4) (r9): the per-row product is
# IEEE-identical cross-engine and within ~1e-11 of its true 4-decimal
# value, so the cast recovers the exact value and the sum is
# order-independent — round(SUM(double),4) drifted past the halfway
# margin at sf0.1 (PARITY_r9) because 600k-term double sums differ ~1e-3
# between engines' accumulation orders.
_ORC_ROUNDTRIP_ORACLE = """
SELECT l_linestatus,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem
GROUP BY l_linestatus
"""


@register("source_orc_roundtrip", "G", oracle=_ORC_ROUNDTRIP_ORACLE,
          doc="ORC sink + source roundtrip: columnar-to-columnar with full "
              "binary fidelity (no pre-rounding needed, unlike the text "
              "formats), then the Q1-shaped aggregate on the read-back")
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC is Spark's second built-in columnar format; the roundtrip
    proves type fidelity (doubles survive bit-exactly, so the aggregate
    matches an oracle computed on the original parquet) and that the ORC
    scan supports the same pushdown surface — at scale ORC vs parquet is
    a storage-layout choice, not a semantics change. Snappy compression,
    the large-scale default."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount"
    )
    path = _scratch(sf_dir, "orc_roundtrip")
    li.write.mode("overwrite").option("compression", "snappy").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_linestatus").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(38,4)")
        ).cast("double").alias("revenue"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )


PYDS_PARTITIONS = 4
PYDS_ROWS_PER_PART = 250

_PYDS_ORACLE = f"""
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(val) AS BIGINT) AS total
FROM (
  SELECT range AS id,
         range % 10 AS bucket,
         (range * 37) % 1000 AS val
  FROM range({PYDS_PARTITIONS * PYDS_ROWS_PER_PART})
)
GROUP BY bucket
"""


@register("source_python_datasource", "G", oracle=_PYDS_ORACLE,
          doc="Custom connector via the Python DataSource API (Spark 4): a "
              "partition-aware deterministic generator source registered "
              "with spark.dataSource.register, read in parallel (one task "
              "per InputPartition), then aggregated")
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python DataSource API is the connector surface for systems
    with no JVM driver: schema(), partitions() (the parallelism
    contract — each InputPartition becomes one task, exactly how a real
    connector maps shards/splits), and a per-partition read() generator
    crossing to the JVM via Arrow batches. The generator here is
    deterministic pure arithmetic so the DuckDB oracle can reproduce it
    exactly — the plumbing (registration, planning, parallel read) is
    the real thing a warehouse/REST/queue connector would use."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    n_parts, per_part = PYDS_PARTITIONS, PYDS_ROWS_PER_PART

    class _RangePartition(InputPartition):
        def __init__(self, idx: int):
            self.idx = idx

    class _SynthReader(DataSourceReader):
        def partitions(self):
            return [_RangePartition(i) for i in range(n_parts)]

        def read(self, partition):
            base = partition.idx * per_part
            for i in range(base, base + per_part):
                yield (i, i % 10, (i * 37) % 1000)

    class SynthSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "tmr_synth"

        def schema(self) -> str:
            return "id long, bucket long, val long"

        def reader(self, schema):
            return _SynthReader()

    spark.dataSource.register(SynthSource)
    df = spark.read.format("tmr_synth").load()
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.sum("val").cast("bigint").alias("total")
    )


_DYN_OVERWRITE_ORACLE = """
SELECT NULLIF(l_returnflag, '') AS l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM (
  SELECT l_returnflag, l_quantity FROM lineitem
  WHERE l_returnflag <> 'A' OR l_returnflag IS NULL
  UNION ALL
  SELECT l_returnflag, l_quantity * 2 AS l_quantity
  FROM lineitem WHERE l_returnflag = 'A'
)
GROUP BY NULLIF(l_returnflag, '')
"""


@register("sink_dynamic_partition_overwrite", "G", oracle=_DYN_OVERWRITE_ORACLE,
          doc="Dynamic partition overwrite: a full partitioned write, then a "
              "second overwrite-mode write touching ONLY the 'A' partition "
              "(doubled quantities) — untouched partitions must survive; "
              "read-back aggregate proves the merge semantics")
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partitionOverwriteMode=dynamic replaces exactly the partitions the
    incoming frame contains — the idempotent daily-reload primitive (a
    static overwrite would truncate the whole table; appends would
    duplicate). This is also the semantics the reference's append-mode
    FileWriter hazard (SURVEY.md §4.3) needs replaced with at scale."""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    path = _scratch(sf_dir, "dyn_overwrite")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    patch = (
        li.where(F.col("l_returnflag") == "A")
        .select("l_returnflag", (F.col("l_quantity") * 2).alias("l_quantity"))
    )
    # the write option, not the session conf: another client's overwrite
    # on the same session must stay static
    (patch.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("l_returnflag").parquet(path))
    # explicit schema: a zero-row write leaves no part files to infer from
    back = spark.read.schema(li.schema).parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
    )


_TEXT_LINES_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(MIN(length(text)) AS BIGINT) AS min_len,
       CAST(MAX(length(text)) AS BIGINT) AS max_len
FROM documents
"""


@register("source_text_lines", "G", oracle=_TEXT_LINES_ORACLE,
          doc="Line-oriented text source: documents written one-per-line "
              "and read back with spark.read.text (the row-per-line twin "
              "of source_wholetext's file-per-record semantics), corpus "
              "length stats on the read-back")
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read.text is the splittable text path — unlike wholeTextFiles a
    10 GB file fans out across tasks on newline-aligned splits, which is
    why line-oriented is the only text layout that scales. The fixture
    corpus contains no embedded newlines (pinned by the write below
    staying lossless), so line count equals doc count."""
    docs = load(spark, sf_dir, "documents").select("text")
    path = _scratch(sf_dir, "text_lines")
    docs.write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("total_chars"),
        F.min(F.length("value")).cast("bigint").alias("min_len"),
        F.max(F.length("value")).cast("bigint").alias("max_len"),
    )


_SORTED_CLUSTERED_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
GROUP BY l_returnflag
"""


@register("sink_sorted_clustered", "G", oracle=_SORTED_CLUSTERED_ORACLE,
          doc="Sort-clustered parquet layout: lineitem rewritten "
              "sortWithinPartitions(l_shipdate), then a ship-date range "
              "query over the read-back — the row-group min/max stats a "
              "sorted layout produces are what make time-range scans "
              "cheap at 100 TB")
def sink_sorted_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering by the dominant filter column is the third layout
    lever after partitioning (sink_partitioned_parquet) and bucketing
    (join_bucketed): within each file, parquet row-group statistics
    become tight, so a date-range predicate skips whole row groups at
    the reader with zero planner involvement. The write sorts only
    WITHIN partitions — no global sort, no extra shuffle beyond an
    optional repartition."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_shipdate", "l_extendedprice", "l_discount"
    )
    path = _scratch(sf_dir, "sorted_clustered")
    (
        li.repartition(4)
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    filtered = back.where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    return filtered.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
              .cast("decimal(38,4)")).cast("double").alias("revenue"),
    )


_CSV_QUOTED_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN tricky IS NOT DISTINCT FROM
                     c_name || ',"' || c_mktsegment || '"'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_intact
FROM (
  SELECT c_name, c_mktsegment,
         c_name || ',"' || c_mktsegment || '"' AS tricky
  FROM customer
)
"""


@register("source_csv_quoted_roundtrip", "G", oracle=_CSV_QUOTED_ORACLE,
          doc="CSV quoting fidelity: values containing embedded delimiters "
              "AND quote characters written with standard quoting/escaping "
              "and read back — every row must survive byte-identical "
              "(the failure mode the reference's quote-free key,value "
              "codec has, SURVEY.md §2.A #9)")
def source_csv_quoted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted value embeds both the field delimiter and the quote
    char — the two characters naive CSV corrupts. Spark's writer quotes
    and doubles embedded quotes (RFC 4180); the read-back comparison
    column proves losslessness row-by-row, and the oracle computes the
    expected intact count from the ORIGINAL table, so any corruption
    breaks the hash."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.concat(F.col("c_name"), F.lit(',"'), F.col("c_mktsegment"), F.lit('"')).alias("tricky"),
    )
    path = _scratch(sf_dir, "csv_quoted")
    # explicit nullValue token: without it CSV writes NULL and '' both as
    # an empty field and the read collapses '' to NULL — the one lossy
    # corner of the codec, closed exactly the way a production feed does
    cust.write.mode("overwrite").option("header", "true").option(
        "nullValue", "\\N"
    ).csv(path)
    schema = "c_custkey long, c_name string, c_mktsegment string, tricky string"
    back = spark.read.schema(schema).option("header", "true").option(
        "nullValue", "\\N"
    ).csv(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(
                F.col("tricky").eqNullSafe(
                    F.concat(F.col("c_name"), F.lit(',"'), F.col("c_mktsegment"), F.lit('"'))
                ),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_intact"),
    )


_JSON_CORRUPT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 89 = 7) AS BIGINT) AS n_corrupt,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 89 <> 7) AS BIGINT) AS n_clean,
       round(SUM(CASE WHEN o_orderkey % 89 <> 7 THEN round(o_totalprice, 2) END), 2) AS clean_price_sum
FROM orders
"""


@register("source_json_corrupt", "G", oracle=_JSON_CORRUPT_ORACLE,
          doc="PERMISSIVE JSON-lines parse with planted truncated records: "
              "syntactically broken lines land in _corrupt_record with "
              "typed columns nulled — the JSON twin of "
              "source_csv_malformed, same principled no-silent-garbage "
              "contract (vs WorkerServiceImpl.scala:132-135)")
def source_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows with orderkey ≡ 7 (mod 89) are written truncated mid-object so
    the JSON parser must fail them; PERMISSIVE keeps the line in
    _corrupt_record. The counts prove exactly which rows failed — nothing
    silently dropped. Scan-parallel at any scale: JSON lines split by
    newline, corruption handling is per-row."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )
    good = F.to_json(F.struct("o_orderkey", "price"))
    lines = orders.select(
        F.when(F.col("o_orderkey") % 89 == 7,
               F.substring(good, 1, 20)).otherwise(good).alias("value")
    )
    path = _scratch(sf_dir, "json_corrupt")
    lines.write.mode("overwrite").text(path)

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_corrupt_record").alias("n_corrupt"),
        (F.count(F.lit(1)) - F.count("_corrupt_record")).alias("n_clean"),
        F.round(F.sum("price"), 2).alias("clean_price_sum"),
    )


_XML_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(round(o_totalprice, 2)), 2) AS total
FROM orders
GROUP BY o_orderstatus
"""


@register("source_xml_roundtrip", "G", oracle=_XML_ORACLE,
          doc="XML write/read roundtrip (Spark 4 native XML source, "
              "rowTag records): orders serialized to XML and parsed back "
              "with an explicit schema — the document-feed ingest format "
              "legacy enterprise pipelines still emit")
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML is split-parallel per file part (each task parses its own
    part), so the roundtrip scales like any text source; the explicit
    schema keeps the read one-pass (schema inference would scan twice).
    The aggregate proves value fidelity through the format."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price")
    )
    path = _scratch(sf_dir, "xml_roundtrip")
    orders.write.mode("overwrite").format("xml").option("rowTag", "order").save(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    back = spark.read.format("xml").option("rowTag", "order").schema(schema).load(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("price"), 2).alias("total"),
    )


_MANAGED_TABLE_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(round(o_totalprice, 2)), 2) AS total
FROM orders
GROUP BY o_orderpriority
"""


@register("sink_table_catalog", "G", oracle=_MANAGED_TABLE_ORACLE,
          doc="Catalog-table sink: orders saved as a named table "
              "(explicit parquet location) and queried back through "
              "spark.sql by name — the catalog surface that lets SQL-only "
              "consumers reach datasets the engine materializes")
def sink_table_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """saveAsTable + name-based SQL read: the catalog entry carries path
    and schema so downstream SQL needs no path knowledge. The physical
    layout is plain parquet — at scale this is where partitionBy/bucketBy
    land (exhibited separately by sink_partitioned_parquet and
    sources/bucketing.py); the catalog is metadata only."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.round("o_totalprice", 2).alias("price")
    )
    path = _scratch(sf_dir, "catalog_table")
    (
        orders.write.mode("overwrite")
        .option("path", path)
        .format("parquet")
        .saveAsTable("orders_cataloged")
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               round(SUM(price), 2) AS total
        FROM orders_cataloged
        GROUP BY o_orderpriority
        """
    )


# binaryFile source: cap the blob corpus at this many documents so the
# scratch dir holds a bounded file count at any scale factor.
BINARYFILE_DOCS = 20

_BINARYFILE_ORACLE = f"""
SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') || '.bin' AS file_name,
       CAST(octet_length(encode(text)) AS BIGINT) AS length,
       md5(text) AS content_md5
FROM documents
WHERE doc_id < {BINARYFILE_DOCS}
"""


@register("source_binaryfile", "G", oracle=_BINARYFILE_ORACLE,
          doc=f"binaryFile source roundtrip: {BINARYFILE_DOCS} document "
              "payloads written as raw .bin files, read back via "
              "spark.read.format('binaryFile') with path/length/content, "
              "digests checked against the originating table — the "
              "ingest format of every image/audio/video lake")
def source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile is how multimodal payloads enter Spark: one row per
    file with (path, modificationTime, length, content-as-bytes); at
    lake scale you point it at an object-store prefix with
    pathGlobFilter and recursiveFileLookup and get a binary column to
    feed the mapInPandas decoders (operators/multimodal.py). Here the
    files are written from the documents fixture so the oracle can
    recompute length and md5 from the table side. The corpus-setup
    collect is bounded at BINARYFILE_DOCS rows by the pushed-down
    doc_id filter — setup-side only, never the query path."""
    import os as _os

    from pyspark.sql import functions as F

    from toy_map_reduce_spark.tables import load

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < BINARYFILE_DOCS)
        .select("doc_id", "text")
        .collect()
    )
    outdir = _scratch(sf_dir, "binaryfile_corpus")
    _os.makedirs(outdir, exist_ok=True)
    for r in docs:
        with open(_os.path.join(outdir, f"doc_{r.doc_id:06d}.bin"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    read = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(outdir)
    )
    return read.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length").cast("long").alias("length"),
        F.md5("content").alias("content_md5"),
    )


_ANALYZE_STATS_ORACLE = """
SELECT 'o_custkey' AS col,
       CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS null_count,
       CAST(MIN(o_custkey) AS BIGINT) AS min_v,
       CAST(MAX(o_custkey) AS BIGINT) AS max_v
FROM orders
UNION ALL
SELECT 'o_orderkey',
       CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT),
       CAST(MIN(o_orderkey) AS BIGINT),
       CAST(MAX(o_orderkey) AS BIGINT)
FROM orders
"""


@register("catalog_analyze_stats", "G", oracle=_ANALYZE_STATS_ORACLE,
          doc="ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS: CBO "
              "column stats (null count, min, max) collected into the "
              "catalog and read back via DESCRIBE EXTENDED — the exact "
              "stats subset checked against direct aggregation (ndv is "
              "HLL-approximate by design and excluded)")
def catalog_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column statistics are what turn Catalyst's cost-based decisions
    (join reordering, broadcast choice, DPP benefit estimates) from
    guesses into measurements — at 100 TB an un-analyzed fact table is
    a wrong-join-order incident waiting to happen. ANALYZE needs a
    catalog table (not a view), so the fixture is registered once per
    sf; the DESCRIBE output is parsed back into typed rows."""
    import os as _os

    from pyspark.sql import functions as F

    from toy_map_reduce_spark.tables import load

    tag = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    tbl = f"analyze_orders_{tag}"
    if not spark.catalog.tableExists(tbl):
        load(spark, sf_dir, "orders").write.mode("overwrite").option(
            "path", _scratch(sf_dir, "analyze_orders_tbl")
        ).saveAsTable(tbl)
    spark.sql(
        f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS o_custkey, o_orderkey"
    )
    parts = []
    for col in ("o_custkey", "o_orderkey"):
        desc = spark.sql(f"DESCRIBE EXTENDED {tbl} {col}")
        stats = (
            desc.withColumn("col", F.lit(col))
            .where(F.col("info_name").isin("num_nulls", "min", "max"))
            .groupBy("col")
            .pivot("info_name", ["num_nulls", "min", "max"])
            .agg(F.first("info_value"))
        )
        parts.append(stats)
    out = parts[0].unionByName(parts[1])
    # DESCRIBE renders absent stats as the literal string 'NULL' (e.g. on
    # a zero-row table); try_cast maps that to SQL NULL instead of an
    # ANSI CAST_INVALID_INPUT crash
    return out.select(
        "col",
        F.col("num_nulls").try_cast("long").alias("null_count"),
        F.col("min").try_cast("long").alias("min_v"),
        F.col("max").try_cast("long").alias("max_v"),
    )


# --- z-order clustered layout -----------------------------------------------
ZORDER_BITS = 8  # bits per dimension → 16-bit z-value, 256 coarse buckets

_ZX = "(l_partkey % 256)"
_ZY = "(l_suppkey % 256)"
_Z_SQL = " + ".join(
    f"(({_ZX} >> {k}) & 1) * {1 << (2 * k)} + (({_ZY} >> {k}) & 1) * {1 << (2 * k + 1)}"
    for k in range(ZORDER_BITS)
)

_ZORDER_ORACLE = f"""
WITH z AS (
  SELECT {_ZX} AS x, {_ZY} AS y, ({_Z_SQL}) AS zval FROM lineitem
)
SELECT CAST(zval // 256 AS BIGINT) AS z_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
       CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y,
       CAST(MAX(x) - MIN(x) AS BIGINT) AS span_x,
       CAST(MAX(y) - MIN(y) AS BIGINT) AS span_y
FROM z GROUP BY 1
"""


@register("sink_zorder", "G", oracle=_ZORDER_ORACLE,
          doc="Z-order (Morton-curve) clustered parquet layout: 16-bit "
              "interleaved z-value over (partkey, suppkey) mod 256, "
              "repartitionByRange + sortWithinPartitions on zval, then a "
              "per-z-bucket locality report over the read-back — every "
              "bucket's x AND y spans are ≤ 15, which is why a z-layout "
              "prunes two-dimensional filters where a linear sort prunes "
              "only one")
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth layout lever beside partitioning, bucketing, and linear
    clustering (sink_sorted_clustered): interleaving the bits of two key
    columns gives a single sort key under which BOTH dimensions stay
    locally bounded — fixing the z-value's top 8 bits fixes the high
    nibble of each dimension, so every 256-wide z-bucket is a 16×16 box.
    At 100 TB the write is one range shuffle on zval (range partitioner
    samples keep output files balanced) and row-group min/max stats on x
    and y both become tight, so a (part, supp) box predicate skips files
    on two columns at once. The z-value is pure integer bit arithmetic
    (shift/mask/add) — whole-stage codegen, no UDF."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    x = F.col("l_partkey") % 256
    y = F.col("l_suppkey") % 256
    zval = None
    for k in range(ZORDER_BITS):
        bx = F.shiftright(x, k).bitwiseAND(F.lit(1)) * (1 << (2 * k))
        by = F.shiftright(y, k).bitwiseAND(F.lit(1)) * (1 << (2 * k + 1))
        term = bx + by
        zval = term if zval is None else zval + term
    staged = li.select(x.alias("x"), y.alias("y"), zval.alias("zval"))

    path = _scratch(sf_dir, "zorder")
    (
        staged.repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy((F.col("zval") / 256).cast("long").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").cast("long").alias("min_x"),
            F.max("x").cast("long").alias("max_x"),
            F.min("y").cast("long").alias("min_y"),
            F.max("y").cast("long").alias("max_y"),
            (F.max("x") - F.min("x")).cast("long").alias("span_x"),
            (F.max("y") - F.min("y")).cast("long").alias("span_y"),
        )
    )
