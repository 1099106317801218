"""Table loaders for the driver-generated parquet fixtures.

Replaces the reference's hard-coded input catalog (reference
``master/data/MapTask.scala:19-87`` — a literal ``Map[String, MapTask]`` of
13 file paths) with ``spark.read.parquet``: Catalyst gets column pruning,
predicate pushdown, and split-based parallelism for free, none of which the
reference's whole-file-per-task model had.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from toy_map_reduce_spark.session import pin_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Ingest-time layout normalization. The driver fixtures ship as
# SINGLE-ROW-GROUP parquet files; a row group is Spark's minimum read
# unit, so no matter how file splits are tuned every scan of such a file
# runs as one real task (the other split tasks come up empty) — the whole
# engine was scan-serialized on one core of 32. A 100 TB deployment would
# never accept that layout: re-chunking to sized row groups at ingest is
# exactly what Delta/Iceberg OPTIMIZE or any bulk-load path does. The
# rewrite is a byte-faithful pyarrow copy (same schema incl. nano
# timestamps, same row order, same values — only row-group boundaries
# added), cached once per source file under the repo's .layout_cache/ and
# keyed on (size, mtime, chunking) so a fixture refresh invalidates it.
# Any failure falls back to the original path. Disable with
# SPARK_GRAFT_LAYOUT_CACHE=off.
_ROWS_PER_GROUP_DIVISOR = {
    # heavy-per-row tables (long text / float vectors): far fewer rows
    # per group so downstream explode/vector work parallelizes too.
    # documents stays FINE-grained (the text/dedup family does orders of
    # magnitude more CPU per input byte than relational scans — simhash
    # at 9 groups ran 25% slower than at ~19) and the table is far too
    # small for its fan-out to add meaningful task pressure.
    "documents": 256,
    "embeddings": 512,
    # events feeds the whole streaming family (each side of a
    # stream-stream join scans it per micro-batch) plus the event-time
    # analytics; at the default divisor it would stay un-chunked
    "events": 16384,
}
# default sizing is deliberately MUCH coarser than "one group per core".
# Isolated heavy queries love 32-way scans, but the bench regime — ~780
# sequential query executions in one JVM — showed broad ~0.3-0.5 s
# inflation per query from the extra task scheduling/GC pressure
# (A/B full-bench: 274 s at 32 groups vs 252 s unchunked), while
# iterative queries (recursive CTE, BFS) re-scan their table every
# round and pay the fan-out repeatedly. ~4-8 real tasks per big-table
# scan captures most of the single-threaded-scan fix at a fraction of
# the task pressure.
_DEFAULT_ROWS_PER_GROUP = 65536
_MAX_GROUPS = 8


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def row_count(sf_dir: str, name: str) -> int | None:
    """Exact row count of a fixture table from its parquet FOOTER — a
    driver-side metadata read (sub-millisecond), no Spark job. Used to
    size range-partition widths (functions/ranks.parts_for) when the
    frame being ranked is derived from one table and the table's row
    count is a usable upper bound on the frame's cardinality: it saves
    the persist + count() action a size-aware rank otherwise pays, which
    in a 2-pass bench regime is the difference between converging to the
    warm plan on pass 2 and never reaching it.

    Directory layouts (r8 advisor): only Spark-named ``part-*.parquet``
    files count (falling back to ``*.parquet`` for single-file-in-dir
    fixtures), and zero-length leftovers from an aborted write are
    skipped — stale part files must not inflate the partition sizing.
    Returns None when the path isn't a plain parquet file/dir, INCLUDING
    hive-partitioned (nested-subdir) layouts, whose files the top-level
    glob deliberately misses — the caller falls back to counting or to
    the shuffle-partitions default, which is always safe (parts_for caps
    the effect to partition sizing)."""
    import glob as _glob

    try:
        import pyarrow.parquet as pq

        p = table_path(sf_dir, name)
        if os.path.isdir(p):
            parts = _glob.glob(os.path.join(p, "part-*.parquet")) or _glob.glob(
                os.path.join(p, "*.parquet")
            )
            parts = [f for f in parts if os.path.getsize(f) > 0]
            if not parts:
                return None
            return sum(pq.ParquetFile(f).metadata.num_rows for f in parts)
        return pq.ParquetFile(p).metadata.num_rows
    except Exception:
        return None


def _layout_cache_root() -> str:
    env = os.environ.get("SPARK_GRAFT_LAYOUT_CACHE", "")
    if env and env != "off":
        return env
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".layout_cache",
    )


_READ_PATH_MEMO: dict[tuple, str] = {}


def _read_path(sf_dir: str, name: str) -> str:
    """Path to scan for (sf_dir, name): the original file, or a
    re-chunked multi-row-group copy built once and cached.

    Memoized on (src, size, mtime_ns) since r14: the decision requires a
    pyarrow footer parse (~10 ms) that was re-paid on every load call —
    part of the per-query constant the r13 verdict flagged. A refreshed
    fixture changes the stamp and re-decides; the insert drops the
    source's entries under older stamps."""
    src = table_path(sf_dir, name)
    if os.environ.get("SPARK_GRAFT_LAYOUT_CACHE", "") == "off":
        return src
    try:
        st0 = os.stat(src)
        memo_key = (src, st0.st_size, st0.st_mtime_ns)
        hit = _READ_PATH_MEMO.get(memo_key)
        if hit is not None and os.path.exists(hit):
            return hit
    except OSError:
        memo_key = None
    try:
        import re

        import pyarrow.parquet as pq

        st = os.stat(src)
        pf = pq.ParquetFile(src)
        rows = pf.metadata.num_rows
        k = min(
            _MAX_GROUPS,
            max(1, rows // _ROWS_PER_GROUP_DIVISOR.get(name, _DEFAULT_ROWS_PER_GROUP)),
        )
        # re-chunk when the file has FEWER groups than the target, not
        # only when it has exactly one: a DuckDB-written corpus carries
        # ~122k-row groups, so a 150k-row documents file is "2 groups" —
        # and since a row group is the minimum read unit, the whole
        # text/similarity family ran 2-way on 32 cores (caught by the r13
        # three-step scaling fit: staging slope 1.62 at sf1->sf3, pure
        # scan-parallelism starvation, not compute growth)
        if pf.metadata.num_row_groups >= k or k <= 1:
            result = src
        else:
            tag = f"{st.st_size}_{int(st.st_mtime)}_{k}"
            dest_dir = os.path.join(
                _layout_cache_root(), re.sub(r"\W+", "_", os.path.abspath(sf_dir))
            )
            dest = os.path.join(dest_dir, f"{name}_{tag}.parquet")
            if not os.path.exists(dest):
                os.makedirs(dest_dir, exist_ok=True)
                tmp = f"{dest}.tmp{os.getpid()}"
                pq.write_table(
                    pf.read(), tmp, row_group_size=max(1, -(-rows // k))
                )
                os.replace(tmp, dest)  # atomic: concurrent builders converge
            result = dest
    except Exception:
        return src
    if memo_key is not None:
        # a refreshed fixture leaves its old stamps behind: drop them
        for k in [k for k in list(_READ_PATH_MEMO) if k[0] == src and k != memo_key]:
            _READ_PATH_MEMO.pop(k, None)
        _READ_PATH_MEMO[memo_key] = result
    return result


# Session-scoped RELATION cache (r14, guide §1/§6 — the per-query
# constant). Measured on the r14 baseline boot: a warm ``load()`` cost
# 107-190 ms per call — `spark.read.parquet` re-runs file listing and
# footer schema inference in the JVM, and `_read_path` re-parses the
# footer in pyarrow, for every one of the ~800 load calls a 389-query
# bench makes (~60 s of the 257 s total, the largest single component of
# the 0.45 s/query constant the r13 verdict flagged). A real catalog
# does this once: Spark's own `spark.table()` path keeps a relation
# cache keyed on the table identifier, which bare-path `read.parquet`
# calls forfeit. This dict is that cache for the fixture catalog: the
# value is the LAZY analyzed DataFrame (an immutable plan handle — no
# rows, no results; every action still computes from the parquet
# files), keyed on (application, resolved path, file size+mtime_ns) so
# a new session, a different sf_dir, a refreshed fixture, or a layout-
# cache toggle each get a fresh relation. An insert drops the entries of
# other applications, so the dict holds only the live session's tables.
_RELATION_CACHE: dict[tuple, DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table.

    ``events`` needs special handling: its ``ts`` column has shipped as
    TIMESTAMP(NANOS) in some fixture generations (readable only as a raw
    nanos long via ``spark.sql.legacy.parquet.nanosAsLong``) and as
    TIMESTAMP(MICROS) in others (read natively — as ``timestamp_ntz`` on
    Spark ≥ 4.1, where the legacy conf no longer forces a long read). The
    loader normalizes every variant to a session-UTC ``TimestampType``
    column so query code never sees the difference.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    pin_conf(spark)
    path = _read_path(sf_dir, name)
    try:
        st = os.stat(path)
        stamp: tuple | None = (st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    key = (spark.sparkContext.applicationId, path, stamp)
    cached = _RELATION_CACHE.get(key)
    if cached is not None:
        # toDF(*columns): a zero-cost Project whose aliases mint FRESH
        # output expression ids and a fresh dataset id per call. Handing
        # every caller the literally-same Dataset broke self-join
        # disambiguation (sim_topk_ivf joins two derivatives of one
        # load() — "Column label#N are ambiguous"); the old code was
        # safe only because each load() built a whole new relation. The
        # alias layer restores that property at ~1% of the cost, and
        # DeduplicateRelations handles the shared underlying relation
        # exactly as it does for any df.join(df) self-join.
        return cached.toDF(*cached.columns)
    if name == "events":
        from pyspark.sql import functions as F

        ev = spark.read.parquet(path)
        ts_type = dict(ev.dtypes)["ts"]
        if ts_type == "bigint":  # TIMESTAMP(NANOS) read as raw nanos long
            df = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # native timestamp/timestamp_ntz read (micros fixtures, Spark
            # ≥ 4.1 nanos): cast to TimestampType under the UTC session tz
            df = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    # relations of stopped sessions hold py4j handles into dead JVMs
    for k in [k for k in list(_RELATION_CACHE) if k[0] != key[0]]:
        _RELATION_CACHE.pop(k, None)
    _RELATION_CACHE[key] = df
    return df.toDF(*df.columns)
