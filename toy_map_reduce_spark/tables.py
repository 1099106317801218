"""Table loaders for the driver-generated parquet fixtures.

Replaces the reference's hard-coded input catalog (reference
``master/data/MapTask.scala:19-87`` — a literal ``Map[String, MapTask]`` of
13 file paths) with ``spark.read.parquet``: Catalyst gets column pruning,
predicate pushdown, and split-based parallelism for free, none of which the
reference's whole-file-per-task model had.

This module alone knows how a fixture file is found, re-chunked into the
layout cache, named there and read: one record per source file holds
its scan path and footer row count.
"""

from __future__ import annotations

import os
import re
import threading
import weakref
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from toy_map_reduce_spark.session import _cache_dir, pin_conf

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

# The driver fixtures ship as one row group per file, and a row group is
# Spark's smallest read unit, so every scan of such a file runs as one
# task. A file with fewer groups than its size calls for is copied once,
# with pyarrow, into a file with more (same schema, rows and order) in the
# layout cache; the copy's name carries the source's size and mtime, so a
# refreshed fixture gets a new copy. Any failure reads the source itself.
_ROWS_PER_GROUP_DIVISOR = {
    # heavy rows (long text, float vectors): fewer rows a group, so the
    # explode and vector work downstream of the scan spreads too
    "documents": 256,
    "embeddings": 512,
    # events feeds the streaming family, whose stream-stream joins scan it
    # once per side and micro-batch
    "events": 16384,
}
# Coarser than one group a core: each extra scan task costs scheduling
# in every query, and iterative queries re-scan their table every round.
_DEFAULT_ROWS_PER_GROUP = 65536
_MAX_GROUPS = 8


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _layout_cache_root() -> str:
    """``$SPARK_GRAFT_LAYOUT_CACHE``, else ``layout`` in the per-user cache
    next to the class-data-sharing archive, shared by every checkout."""
    return os.environ.get("SPARK_GRAFT_LAYOUT_CACHE") or os.path.join(_cache_dir(), "layout")


def _copy_path(sf_dir: str, name: str, size: int, mtime_ns: int, groups: int) -> str:
    """Where the re-chunked copy of a fixture file goes:
    ``{table}_{size}_{mtime}_{groups}.parquet`` in a directory named for
    the fixture directory."""
    dest_dir = os.path.join(_layout_cache_root(), re.sub(r"\W+", "_", os.path.abspath(sf_dir)))
    return os.path.join(dest_dir, f"{name}_{size}_{mtime_ns // 10**9}_{groups}.parquet")


_FIXTURE_FILE_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*?)(?:_\d+_\d+_\d+)?\.parquet")


def fixture_table(path: str) -> str | None:
    """The fixture table a file path reads: from the raw ``{table}.parquet``
    form or a copy's ``{table}_{size}_{mtime}_{groups}.parquet``; None for
    any other path."""
    m = _FIXTURE_FILE_RE.fullmatch(os.path.basename(path))
    return m.group(1) if m else None


class _Record(NamedTuple):
    """What one source file's footer says, at one (size, mtime_ns)."""

    key: tuple[str, int, int]  # (source file, size, mtime_ns)
    path: str  # what to scan: the source or its re-chunked copy
    rows: int | None  # None when the footer does not parse


# source file -> its record at the latest stamp seen, so a refreshed
# fixture replaces its old record
_RECORDS: dict[str, _Record] = {}
_LOCK = threading.Lock()  # concurrent clients share both caches


def _record(sf_dir: str, name: str) -> _Record:
    """The record of fixture file ``name`` in ``sf_dir``: one ``os.stat``,
    and one footer parse (plus the copy, if it needs one) per stamp.
    Raises OSError when the file cannot be stat'ed."""
    src = table_path(sf_dir, name)
    st = os.stat(src)
    key = (src, st.st_size, st.st_mtime_ns)
    with _LOCK:
        rec = _RECORDS.get(src)
        if rec is None or rec.key != key:
            rec = _RECORDS[src] = _new_record(key, sf_dir, name)
    return rec


def _new_record(key: tuple[str, int, int], sf_dir: str, name: str) -> _Record:
    import pyarrow as pa
    import pyarrow.parquet as pq

    src, size, mtime_ns = key
    try:
        pf = pq.ParquetFile(src)
    except (OSError, pa.ArrowException):  # a directory, or not parquet
        return _Record(key, src, None)
    rows = pf.metadata.num_rows
    k = min(_MAX_GROUPS, max(1, rows // _ROWS_PER_GROUP_DIVISOR.get(name, _DEFAULT_ROWS_PER_GROUP)))
    # fewer groups than the target, not only one: a DuckDB-written file
    # carries ~122k-row groups, so 150k rows make 2 groups and a 2-way scan
    if pf.metadata.num_row_groups >= k or k <= 1:
        return _Record(key, src, rows)
    dest = _copy_path(sf_dir, name, size, mtime_ns, k)
    try:
        if not os.path.exists(dest):
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            tmp = f"{dest}.tmp{os.getpid()}"
            pq.write_table(pf.read(), tmp, row_group_size=max(1, -(-rows // k)))
            os.replace(tmp, dest)  # atomic: concurrent builders converge
    except (OSError, pa.ArrowException):
        return _Record(key, src, rows)
    return _Record(key, dest, rows)


def row_count(sf_dir: str, name: str) -> int | None:
    """Exact row count of a fixture file from its parquet footer, with no
    Spark job; None when the file is missing or not parquet.
    ``functions/ranks.parts_for`` sizes range partitions from it when the
    ranked frame derives from one table, saving the persist and count a
    size-aware rank otherwise pays."""
    try:
        return _record(sf_dir, name).rows
    except OSError:
        return None


def _read_path(sf_dir: str, name: str) -> str:
    """Path to scan for (sf_dir, name): the source file, or its
    re-chunked copy in the layout cache."""
    try:
        return _record(sf_dir, name).path
    except OSError:
        return table_path(sf_dir, name)


# Per-session relation cache: ``spark.read.parquet`` re-lists the file
# and infers its schema in the JVM on every call (about 0.1 s warm), which
# a catalog does once. A value is the lazy analysed relation (no rows;
# every action still reads the files), held as the JVM Dataset and its
# column names so it does not keep its session alive: a child session's
# entries go with it. Keyed by the source's record key, so a refreshed
# fixture gets a fresh relation. An insert drops the sessions of other
# applications (their handles point into stopped JVMs).
_RELATION_CACHE: weakref.WeakKeyDictionary[SparkSession, dict[tuple, tuple]] = (
    weakref.WeakKeyDictionary()
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. ``events.ts`` is stored as
    TIMESTAMP(MICROS) without a time zone and read as ``timestamp_ntz``;
    it is cast to a ``TimestampType`` under the session's UTC time zone,
    the type the queries and their oracles expect."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    pin_conf(spark)
    rec = _record(sf_dir, name)
    cached = _RELATION_CACHE.get(spark, {}).get(rec.key)
    if cached is not None:
        # toDF(*columns) is a free Project whose aliases mint fresh output
        # expression ids, so two loads of one table self-join without
        # "Column label#N are ambiguous"
        jdf, columns = cached
        return DataFrame(jdf, spark).toDF(*columns)
    df = spark.read.parquet(rec.path)
    if name == "events":
        df = df.withColumn("ts", df["ts"].cast("timestamp"))
    columns = df.columns
    with _LOCK:
        for other in [s for s in list(_RELATION_CACHE) if s._sc is not spark._sc]:
            _RELATION_CACHE.pop(other, None)
        _RELATION_CACHE.setdefault(spark, {})[rec.key] = (df._jdf, columns)
    return df.toDF(*columns)
