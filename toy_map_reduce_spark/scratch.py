"""The one lifetime rule for persisted intermediates: a frame the engine
persists lives until the query that made it is done.

Every ``.persist()`` in the engine goes through :func:`persist`. It
persists at one storage level (``MEMORY_AND_DISK``) and records the frame
under the current scope. A caller that runs a query wraps building AND
materializing it in ``with scope():``; on exit, even on an exception,
the scope unpersists what was persisted inside it and nothing else.
Frames persisted outside any scope are released by :func:`release_scratch`,
the barrier call of a harness that runs rounds of queries and knows that
none is in flight.

Why the builder cannot release its own frames: a query returns a LAZY
DataFrame. The persisted intermediates are read only when the caller
materializes that result (``toPandas``, a write), after the builder has
returned. Releasing earlier makes the result recompute them, and for the
distributed rank (``functions/ranks.with_global_order``) breaks the
partition-id stamp both of its passes must see. So the frames stay alive
until the scope around the materialization ends. Spark's CacheManager
holds strong references; nothing is dropped by garbage collection.

Concurrent clients of one session: Spark keeps one CacheManager entry
per plan, so two clients that persist equal plans share an entry. A
scope holds entries, counted per holder; the entry is unpersisted only
when its last holder lets go. An entry that existed before this module
was asked to persist it belongs to whoever made it and is left alone.
A frame a query no longer needs before it ends (the previous round of an
iterative loop) is let go early with :func:`release`.
"""

from __future__ import annotations

import contextlib
import contextvars
import dataclasses
import threading

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

__all__ = ["persist", "scope", "release", "release_scratch", "unheld"]

LEVEL = StorageLevel.MEMORY_AND_DISK

_scope: contextvars.ContextVar[object | None] = contextvars.ContextVar(
    "scratch_scope", default=None
)
_lock = threading.Lock()


@dataclasses.dataclass(eq=False)
class _Hold:
    """One holder of a CacheManager entry: the frame that persisted it,
    the scope it lives in (None: until release_scratch) and the identity
    of the entry's cache builder when the hold was taken."""

    df: DataFrame
    scope: object | None
    entry: int | None


_held: list[_Hold] = []


def _entry(df: DataFrame) -> int | None:
    """Identity of the CacheManager entry that serves ``df``'s plan (the
    entry's ``cacheBuilder``), or None when nothing caches it."""
    spark = df.sparkSession
    found = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    if found.isEmpty():
        return None
    builder = found.get().cachedRepresentation().cacheBuilder()
    return spark.sparkContext._jvm.System.identityHashCode(builder)


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` at ``MEMORY_AND_DISK`` for the current scope and
    return it."""
    with _lock:
        entry = _entry(df)
        if entry is None:
            df.persist(LEVEL)
            entry = _entry(df)
        elif all(h.entry != entry for h in _held):
            return df  # cached by someone else, who releases it
        _held.append(_Hold(df, _scope.get(), entry))
    return df


def _drop(holds: list[_Hold]) -> None:
    """Let go of ``holds`` (caller holds the lock), newest first so that
    a frame is released before the frames its plan reads; unpersist an
    entry once no other hold is left on it. A cache builder is replaced
    when Spark rebuilds an entry whose source was uncached before it
    loaded, so a hold matches on its recorded or the current identity."""
    for h in holds:
        _held.remove(h)
    for h in reversed(holds):
        try:
            now = _entry(h.df)
            if now is not None and all(o.entry not in (h.entry, now) for o in _held):
                h.df.unpersist()
        except Py4JError:
            pass  # session already stopped: nothing to release


@contextlib.contextmanager
def scope():
    """Run one query: what :func:`persist` records inside the block is
    unpersisted when the block exits, however it exits."""
    mine = object()
    token = _scope.set(mine)
    try:
        yield
    finally:
        _scope.reset(token)
        with _lock:
            _drop([h for h in _held if h.scope is mine])


def release(df: DataFrame) -> None:
    """Let go of ``df`` before its scope ends, once the query no longer
    reads it."""
    with _lock:
        _drop([h for h in _held if h.df is df])


def release_scratch() -> int:
    """Release the frames persisted outside any scope; returns how many.
    Call it only when no unscoped query is in flight."""
    with _lock:
        holds = [h for h in _held if h.scope is None]
        _drop(holds)
    return len(holds)


def unheld(spark: SparkSession) -> int:
    """The number of CacheManager entries that no open scope holds:
    taken under the lock, so no persist or release is half done."""
    with _lock:
        live = {_entry(h.df) for h in _held if h.scope is not None} - {None}
        cm = spark._jsparkSession.sharedState().cacheManager()
        return cm.numCachedEntries() - len(live)
