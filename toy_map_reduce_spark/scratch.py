"""The one lifetime rule: nothing a query makes outlives the query.

A caller that runs a query wraps building AND materializing it in
``with scope():``. What the query makes through this module belongs to
the scope, and on exit, even on an exception, the scope undoes it:

- frames persisted with :func:`persist` (at ``MEMORY_AND_DISK``) are
  unpersisted;
- directories from :func:`path` are removed. They live under one
  root in :func:`process_dir`, made on first use;
- catalog tables named by :func:`table` are dropped;
- what was handed to :func:`on_exit` runs, newest first: streams still
  running in a query's streaming session are stopped
  (``session.streaming_session``), an embedded database is shut down.

:func:`name` tags a name with the scope, so two clients' streaming
queries, sinks and tables never share one. Temp views need no rule of
their own: builders pass DataFrames to ``spark.sql(SQL, t=df)``, which
registers uuid-named views and drops them once the query is analysed.

What a query makes outside any scope lives until :func:`release_scratch`,
the barrier call of a harness that runs rounds of queries and knows that
none is in flight. Outside any scope, two calls of one query share its
paths and names, so concurrent callers of one query each need a scope.

Why the builder cannot release what it made: a query returns a LAZY
DataFrame. Persisted intermediates, written files and catalog tables are
read only when the caller materializes that result (``toPandas``, a
write), after the builder has returned. Releasing earlier makes the
result recompute or lose them, and for the distributed rank
(``functions/ranks.with_global_order``) breaks the partition-id stamp both
of its passes must see. So they stay alive until the scope around the
materialization ends. Spark's CacheManager holds strong references;
nothing is dropped by garbage collection.

Concurrent clients of one session: Spark keeps one CacheManager entry
per plan, so two clients that persist equal plans share an entry. A
scope holds entries, counted per holder; the entry is unpersisted only
when its last holder lets go. An entry that existed before this module
was asked to persist it belongs to whoever made it and is left alone.
A frame a query no longer needs before it ends (the previous round of an
iterative loop) is let go early with :func:`release`.
"""

from __future__ import annotations

import atexit
import contextlib
import contextvars
import dataclasses
import os
import re
import shutil
import tempfile
import threading
import uuid

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

__all__ = ["persist", "scope", "path", "name", "table", "on_exit", "release",
           "release_scratch", "unheld"]

LEVEL = StorageLevel.MEMORY_AND_DISK


class _Scope:
    """One query's lifetime: its id tags its directory and names."""

    def __init__(self) -> None:
        self.id = uuid.uuid4().hex[:12]
        self.exits = contextlib.ExitStack()
        self.dir: str | None = None

    def close(self) -> None:
        """Undo what the scope made, newest first: what was handed to
        on_exit, then the directory, then the persisted frames."""
        try:
            self.exits.close()
        finally:
            if self.dir:
                shutil.rmtree(self.dir, ignore_errors=True)
            with _lock:
                _open.discard(self)
                _drop([h for h in _held if h.scope is self])


_scope: contextvars.ContextVar[_Scope | None] = contextvars.ContextVar(
    "scratch_scope", default=None
)
_lock = threading.Lock()
_unscoped = _Scope()  # what is made outside any scope, until release_scratch
_open: set[_Scope] = set()
_root: str | None = None


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


_PROCESS_DIR_RE = re.compile(r"spark-graft-(\d+)-")
_process_dir: str | None = None
_process_lock = threading.Lock()


def process_dir() -> str:
    """This process's temporary directory, ``spark-graft-<pid>-<random>``
    in ``tempfile.gettempdir()``, removed at interpreter exit. It holds
    the scope root, the shipped package zip and the Derby home. A process
    killed before exit leaves its directory behind, so making one removes
    the directories of pids that no longer run."""
    global _process_dir
    with _process_lock:
        if _process_dir is None:
            tmp = tempfile.gettempdir()
            for entry in os.listdir(tmp):
                m = _PROCESS_DIR_RE.match(entry)
                if m and not _pid_alive(int(m.group(1))):
                    shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)
            _process_dir = tempfile.mkdtemp(prefix=f"spark-graft-{os.getpid()}-")
            atexit.register(shutil.rmtree, _process_dir, True)
        return _process_dir


def _current() -> _Scope:
    return _scope.get() or _unscoped


@dataclasses.dataclass(eq=False)
class _Hold:
    """One holder of a CacheManager entry: the frame that persisted it,
    the scope it lives in and the identity of the entry's cache builder
    when the hold was taken."""

    df: DataFrame
    scope: _Scope
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
        _held.append(_Hold(df, _current(), entry))
    return df


def path(name: str) -> str:
    """The path of directory ``name`` in the current scope: the same path
    for the same name within one scope. The scope's directory exists;
    the caller (usually Spark's writer) makes ``name`` inside it."""
    global _root
    s = _current()
    with _lock:
        if s.dir is None:
            if _root is None:
                _root = os.path.join(process_dir(), "scopes")
                os.mkdir(_root)
            s.dir = os.path.join(_root, s.id)
            os.mkdir(s.dir)
    return os.path.join(s.dir, name)


def name(base: str) -> str:
    """``base`` tagged with the current scope: no other scope's name."""
    return f"{base}_{_current().id}"


def on_exit(fn, *args) -> None:
    """Call ``fn(*args)`` when the current scope exits, before what was
    registered earlier and before its directory is removed."""
    _current().exits.callback(fn, *args)


def table(spark: SparkSession, base: str) -> str:
    """A catalog table name for the current scope; the scope drops the
    table on exit (its files go with the scope's directory)."""
    table_name = name(base)
    on_exit(spark.sql, f"DROP TABLE IF EXISTS {table_name}")
    return table_name


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
    """Run one query: what it makes inside the block is released when
    the block exits, however it exits."""
    mine = _Scope()
    with _lock:
        _open.add(mine)
    token = _scope.set(mine)
    try:
        yield
    finally:
        _scope.reset(token)
        mine.close()


def release(df: DataFrame) -> None:
    """Let go of ``df`` before its scope ends, once the query no longer
    reads it."""
    with _lock:
        _drop([h for h in _held if h.df is df])


def release_scratch() -> int:
    """Release what was made outside any scope; returns how many frames.
    Call it only when no unscoped query is in flight."""
    global _unscoped
    with _lock:
        done, _unscoped = _unscoped, _Scope()
        frames = sum(1 for h in _held if h.scope is done)
    done.close()
    return frames


def unheld(spark: SparkSession) -> dict[str, int]:
    """What no open scope holds, by kind: cached relations, temp views,
    catalog tables, active streams (of any session) and scope
    directories. Taken under the lock, so no scope is half closed; the
    views ``spark.sql`` registers for the length of one call are not
    counted."""
    with _lock:
        ids = [s.id for s in _open]

        def free(names) -> int:
            return sum(1 for n in names if not any(i in (n or "") for i in ids))

        live = {_entry(h.df) for h in _held if h.scope in _open} - {None}
        jss = spark._jsparkSession
        shown = [r for r in spark.sql("SHOW TABLES").collect()
                 if not r.tableName.startswith("_pyspark_")]
        return {
            "cached": jss.sharedState().cacheManager().numCachedEntries() - len(live),
            "views": free(r.tableName for r in shown if r.isTemporary),
            "tables": free(r.tableName for r in shown if not r.isTemporary),
            # one snapshot of the JVM map: py4j's values() looks each key
            # up again, and finds None once another client's stream stopped
            "streams": free(e.getValue().name() for e in
                            jss.sharedState().activeStreamingQueries().entrySet().toArray()),
            "dirs": free(os.listdir(_root) if _root else []),
        }
