"""The query scope (toy_map_reduce_spark/scratch.py): concurrent clients
on one session get oracle-exact results and leave nothing behind (no
cached relation, file, catalog table, temp view or stream), a barrier
call leaves a live scope alone, a query's streams run in a child session
that leaves the parent's conf alone, and no engine module persists,
names a view or stream, writes a fixed path or sets session conf outside
the modules that own it."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
import threading
import time

from tests.parity import run_parity
from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import get_spec
from toy_map_reduce_spark.session import streaming_session

# the rank family, the dedup staging family, and the sites no query used
# to release
CLIENT_QUERIES = [
    "orders_rfm",
    "pack_sequences",
    "dedup_containment",
    "dedup_near_verified",
    "dedup_simhash_pairs",
    "stat_calibration_bins",
    "stat_spearman",
    "graph_bfs_levels",
    "dedup_substring",
    "sim_knn_graph",
    "itemsets_assoc_rules",
]


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _is_cached(df) -> bool:
    return _cache_manager(df.sparkSession).lookupCachedData(df._jdf).isDefined()


def _start_empty(spark) -> None:
    scratch.release_scratch()  # frames earlier tests built unscoped
    spark.catalog.clearCache()


def test_four_clients_share_the_session_and_leave_nothing_cached(spark, sf_dir, duck):
    """Four threads run the same queries, each rotated by its client
    number so that neighbouring queries (the dedup family persists equal
    staging plans) overlap in time, each query in its own scope."""
    _start_empty(spark)
    failures = []

    def client(i: int) -> None:
        cursor = duck.cursor()
        try:
            for name in CLIENT_QUERIES[i:] + CLIENT_QUERIES[:i]:
                try:
                    run_parity(spark, cursor, get_spec(name), sf_dir)
                except Exception as exc:  # noqa: BLE001 - reported below
                    failures.append(f"client {i} {name}: {exc!r}"[:400])
        finally:
            cursor.close()

    threads = [threading.Thread(target=client, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(900)
        assert not t.is_alive()
    assert not failures, "\n".join(failures)
    cm = _cache_manager(spark)
    assert cm.isEmpty(), f"{cm.numCachedEntries()} cached relation(s) left"
    assert not scratch._held


# every kind of state a query used to leave in the session or on disk:
# streams and their sinks, fixed scratch paths, catalog tables, an
# embedded database and temp views
LEFTOVER_QUERIES = [
    "stream_tumbling",
    "stream_update_mode",
    "stream_static_join",
    "stream_foreachbatch_sink",
    "source_kv_text_roundtrip",
    "sink_table_catalog",
    "join_bucketed",
    "compact_small_files",
    "catalog_analyze_stats",
    "source_jdbc_roundtrip",
    "sql_tpch_q14",
]


def _stream_threads(spark) -> list[str]:
    """Names of the live JVM threads that run a streaming query, in any
    session (a child session's streams do not show in the parent's
    spark.streams.active)."""
    threads = spark._jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
    return [n for n in (t.getName() for t in threads if t.isAlive())
            if n.startswith("stream execution thread for")]


def test_four_clients_leave_no_files_tables_views_or_streams(spark, sf_dir, duck):
    """Four threads run each query twice, in an order rotated by client
    number, each run in its own scope. Every result is oracle-exact, and
    afterwards the session holds no temp view, no table a query made and
    no stream, and the per-process root no scope directory."""
    _start_empty(spark)
    tables_before = {(t.name, t.isTemporary) for t in spark.catalog.listTables()}
    failures = []

    def client(i: int) -> None:
        cursor = duck.cursor()
        try:
            for name in (LEFTOVER_QUERIES[i:] + LEFTOVER_QUERIES[:i]) * 2:
                try:
                    run_parity(spark, cursor, get_spec(name), sf_dir)
                except Exception as exc:  # noqa: BLE001 - reported below
                    failures.append(f"client {i} {name}: {exc!r}"[:400])
        finally:
            cursor.close()

    threads = [threading.Thread(target=client, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(900)
        assert not t.is_alive()
    assert not failures, "\n".join(failures)
    left = {(t.name, t.isTemporary) for t in spark.catalog.listTables()} - tables_before
    assert not left, f"tables or views left in the catalog: {sorted(left)}"
    assert not scratch._root or not os.listdir(scratch._root)
    deadline = time.monotonic() + 10  # a finished stream's thread is exiting
    while _stream_threads(spark) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not _stream_threads(spark)


def test_streams_run_in_a_child_session_that_leaves_the_parent_alone(spark, sf_dir, duck):
    """A streaming query's child session carries the parent's runtime conf
    and plans with 4 shuffle partitions of its own: a thread polling the
    parent's partitions (7 here) while stream_update_mode runs never sees
    another value."""
    confs = {"spark.sql.autoBroadcastJoinThreshold": "-1",
             "spark.sql.shuffle.partitions": "7"}
    old = {k: spark.conf.get(k) for k in confs}
    seen, stop = set(), threading.Event()

    def poll() -> None:
        while not stop.is_set():
            seen.add(spark.conf.get("spark.sql.shuffle.partitions"))
            time.sleep(0.001)

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        with scratch.scope():
            child = streaming_session(spark)
            assert child.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
            assert child.conf.get("spark.sql.shuffle.partitions") == "4"
        poller = threading.Thread(target=poll)
        poller.start()
        try:
            run_parity(spark, duck, get_spec("stream_update_mode"), sf_dir)
        finally:
            stop.set()
            poller.join(60)
        assert seen == {"7"}
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_equal_plans_share_one_entry_until_the_last_holder_lets_go(spark):
    _start_empty(spark)
    plan = "id % 7 AS k"
    a = spark.range(100).selectExpr(plan).groupBy("k").count()
    b = spark.range(100).selectExpr(plan).groupBy("k").count()
    entered, leave = threading.Event(), threading.Event()

    def other_client() -> None:
        with scratch.scope():
            scratch.persist(b)
            entered.set()
            leave.wait(60)

    t = threading.Thread(target=other_client)
    with scratch.scope():
        scratch.persist(a)
        t.start()
        assert entered.wait(60)
        assert _cache_manager(spark).numCachedEntries() == 1
    # this scope is done, the other client still holds the entry
    assert _is_cached(b)
    leave.set()
    t.join(60)
    assert not t.is_alive()
    assert _cache_manager(spark).isEmpty()
    assert not scratch._held


def test_holder_count_survives_many_racing_scopes(spark):
    """Eight threads (twice the cores) open scopes over one shared plan
    with a short switch interval: a lost holder count would unpersist
    the entry under a scope that is still open."""
    _start_empty(spark)
    lost = []

    def client() -> None:
        for _ in range(15):
            df = spark.range(10).selectExpr("id % 5 AS k").distinct()
            with scratch.scope():
                scratch.persist(df)
                if not _is_cached(df):
                    lost.append(df)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert not lost, f"{len(lost)} open scope(s) lost their cached entry"
    assert _cache_manager(spark).isEmpty()
    assert not scratch._held


def test_barrier_call_leaves_a_live_scope_alone(spark):
    """release_scratch() from another thread releases the frames
    persisted outside any scope, not those of a scope still open."""
    _start_empty(spark)
    unscoped = scratch.persist(spark.range(50).selectExpr("id % 3 AS k").distinct())
    scoped = spark.range(100).selectExpr("id % 11 AS k").groupBy("k").count()
    with scratch.scope():
        scratch.persist(scoped)
        barrier = threading.Thread(target=scratch.release_scratch)
        barrier.start()
        barrier.join(60)
        assert not barrier.is_alive()
        assert not _is_cached(unscoped)
        assert _is_cached(scoped)
        assert scoped.count() == 11
    assert not _is_cached(scoped)
    assert _cache_manager(spark).isEmpty()


ENGINE = pathlib.Path(scratch.__file__).parent


def _engine_calls(attrs, skip: str | None = None):
    """(where, call) for every call of a method named in ``attrs`` in the
    engine, outside the top-level module ``skip``."""
    for path in sorted(ENGINE.rglob("*.py")):
        if path.name == skip and path.parent == ENGINE:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr in attrs):
                yield f"{path.relative_to(ENGINE)}:{node.lineno}", node


def _is_scratch_call(node, fn: str | None = None) -> bool:
    """``node`` is ``scratch.<fn>(...)`` (any function when fn is None)."""
    return (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name) and node.func.value.id == "scratch"
            and fn in (None, node.func.attr))


def test_no_persist_outside_scratch():
    """Every .persist()/.cache() in the engine goes through scratch.py, so
    each intermediate has the one query-scoped lifetime."""
    sites = [where for where, node in _engine_calls(("persist", "cache"), "scratch.py")
             if not _is_scratch_call(node)]
    assert not sites, f"persist/cache outside scratch.py: {sites}"


def test_no_view_stream_name_or_fixed_path_outside_the_scope():
    """No engine module registers a temp view, names a streaming query
    with anything but scratch.name(...) or joins a path onto a
    module-level scratch root: all three outlived their query."""
    views = [where for where, _ in _engine_calls(
        ("createOrReplaceTempView", "createTempView", "createGlobalTempView",
         "createOrReplaceGlobalTempView"))]
    names, roots = [], []
    for path in sorted(ENGINE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        scoped = {  # variables holding a scratch.name(...)
            t.id for node in ast.walk(tree)
            if isinstance(node, ast.Assign) and _is_scratch_call(node.value, "name")
            for t in node.targets if isinstance(t, ast.Name)
        }
        names += [
            f"{path.relative_to(ENGINE)}:{node.lineno}" for node in ast.walk(tree)
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "queryName"
            and not (node.args and (_is_scratch_call(node.args[0], "name") or (
                isinstance(node.args[0], ast.Name) and node.args[0].id in scoped)))
        ]
        scratch_roots = {
            t.id for node in tree.body if isinstance(node, ast.Assign)
            for t in node.targets if isinstance(t, ast.Name)
            if "scratch" in (t.id + ast.unparse(node.value)).lower()
        }
        roots += [
            f"{path.relative_to(ENGINE)}:{node.lineno}" for node in ast.walk(tree)
            if isinstance(node, ast.Call) and ast.unparse(node.func) == "os.path.join"
            and node.args and isinstance(node.args[0], ast.Name)
            and node.args[0].id in scratch_roots
        ]
    assert not (views or names or roots), (
        f"temp views registered: {views}; streaming queries not named by "
        f"scratch.name: {names}; paths joined onto a module-level scratch "
        f"root: {roots}"
    )


def test_no_conf_set_outside_session():
    """Session conf is written in session.py only."""
    sites = [where for where, node in _engine_calls(("set",), "session.py")
             if isinstance(node.func.value, ast.Attribute) and node.func.value.attr == "conf"]
    assert not sites, f".conf.set outside session.py: {sites}"


def test_a_fresh_process_removes_the_directories_of_exited_pids(tmp_path):
    """A process killed before interpreter exit leaves its directory in
    $TMPDIR; the next process to make its own removes it, and leaves the
    directory of a pid that still runs alone."""
    exited = subprocess.Popen([sys.executable, "-c", "pass"])
    exited.wait()
    stale = tmp_path / f"spark-graft-{exited.pid}-killed"
    (stale / "scopes").mkdir(parents=True)
    (stale / f"pkg_{exited.pid:x}.zip").write_bytes(b"zip")
    alive = tmp_path / f"spark-graft-{os.getpid()}-running"
    alive.mkdir()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("import os\nfrom toy_map_reduce_spark import scratch\n"
            "with scratch.scope():\n    print(os.getpid(), scratch.path('x'))")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                         env=dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=root),
                         timeout=120, check=True)
    assert not stale.exists()
    pid, made = out.stdout.split()
    own = pathlib.Path(made).parents[2]  # <own>/scopes/<scope>/x
    assert own.parent == tmp_path and own.name.startswith(f"spark-graft-{pid}-")
    # the process removed its own directory at exit
    assert sorted(p.name for p in tmp_path.iterdir()) == [alive.name]


def test_unheld_counts_streams_while_other_clients_start_and_stop_them(spark):
    """unheld reads the JVM's active streams while other clients' streams
    start and stop; it must never see a query half gone."""
    stop, errors = threading.Event(), []

    def churn() -> None:
        try:
            while not stop.is_set():
                with scratch.scope():
                    child = streaming_session(spark)
                    for _ in range(8):
                        (child.readStream.format("rate").load()
                         .writeStream.format("noop").start())
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(f"streams: {exc!r}")

    clients = [threading.Thread(target=churn) for _ in range(2)]
    for t in clients:
        t.start()
    try:
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline and not errors:
            try:
                scratch.unheld(spark)
            except Exception as exc:  # noqa: BLE001 - reported below
                errors.append(f"unheld: {exc!r}")
    finally:
        stop.set()
        for t in clients:
            t.join(120)
    assert not any(t.is_alive() for t in clients)
    assert not errors, errors
