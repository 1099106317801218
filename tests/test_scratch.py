"""The query-scoped lifetime of persisted intermediates
(toy_map_reduce_spark/scratch.py): concurrent clients on one session get
oracle-exact results and leave nothing cached, a barrier call leaves a
live scope alone, and no engine module persists outside scratch.py."""

from __future__ import annotations

import ast
import pathlib
import sys
import threading

from tests.parity import run_parity
from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import get_spec

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


def test_no_persist_outside_scratch():
    """Every .persist()/.cache() in the engine goes through scratch.py, so
    each intermediate has the one query-scoped lifetime."""
    root = pathlib.Path(scratch.__file__).parent
    sites = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "scratch.py" and path.parent == root:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache")
                and not (isinstance(node.func.value, ast.Name)
                         and node.func.value.id == "scratch")
            ):
                sites.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not sites, f"persist/cache outside scratch.py: {sites}"
