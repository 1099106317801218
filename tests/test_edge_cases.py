"""Edge-case parity regressions on crafted corpora (cases the fixture data
can't reach: short documents, empty-ish text) — the Spark builder and its
DuckDB oracle must agree on these too, not just on the fixtures.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.parity import assert_frames_match
from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import get_spec


@pytest.fixture(autouse=True)
def _query_scope():
    """What a test's queries persist is released when the test ends, so no
    cached frame outlives it (toy_map_reduce_spark/scratch.py)."""
    with scratch.scope():
        yield

EDGE_DOCS = [
    (0, "hello"),                       # 1 token — below shingle width
    (1, "hello world"),                 # 2 tokens
    (2, "hello world again"),           # exactly 3
    (3, "hello world again"),           # exact duplicate of 2
    (4, "one two three four five six seven"),
    (5, "one two three four five six seven"),
    (6, "x"),                           # another 1-token doc, distinct
]


@pytest.fixture()
def edge_dir(spark, tmp_path):
    d = str(tmp_path)
    (
        spark.createDataFrame(EDGE_DOCS, ["doc_id", "text"])
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("edge"))
        .withColumn("n_chars", F.length("text"))
        .write.mode("overwrite")
        .parquet(f"{d}/documents.parquet")
    )
    return d


@pytest.fixture()
def edge_duck(edge_dir):
    con = duckdb.connect()
    # Spark writes the table as a directory of part files; glob them
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{edge_dir}/documents.parquet/*.parquet')"
    )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "dedup_ngram_jaccard",
        "dedup_exact",
        "dedup_clusters",
        "text_stats",
        "text_ngram_freq",
        "text_fingerprint",
        "text_tfidf",
        "text_keywords",
        "wordcount",
        "dataset_split",
    ],
)
def test_edge_corpus_parity(spark, edge_dir, edge_duck, name):
    spec = get_spec(name)
    sdf = spec.builder(spark, edge_dir).toPandas()
    odf = edge_duck.sql(spec.oracle).df()
    assert_frames_match(sdf, odf, name=name)


def test_short_docs_pair_exactly_like_oracle(spark, edge_dir):
    """Duplicate 3-token docs (2,3) and 7-token docs (4,5) must pair with
    jaccard 1.0; sub-shingle-width docs (0,1,6) must produce no pairs."""
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in get_spec("dedup_ngram_jaccard").builder(spark, edge_dir).collect()
    }
    assert pairs == {(2, 3): 1.0, (4, 5): 1.0}


def test_wholetext_corpus_falls_back_when_reference_absent():
    """source_wholetext must not be pinned to one mount point: with
    SPARK_GRAFT_REFERENCE_DIR pointing nowhere, the resolver (import-time)
    must pick the repo-local fallback corpus and keep query and oracle on
    the SAME path."""
    import os
    import subprocess
    import sys

    code = (
        "from toy_map_reduce_spark.sources import io_ops;"
        "import glob, os;"
        "assert io_ops._WHOLETEXT_CORPUS.endswith(os.path.join('data', 'wholetext_corpus')), io_ops._WHOLETEXT_CORPUS;"
        "assert glob.glob(io_ops._WHOLETEXT_CORPUS + '/*.txt'), 'fallback corpus missing';"
        "assert io_ops._WHOLETEXT_CORPUS in io_ops._WHOLETEXT_ORACLE, 'oracle diverged from query path'"
    )
    env = dict(os.environ, SPARK_GRAFT_REFERENCE_DIR="/nonexistent-ref-checkout")
    subprocess.run([sys.executable, "-c", code], check=True, env=env)


def test_compaction_actually_reduces_file_count(spark, sf_dir):
    """compact_small_files must leave exactly COMPACT_TARGET_FILES parquet
    part-files in the compacted dir (and >2 in the fragmented one), not
    just return correct aggregates."""
    import glob

    from toy_map_reduce_spark.registry import get_spec
    from toy_map_reduce_spark.sources.io_ops import COMPACT_TARGET_FILES

    with scratch.scope():
        get_spec("compact_small_files").builder(spark, sf_dir).collect()
        frag = glob.glob(scratch.path("compact/frag") + "/part-*.parquet")
        tight = glob.glob(scratch.path("compact/tight") + "/part-*.parquet")
    assert len(tight) == COMPACT_TARGET_FILES
    assert len(frag) > len(tight)


def test_dynamic_partition_overwrite_leaves_session_conf_alone(spark, sf_dir, duck):
    """sink_dynamic_partition_overwrite asks for dynamic mode on its one
    write: another client's overwrite on the shared session, polled here
    while the query runs, never sees the session conf switch to dynamic.
    Oracle parity shows the option took effect (a static overwrite would
    drop every partition but 'A')."""
    import threading

    from tests.parity import run_parity

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    seen, done = set(), threading.Event()

    def poll():
        while not done.wait(0.001):
            seen.add(spark.conf.get(key))

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        run_parity(spark, duck, get_spec("sink_dynamic_partition_overwrite"), sf_dir)
    finally:
        done.set()
        poller.join(timeout=60)
    assert not poller.is_alive()
    assert before.lower() == "static"
    assert spark.conf.get(key) == before
    assert seen == {before}


def test_recursive_cte_agrees_with_unrolled_bfs(spark, sf_dir):
    """The declarative WITH RECURSIVE reachability and the hand-unrolled
    BFS loop are two formulations of the same computation — their result
    sets must be identical."""
    from toy_map_reduce_spark.registry import get_spec

    a = sorted(map(tuple, get_spec("sql_recursive_cte").builder(spark, sf_dir).collect()))
    b = sorted(map(tuple, get_spec("graph_bfs_levels").builder(spark, sf_dir).collect()))
    assert a == b


def test_attribution_segments_match_bruteforce(spark, sf_dir):
    # independent check of the reverse-cumulative segment trick: a plain
    # python interval scan (for each purchase, credit the touches since
    # the user's previous purchase) must produce identical channel totals
    from collections import defaultdict

    from pyspark.sql import functions as F

    from toy_map_reduce_spark.registry import get_spec
    from toy_map_reduce_spark.tables import load

    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click", "view"))
        .select("user_id", "event_id", "ts", "event_type", "value")
        .collect()
    )
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r)
    credit = defaultdict(float)
    counts = defaultdict(int)
    for rows in by_user.values():
        rows.sort(key=lambda r: (r.ts, r.event_type != "purchase", r.event_id))
        # ascending order with purchases BEFORE same-ts touches, matching
        # the query's DESC ordering where purchases sort before their
        # preceding touches
        touches = []
        for r in rows:
            if r.event_type == "purchase":
                if touches:
                    share = r.value / len(touches)
                    for t in touches:
                        credit[t.event_type] += share
                        counts[t.event_type] += 1
                touches = []
            else:
                touches.append(r)
    got = {
        r.event_type: (r.n_credited_touches, r.attributed_value)
        for r in get_spec("events_attribution_linear").builder(spark, sf_dir).collect()
    }
    exp = {
        ch: (counts[ch], round(credit[ch], 4)) for ch in credit
    }
    assert set(got) == set(exp)
    for ch in exp:
        assert got[ch][0] == exp[ch][0], (ch, got[ch], exp[ch])
        assert abs(got[ch][1] - exp[ch][1]) < 1e-2, (ch, got[ch], exp[ch])


def test_fuzzy_block_matches_bruteforce_within_first_char(spark, sf_dir):
    # the blocked join must find exactly the pairs a brute-force scan
    # finds among same-first-char pairs (length blocking is lossless at
    # the threshold; first-char blocking is the documented residual)
    from toy_map_reduce_spark.operators.joins import (
        FUZZY_MAX_DIST,
        _CANON_ROWS,
        _MENTION_ROWS,
    )
    from toy_map_reduce_spark.registry import get_spec

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    exp = {}
    for mid, m in _MENTION_ROWS:
        cands = [
            (lev(m, name), name)
            for _, name in _CANON_ROWS
            if name[0] == m[0] and lev(m, name) <= FUZZY_MAX_DIST
        ]
        exp[mid] = min(cands) if cands else (None, None)
    got = {
        r.mention_id: (r.distance, r.matched)
        for r in get_spec("join_fuzzy_block").builder(spark, sf_dir).collect()
    }
    assert got == exp


def test_soundex_golden_codes(spark):
    """Pin Spark's soundex against the textbook reference codes so the
    phonetic blocking key can't silently change semantics."""
    from pyspark.sql import functions as F

    golden = {
        "ROBERT": "R163", "RUPERT": "R163",   # the canonical collision
        "ASHCRAFT": "A261",
        "TYMCZAK": "T522",
        "PFISTER": "P236",
        "HONEYMAN": "H555",
    }
    df = spark.createDataFrame([(n,) for n in golden], ["name"])
    got = {r.name: r.code for r in df.select("name", F.soundex("name").alias("code")).collect()}
    assert got == golden, got


def test_waterfall_deltas_sum_to_topline_with_vanishing_segment(spark, tmp_path):
    """A segment with prior-month revenue but NO latest-month revenue must
    still appear (full negative swing), and the per-segment deltas must sum
    to the topline month-over-month move — the docstring's invariant."""
    from datetime import date

    orders = [
        # (o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderstatus,
        #  o_orderpriority, o_clerk, o_shippriority, o_comment)
        (1, 1, 100.0, date(2024, 1, 5)),   # seg A, prior month
        (2, 2, 50.0, date(2024, 1, 9)),    # seg B, prior month
        (3, 1, 120.0, date(2024, 2, 3)),   # seg A, latest month
        (4, 3, 30.0, date(2024, 2, 7)),    # seg C, latest only (new segment)
        # seg B vanishes in February — must contribute delta -50
    ]
    custs = [(1, "A"), (2, "B"), (3, "C")]
    d = str(tmp_path)
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate date"
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        custs, "c_custkey long, c_mktsegment string"
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")

    rows = {r.segment: r for r in get_spec("orders_waterfall").builder(spark, d).collect()}
    assert set(rows) == {"A", "B", "C"}
    assert rows["B"].rev_prior == 50.0 and rows["B"].rev_latest == 0.0
    assert rows["B"].delta == -50.0
    assert rows["C"].rev_prior == 0.0 and rows["C"].delta == 30.0
    topline = (120.0 + 30.0) - (100.0 + 50.0)
    assert abs(sum(r.delta for r in rows.values()) - topline) < 1e-9


# ---------------------------------------------------------------------------
# _exact_percentiles_hybrid stress sweep (round-5 regression for the GK
# candidate-window off-by-one that crashed agg_trimmed_mean at sf0.001):
# small groups, distinct values, heavy duplicates, and one group large
# enough to exercise the true GK bracketing path — every probability must
# reproduce F.percentile bit-for-bit, never crash, never go null.
# ---------------------------------------------------------------------------

PCTL_STRESS_PROBS = [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]


def _pctl_stress_rows():
    import random

    rng = random.Random(42)
    rows = []
    # tiny groups with distinct doubles (the crashing regime)
    for g, n in [("n1", 1), ("n2", 2), ("n3", 3), ("n5", 5), ("n20", 20),
                 ("n150", 150)]:
        for _ in range(n):
            rows.append((g, rng.uniform(-1e3, 1e3)))
    # heavy duplicates: 500 rows over 3 distinct values
    for _ in range(500):
        rows.append(("dups", float(rng.choice([7.0, 7.0, 7.0, 42.0, -1.5]))))
    # all-identical group
    rows += [("const", 13.25)] * 97
    # large group past PCTL_SMALL_N -> real GK bracket + ext-statistic path
    for _ in range(10_500):
        rows.append(("big", rng.gauss(0.0, 100.0)))
    # large + low cardinality (tie-class path on the GK branch)
    for _ in range(10_500):
        rows.append(("bigdup", float(rng.randint(0, 49))))
    return rows


def test_exact_percentiles_hybrid_stress(spark):
    from toy_map_reduce_spark.operators.extras import _exact_percentiles_hybrid

    df = spark.createDataFrame(_pctl_stress_rows(), "g string, v double").cache()
    pairs = [(f"q{i}", "v", p) for i, p in enumerate(PCTL_STRESS_PROBS)]
    got = {
        r["g"]: r
        for r in _exact_percentiles_hybrid(df, "g", pairs, round_to=None).collect()
    }
    want = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(*[F.percentile("v", F.lit(p)).alias(f"q{i}")
               for i, p in enumerate(PCTL_STRESS_PROBS)])
        .collect()
    }
    df.unpersist()
    assert set(got) == set(want)
    for g in want:
        for i in range(len(PCTL_STRESS_PROBS)):
            w, h = want[g][f"q{i}"], got[g][f"q{i}"]
            assert h is not None, (g, i)
            assert w == h, (g, PCTL_STRESS_PROBS[i], w, h)


def test_exact_order_stats_gk_branch(spark):
    """_exact_order_stats on a 25k-row skewed feed (past PCTL_SMALL_N, so
    the true GK bracket + ext-statistic path runs): ntile bucket
    boundaries and fixed ranks must equal the sorted-order truth."""
    import random

    from toy_map_reduce_spark.operators.extras import (
        PCTL_SMALL_N,
        _exact_order_stats,
        ntile_size,
        ntile_start_sql,
    )

    rng = random.Random(7)
    n = 25_000
    assert n > PCTL_SMALL_N
    # mix of continuous values and heavy tie classes
    vals = [rng.gauss(0, 50.0) for _ in range(n - 6000)] + [
        float(rng.choice([1.0, 2.5, 99.0])) for _ in range(6000)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    nb = 7
    windows = [
        (
            (i - 1) / nb,
            # ONE walk at start-1 serves both adjacent lookups (v1/v2)
            # plus the boundary's exact below-count (c1)
            f"{ntile_start_sql(i, nb)} - 1",
            [("v1", f"s{i}m1"), ("v2", f"s{i}"), ("c1", f"lt{i}m1")],
        )
        for i in range(2, nb + 1)
    ]
    windows += [
        (0.0, "0", [("v1", "first")]),
        (1.0, "`n` - 1", [("v1", "last")]),
        (0.5, "CAST(FLOOR(`n` / 2) AS BIGINT)", [("v1", "mid")]),
    ]
    row = _exact_order_stats(
        df, "v", windows, extra_eps=(nb + 2) / PCTL_SMALL_N, with_minmax=True
    ).first()
    s = sorted(vals)
    assert row["n"] == n
    base, rem = n // nb, n % nb
    starts = [(i - 1) * base + min(i - 1, rem) for i in range(1, nb + 1)]
    for i in range(2, nb + 1):
        assert row[f"s{i}"] == s[starts[i - 1]], (i, starts[i - 1])
        assert row[f"s{i}m1"] == s[starts[i - 1] - 1], (i, starts[i - 1] - 1)
        # c1 = exact global count of rows strictly below the walked value
        want_lt = sum(1 for v in s if v < s[starts[i - 1] - 1])
        assert row[f"lt{i}m1"] == want_lt, (i, row[f"lt{i}m1"], want_lt)
    assert row["first"] == s[0] and row["last"] == s[-1]
    assert row["vmin"] == s[0] and row["vmax"] == s[-1]
    assert row["mid"] == s[n // 2]
    # size arithmetic must sum to n and match the SQL-standard split
    sizes = [
        spark.range(1).select(ntile_size(i, F.lit(n), nb)).first()[0]
        for i in range(1, nb + 1)
    ]
    assert sum(sizes) == n and sizes == sorted(sizes, reverse=True)


def test_bracketed_stats_null_contract(spark):
    """The _bracketed_stats non-null contract is ASSERTED, not just
    documented (r6 verdict item 4): a group with MIXED nulls fails
    loudly (raise_error in the bounds expressions) instead of silently
    shifting every rank, while an all-NULL group degrades to NULL cells
    — exactly F.percentile's all-NULL answer — and clean groups are
    untouched."""
    from toy_map_reduce_spark.operators.extras import _exact_percentiles_hybrid

    clean = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 101)], "g string, v double"
    )
    got = _exact_percentiles_hybrid(
        clean, "g", [("med", "v", 0.5)], round_to=None
    ).first()
    want = clean.groupBy("g").agg(F.percentile("v", F.lit(0.5)).alias("med")).first()
    assert got["med"] == want["med"]

    # all-NULL group -> NULL cell, matching F.percentile; no crash
    allnull = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 101)] + [("b", None)] * 5,
        "g string, v double",
    )
    rows = {
        r["g"]: r["med"]
        for r in _exact_percentiles_hybrid(
            allnull, "g", [("med", "v", 0.5)], round_to=None
        ).collect()
    }
    assert rows["a"] == want["med"] and rows["b"] is None

    # mixed NULLs -> loud failure, never a silently shifted rank
    mixed = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 101)]
        + [("a", None), ("a", None), ("a", None)],
        "g string, v double",
    )
    # the USER_RAISED_EXCEPTION may surface wrapped (AQE stage
    # materialization aggregates failures into a Py4JJavaError), so match
    # on the message, not the exception class
    with pytest.raises(Exception, match="contains NULLs"):
        _exact_percentiles_hybrid(
            mixed, "g", [("med", "v", 0.5)], round_to=None
        ).collect()


def test_row_count_matches_footer_and_handles_layouts(spark, sf_dir, tmp_path):
    """tables.row_count must return the exact fixture row count from the
    parquet footer without a Spark job, and degrade to None on junk paths
    — it sizes range-partition widths, so a wrong count would mis-shape
    rank shuffles silently."""
    from toy_map_reduce_spark.tables import load, row_count

    n = row_count(sf_dir, "lineitem")
    assert n == load(spark, sf_dir, "lineitem").count()

    # junk paths -> None, never an exception
    assert row_count("/nonexistent", "lineitem") is None
    assert row_count(str(tmp_path), "no_such_table") is None


def test_two_scopes_get_two_derby_databases_both_shut_down_and_removed(spark, sf_dir):
    """source_jdbc_roundtrip's embedded Derby database belongs to its
    query scope: two scopes open at once (embedded Derby locks its
    database directory) get two databases, and each scope's exit shuts
    its database down and removes it."""
    from py4j.protocol import Py4JJavaError

    from toy_map_reduce_spark.registry import get_spec
    from toy_map_reduce_spark.sources import lakehouse

    if not lakehouse._jvm_class_exists(spark, lakehouse._DERBY_DRIVER):
        pytest.skip("derby driver jar absent")
    spec = get_spec("source_jdbc_roundtrip")
    dbs = []
    with scratch.scope():
        assert len(spec.builder(spark, sf_dir).collect()) == 5
        dbs.append(scratch.path("derby") + "/db")
        with scratch.scope():
            assert len(spec.builder(spark, sf_dir).collect()) == 5
            dbs.append(scratch.path("derby") + "/db")
            assert all(os.path.isdir(db) for db in dbs)
        assert os.path.isdir(dbs[0]) and not os.path.exists(dbs[1])
    assert dbs[0] != dbs[1]
    for db in dbs:
        assert not os.path.exists(db)
        # a database still booted would accept a connection
        with pytest.raises(Py4JJavaError) as err:
            spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db}")
        assert err.value.java_exception.getSQLState() == "XJ004"

def test_derby_home_outlives_the_scope_that_set_it(spark, sf_dir):
    """Derby reads derby.system.home once, when its engine boots, and
    keeps writing derby.log there; the directory must still exist after
    the query scope that ran source_jdbc_roundtrip has exited."""
    from toy_map_reduce_spark.registry import get_spec
    from toy_map_reduce_spark.sources import lakehouse

    if not lakehouse._jvm_class_exists(spark, lakehouse._DERBY_DRIVER):
        pytest.skip("derby driver jar absent")
    with scratch.scope():
        assert len(get_spec("source_jdbc_roundtrip").builder(spark, sf_dir).collect()) == 5
    home = spark._jvm.java.lang.System.getProperty("derby.system.home")
    assert home and os.path.isdir(home), home


def test_load_evicts_stale_memo_entries(spark, sf_dir, monkeypatch):
    """Both tables.py caches stay bounded: inserting a relation drops the
    relations of sessions of other applications (a stopped session's
    handles), and a source file's record under an older (size, mtime_ns)
    stamp is replaced by the current one, whose key the relation cache
    uses too."""
    import os

    from toy_map_reduce_spark import tables

    class StoppedSession:  # a session of an application that has ended
        _sc = object()

    monkeypatch.delenv("SPARK_GRAFT_LAYOUT_CACHE", raising=False)
    src = tables.table_path(sf_dir, "region")
    s = os.stat(src)
    live = (src, s.st_size, s.st_mtime_ns)
    # force both inserts, with a stale entry seeded beside each
    tables._RELATION_CACHE.get(spark, {}).pop(live, None)
    stale = tables._Record((src, s.st_size + 1, s.st_mtime_ns - 1), src, 0)
    tables._RECORDS[src] = stale
    stopped = StoppedSession()
    tables._RELATION_CACHE[stopped] = {live: None}

    assert tables.load(spark, sf_dir, "region").count() == 5
    assert stopped not in tables._RELATION_CACHE
    assert live in tables._RELATION_CACHE[spark]
    assert tables._RECORDS[src].key == live
    assert tables._RECORDS[src].rows == 5


def test_load_stats_one_file(spark, sf_dir, monkeypatch):
    """A warm load stats the source file once and parses no footer."""
    import pyarrow.parquet as pq

    from toy_map_reduce_spark import tables

    tables.load(spark, sf_dir, "events")
    stats, footers = [], []
    real_stat = os.stat
    with monkeypatch.context() as m:
        m.setattr(os, "stat", lambda p, *a, **k: stats.append(p) or real_stat(p, *a, **k))
        m.setattr(pq, "ParquetFile", lambda *a, **k: footers.append(a))
        df = tables.load(spark, sf_dir, "events")
    assert df.count() > 0
    assert stats == [tables.table_path(sf_dir, "events")]
    assert footers == []


def test_nanos_events_fail_loudly(spark, tmp_path):
    """An events file that stores ts as TIMESTAMP(NANOS) is refused with
    Spark's error, never read as wrong values."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from toy_map_reduce_spark.tables import load

    ts = pa.array([datetime.datetime(2024, 1, 1, 12)], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1], "ts": ts}), tmp_path / "events.parquet")
    with pytest.raises(Exception, match=r"Illegal Parquet type: INT64 \(TIMESTAMP\(NANOS"):
        load(spark, str(tmp_path), "events").collect()


def test_rechunked_table_lands_in_the_user_cache(tmp_path, monkeypatch):
    """A one-row-group table that needs re-chunking is rewritten under the
    per-user cache, not under the checkout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from toy_map_reduce_spark import session, tables

    monkeypatch.delenv("SPARK_GRAFT_LAYOUT_CACHE", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    sf = tmp_path / "sf"
    sf.mkdir()
    # documents re-chunks into one group per 256 rows, up to 8
    pq.write_table(pa.table({"doc_id": list(range(1024))}), sf / "documents.parquet")
    path = tables._read_path(str(sf), "documents")
    assert path.startswith(os.path.join(session._cache_dir(), "layout") + os.sep), path
    assert pq.ParquetFile(path).metadata.num_row_groups == 4
    assert tables.fixture_table(path) == "documents"


def test_registry_raises_for_a_missing_operator_module(monkeypatch):
    """A renamed or deleted operator module fails the registry load
    instead of silently dropping its queries."""
    from toy_map_reduce_spark import registry

    missing = "toy_map_reduce_spark.operators.no_such_module"
    monkeypatch.setattr(registry, "_OPERATOR_MODULES", (*registry._OPERATOR_MODULES, missing))
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        registry.all_specs()


def test_load_binds_relations_to_the_loading_session(spark, sf_dir):
    """Sessions of one application get relations bound to themselves,
    with their own conf, whichever session loaded a table first — also
    when eight of them load at once with a short switch interval."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from toy_map_reduce_spark import tables

    tables.load(spark, sf_dir, "region")  # the parent loads it first
    sessions = [spark]
    for n in range(3, 10):
        child = spark.newSession()
        child.conf.set("spark.sql.shuffle.partitions", str(n))
        sessions.append(child)

    def load_all(session) -> list[bool]:
        want = session.conf.get("spark.sql.shuffle.partitions")
        out = []
        for _ in range(3):
            for name in ("region", "nation", "part"):
                df = tables.load(session, sf_dir, name)
                got = df._jdf.sparkSession().conf().get("spark.sql.shuffle.partitions")
                out.append(df.sparkSession is session and got == want)
        return out

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(len(sessions)) as pool:
            results = [f.result(timeout=300) for f in
                       [pool.submit(load_all, s) for s in sessions]]
    finally:
        sys.setswitchinterval(old)
    assert all(all(r) for r in results), results
