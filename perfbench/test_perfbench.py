"""Tests of the benchmark's own logic; none needs a Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
from measure import (  # noqa: E402
    NAME_RE, another_round, failed_frac, percentile, run_round, summarize, tail_percentile,
)
from workloads import WORKLOADS  # noqa: E402


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
     (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_rounds_go_on_until_the_samples_carry_a_p90():
    # 39 queries a round: two rounds (78 samples) allow only the median
    assert another_round(0, 39, False, None)
    assert another_round(2, 39, False, None)
    assert not another_round(3, 39, False, None)
    assert another_round(3, 39, True, None)  # --seconds not yet up
    # a fixed round count ignores both
    assert another_round(0, 15, False, 1) and not another_round(1, 15, True, 1)


@pytest.mark.parametrize("a, b", [(1, 1), (3, 5), (8, 8), (14, 2), (105, 12)])
def test_betainc_matches_the_binomial_sum(a, b):
    # for whole a, b: I_x(a, b) = P(Binomial(a + b - 1, x) >= a)
    n = a + b - 1
    for x in (0.05, 0.3, 0.5, 0.77, 0.95):
        want = sum(math.comb(n, j) * x**j * (1 - x) ** (n - j) for j in range(a, n + 1))
        assert measure._betainc(a, b, x) == pytest.approx(want, rel=1e-9, abs=1e-12)


def test_percentile_is_harrell_davis():
    values = list(range(1, 101))
    assert percentile(values, 50.0) == pytest.approx(50.5)
    assert percentile([2.0, 1.0], 50.0) == pytest.approx(1.5)
    assert percentile([3.0], 90.0) == pytest.approx(3.0)
    assert percentile(values, 10.0) < percentile(values, 50.0) < percentile(values, 90.0)
    assert 89.0 < percentile(values, 90.0) < 92.0
    with pytest.raises(ValueError):
        percentile([], 50.0)


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert declared == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for name in (*run.END_TO_END, *run.PER_LAYER, *WORKLOADS):
        assert NAME_RE.match(name), name
    assert not NAME_RE.match("latency p50") and not NAME_RE.match("_x")


def _sleeper(fail: set[str]):
    def execute(name: str):
        time.sleep(0.05 if name == "slow" else 0.01)
        if name in fail:
            raise RuntimeError(f"injected failure in {name}")
        return name
    return execute


def test_failing_query_counts_and_keeps_its_time():
    order = ["a", "slow", "b", "c"]
    ok_round = run_round(order, 1, _sleeper(set()))
    bad_round = run_round(order, 1, _sleeper({"slow"}))
    ok, bad = summarize([ok_round]), summarize([bad_round])
    assert failed_frac([ok_round]) == 0.0
    assert failed_frac([bad_round]) == pytest.approx(1 / 4)
    assert sum(not o.ok for o in bad_round.outcomes) == 1
    # the failing query's time stays in the round: wall_s does not drop
    assert bad["wall_s"] >= 0.05 + 3 * 0.01
    assert bad["queries_per_s"] < ok["queries_per_s"]


def test_failure_misses_every_latency_limit():
    r = run_round(["x", "y"], 1, _sleeper({"x", "y"}))
    s = summarize([r])
    assert failed_frac([r]) == 1.0
    assert s["latency_p50_s"] == pytest.approx(s["wall_s"])  # the whole measured time
    assert s["queries_per_s"] == 0.0


def test_clients_share_one_queue_and_run_each_query_once():
    names = [f"q{i}" for i in range(300)]
    seen: list[str] = []

    def execute(name: str):
        seen.append(name)  # list.append is atomic; a lost update shows as a short list
        return name

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        r = run_round(names, 8, execute)
    finally:
        sys.setswitchinterval(old)
    assert sorted(seen) == sorted(names)
    assert sorted(o.name for o in r.outcomes) == sorted(names)
    assert all(o.ok for o in r.outcomes)


def test_replica_zero_is_the_base_and_the_rest_are_seeded():
    a = inputs.replica_params(7, 10)
    assert a == inputs.replica_params(7, 10)
    assert a != inputs.replica_params(8, 10)
    assert a[0] == (0, 0) and inputs.replica_params(8, 1) == [(0, 0)]
    perms = [p for p, _ in a[1:]]
    rots = [k for _, k in a[1:]]
    assert len(set(perms)) == len(perms) and 0 not in perms
    assert len(set(rots)) == len(rots) and 0 not in rots
    assert inputs.permutation("abcdefghijklmnopqrstuvwxyz", 0) == "abcdefghijklmnopqrstuvwxyz"
    with pytest.raises(ValueError):
        inputs.replica_params(1, 64)


def test_generate_is_deterministic_and_keeps_keys(tmp_path):
    import duckdb

    tables = ("customer", "orders", "lineitem", "part", "supplier", "documents", "embeddings")
    a = inputs.generate(str(tmp_path / "a"), 5, 2, tables)
    b = inputs.generate(str(tmp_path / "b"), 5, 2, tables)
    c = inputs.generate(str(tmp_path / "c"), 6, 2, tables)

    def read(d, t):
        with open(os.path.join(d, t + ".parquet"), "rb") as fh:
            return fh.read()

    assert all(read(a, t) == read(b, t) for t in tables)
    assert read(a, "documents") != read(c, "documents")

    def pq(t):
        return f"read_parquet('{os.path.join(a, t + '.parquet')}')"

    con = duckdb.connect()
    try:
        assert con.sql(f"SELECT COUNT(*) FROM {pq('lineitem')}").fetchone()[0] == 120_000
        orphans = con.sql(
            f"SELECT COUNT(*) FROM {pq('lineitem')} l ANTI JOIN {pq('orders')} o "
            f"ON l.l_orderkey = o.o_orderkey"
        ).fetchone()[0]
        assert orphans == 0
        dup_texts = con.sql(
            f"SELECT COUNT(*) - COUNT(DISTINCT text) FROM {pq('documents')}"
        ).fetchone()[0]
        base_dups = con.sql(
            f"SELECT COUNT(*) - COUNT(DISTINCT text) FROM "
            f"read_parquet('{os.path.join(inputs.BASE_DIR, 'documents.parquet')}')"
        ).fetchone()[0]
        assert dup_texts == 2 * base_dups  # replicas are not copies of each other
        first_replica = con.sql(
            f"SELECT text FROM {pq('documents')} ORDER BY doc_id LIMIT 50"
        ).fetchall()
        base_head = con.sql(
            f"SELECT text FROM read_parquet('{os.path.join(inputs.BASE_DIR, 'documents.parquet')}') "
            f"ORDER BY doc_id LIMIT 50"
        ).fetchall()
        assert first_replica == base_head  # replica 0 keeps the natural text
        base_emb = os.path.join(inputs.BASE_DIR, "embeddings.parquet")
        changed = con.sql(
            f"SELECT COUNT(*) FILTER (WHERE g.embedding <> b.embedding), COUNT(*) "
            f"FROM {pq('embeddings')} g JOIN read_parquet('{base_emb}') b USING (vec_id)"
        ).fetchone()
        assert changed[0] == 0 and changed[1] > 0  # and its embeddings
    finally:
        con.close()
