#!/usr/bin/env python
"""Generate benign scale-equivalent corpora: data/sf1_bench (10x sf0.1:
6M lineitem, 1M events, 50k documents) and data/sf3_bench (30x sf0.1),
without waiting on fixture generation. tests/test_corpora.py pins their
FK integrity and replica independence.

Construction (DuckDB, deterministic, no RNG): every scaling table is
replicated REP x with per-replica key offsets, mirroring how TPC-H SF
actually grows — MORE keys, not fatter keys — so per-key join/window
cardinality stays constant and only data volume scales:

  * surrogate keys offset by r*K with K shared across BOTH sides of each
    relationship (l_orderkey with o_orderkey, o_custkey with c_custkey,
    l_suppkey/l_partkey with their dims, doc_id with vec_id), so FK
    integrity survives replication exactly;
  * documents.text is per-replica PERMUTED (translate() over an affine
    alphabet map i -> m*i + c mod 26, length/token structure preserved):
    verbatim copies would make every doc an REP-way near-duplicate and
    blow the LSH candidate-pair count up quadratically — a DATA artifact
    masquerading as an engine scaling failure. Plain (r mod 26) rotation
    did exactly that at REP=30 (measured: 40k verbatim-duplicate docs in
    sf3_bench, dedup_containment slope 2.1 — corpus artifact, not
    engine); the affine family (m cycling the 12 units of Z26, c = r mod
    26) gives 312 distinct permutations, identity at r=0;
  * embeddings.embedding is per-replica component-ROTATED (same norm,
    genuinely different direction) so ANN hash buckets don't densify
    REP x for the same reason (REP must stay below the embedding dim, 64);
  * region/nation stay fixed (constant dims, as in TPC-H).

Freshness is keyed on the same _manifest.json scheme as make_skewed.

Usage: python scripts/make_scale.py [--force] [--sf3]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"
GEN_VERSION = 3  # v3: affine text permutations (v2's rotation wrapped at 26
# replicas, making r and r+26 verbatim text duplicates); v2: EXCLUDE (r)

_LOWER = "abcdefghijklmnopqrstuvwxyz"
_UPPER = _LOWER.upper()


def _fingerprint(rep: int) -> dict:
    from toy_map_reduce_spark.tables import TABLES, table_path

    return {
        "gen_version": GEN_VERSION,
        "rep": rep,
        "src": SRC,
        "sources": {
            # sizes only — mtimes are machine/checkout-local and would force
            # a spurious full rebuild on any other host (r12 advisor)
            t: os.path.getsize(p)
            for t in TABLES
            if os.path.exists(p := table_path(SRC, t))
        },
    }


def _ensure(dst: str, rep: int, force: bool = False) -> str:
    import duckdb

    from toy_map_reduce_spark.tables import TABLES, table_path

    assert rep < 64, "embedding component-rotation needs rep < dim (64)"
    os.makedirs(dst, exist_ok=True)
    manifest_path = os.path.join(dst, "_manifest.json")
    want = _fingerprint(rep)
    if not force and os.path.exists(manifest_path):
        try:
            with open(manifest_path) as fh:
                if json.load(fh) == want and all(
                    os.path.exists(table_path(dst, t)) for t in TABLES
                ):
                    return dst
        except (OSError, ValueError):
            pass
    for t in TABLES:
        p = table_path(dst, t)
        if os.path.exists(p):
            os.remove(p)

    con = duckdb.connect()

    def _max(table: str, col: str) -> int:
        return con.sql(
            f"SELECT MAX({col}) FROM read_parquet('{table_path(SRC, table)}')"
        ).fetchone()[0]

    # shared per-relationship offset constants (PK side and FK side move
    # by the SAME r*K, so every replicated FK lands on a replicated PK)
    k_order = max(_max("lineitem", "l_orderkey"), _max("orders", "o_orderkey")) + 1
    k_cust = _max("customer", "c_custkey") + 1
    k_supp = _max("supplier", "s_suppkey") + 1
    k_part = _max("part", "p_partkey") + 1
    k_event = _max("events", "event_id") + 1
    k_user = _max("events", "user_id") + 1
    k_doc = max(_max("documents", "doc_id"), _max("embeddings", "vec_id")) + 1

    reps = f"UNNEST(range({rep})) AS r"

    # per-replica affine alphabet permutation i -> m*i + c (mod 26): r=0 is
    # the identity (m=1, c=0) so the original corpus is a subset; every
    # r < 312 gets a DISTINCT permutation (no verbatim-duplicate replicas)
    def _perm(alphabet: str, r: int) -> str:
        m = (1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)[(r // 26) % 12]
        c = r % 26
        return "".join(alphabet[(m * i + c) % 26] for i in range(26))

    rot_l = "CASE r " + " ".join(
        f"WHEN {r} THEN '{_perm(_LOWER, r)}'" for r in range(rep)
    ) + " END"
    rot_u = "CASE r " + " ".join(
        f"WHEN {r} THEN '{_perm(_UPPER, r)}'" for r in range(rep)
    ) + " END"
    transforms = {
        "customer": f"SELECT * EXCLUDE (r) REPLACE (c_custkey + r * {k_cust} AS c_custkey)",
        "supplier": f"SELECT * EXCLUDE (r) REPLACE (s_suppkey + r * {k_supp} AS s_suppkey)",
        "part": f"SELECT * EXCLUDE (r) REPLACE (p_partkey + r * {k_part} AS p_partkey)",
        "orders": f"""SELECT * EXCLUDE (r) REPLACE (
                o_orderkey + r * {k_order} AS o_orderkey,
                o_custkey + r * {k_cust} AS o_custkey)""",
        "lineitem": f"""SELECT * EXCLUDE (r) REPLACE (
                l_orderkey + r * {k_order} AS l_orderkey,
                l_partkey + r * {k_part} AS l_partkey,
                l_suppkey + r * {k_supp} AS l_suppkey)""",
        "events": f"""SELECT * EXCLUDE (r) REPLACE (
                event_id + r * {k_event} AS event_id,
                user_id + r * {k_user} AS user_id)""",
        "documents": f"""SELECT * EXCLUDE (r) REPLACE (
                doc_id + r * {k_doc} AS doc_id,
                translate(text, '{_LOWER + _UPPER}', {rot_l} || {rot_u}) AS text)""",
        "embeddings": f"""SELECT * EXCLUDE (r) REPLACE (
                vec_id + r * {k_doc} AS vec_id,
                embedding[(r + 1):] || embedding[1:r] AS embedding)""",
    }
    for t in TABLES:
        body = transforms.get(t)
        if body is None:  # region/nation: fixed dims
            sql = f"SELECT * FROM read_parquet('{table_path(SRC, t)}')"
        else:
            sql = (
                f"{body} FROM read_parquet('{table_path(SRC, t)}'), (SELECT {reps})"
            )
        con.sql(f"COPY ({sql}) TO '{table_path(dst, t)}' (FORMAT PARQUET)")
    con.close()
    with open(manifest_path, "w") as fh:
        json.dump(want, fh, indent=1, sort_keys=True)
    return dst


def ensure_sf1_bench(force: bool = False) -> str:
    return _ensure(os.path.join(REPO, "data", "sf1_bench"), rep=10, force=force)


def ensure_sf3_bench(force: bool = False) -> str:
    return _ensure(os.path.join(REPO, "data", "sf3_bench"), rep=30, force=force)


if __name__ == "__main__":
    force = "--force" in sys.argv
    print(ensure_sf1_bench(force))
    if "--sf3" in sys.argv:
        print(ensure_sf3_bench(force))
