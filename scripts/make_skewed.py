#!/usr/bin/env python
"""Generate the skewed-corpus fixture dirs (r10 verdict task 3).

Every committed fixture (TPC-H + synthetic events/documents) is
benign-distribution, so the skew-specific machinery (join_skew_salted,
wordcount_salted, AQE skew-join handling, profile_join_keys,
sessionization windows over a hot user) was asserted, never exercised
against actually-skewed data. These dirs close that axis:

  data/skewed/        — derived from sf0.01, all ten tables, for the
                        FULL-registry parity sweep (tests/test_skewed.py):
      events.user_id    ~20% of rows remapped to one hot user
      documents.lang    ~80% of rows remapped to one dominant lang
      lineitem.l_suppkey ~25% of rows remapped to one hot supplier
  data/skewed_bench/   — same rules over sf0.1 (600k lineitem, 100k
                        events), fact tables replicated REP x with
                        offset surrogate keys, for the large-input
                        runs (scripts/spill_smoke.py).

Skew rules are pure modular arithmetic on the surrogate keys (no RNG,
no hash function that could differ across library versions), so
regeneration is deterministic for a given fixture generation. Remapped
values are EXISTING domain values (the min key of each dimension), and
replication offsets every side of a surrogate-key relationship by the
SAME constant (lineitem.l_orderkey with orders.o_orderkey;
documents.doc_id with embeddings.vec_id), so FK integrity and
accepted-value domains survive in BOTH dirs — the pathology under test
is distribution, not validity. (r11 advisor: rep>1 used to replicate
lineitem/documents without their parents, silently shrinking
orders-lineitem and documents-embeddings joins to 1/rep scale.)

Freshness is keyed on a _manifest.json stamped into each dir: source
file sizes (mtimes are machine-local), the replication factor, and a
generator version. A
mismatch (regenerated source fixtures, new generator rules) triggers a
full rebuild — per-file existence checks alone let a stale dir silently
mix fixture generations (r11 advisor).

Usage: python scripts/make_skewed.py [--force]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKEW_DIR = os.path.join(REPO, "data", "skewed")
SKEW_BENCH_DIR = os.path.join(REPO, "data", "skewed_bench")
SRC_PARITY = "/root/testdata/sf0.01"
SRC_BENCH = "/root/testdata/sf0.1"
REP = 16  # replication factor for the bench dir's fact tables
GEN_VERSION = 4  # bump on any transform-rule change to force a rebuild


def _fingerprint(src: str, rep: int) -> dict:
    from toy_map_reduce_spark.tables import TABLES, table_path

    return {
        "gen_version": GEN_VERSION,
        "rep": rep,
        "src": src,
        "sources": {
            # sizes only — mtimes are machine/checkout-local and would force
            # a spurious full rebuild on any other host (r12 advisor)
            t: os.path.getsize(p)
            for t in TABLES
            if os.path.exists(p := table_path(src, t))
        },
    }


def _gen(con, src: str, dst: str, rep: int, force: bool = False) -> None:
    import duckdb  # noqa: F401

    from toy_map_reduce_spark.tables import TABLES, table_path

    os.makedirs(dst, exist_ok=True)
    manifest_path = os.path.join(dst, "_manifest.json")
    want = _fingerprint(src, rep)
    if not force and os.path.exists(manifest_path):
        try:
            with open(manifest_path) as fh:
                if json.load(fh) == want and all(
                    os.path.exists(table_path(dst, t)) for t in TABLES
                ):
                    return
        except (OSError, ValueError):
            pass
    # stale / partial / pre-manifest dir: rebuild everything
    for t in TABLES:
        p = table_path(dst, t)
        if os.path.exists(p):
            os.remove(p)

    hot_user = con.sql(
        f"SELECT MIN(user_id) FROM read_parquet('{table_path(src, 'events')}')"
    ).fetchone()[0]
    hot_supp = con.sql(
        f"SELECT MIN(s_suppkey) FROM read_parquet('{table_path(src, 'supplier')}')"
    ).fetchone()[0]
    max_event = con.sql(
        f"SELECT MAX(event_id) FROM read_parquet('{table_path(src, 'events')}')"
    ).fetchone()[0]
    # offsets shared across BOTH sides of a surrogate-key relationship,
    # so replicated FKs land on replicated PKs (r11 advisor FK fix)
    k_order = con.sql(
        f"""SELECT GREATEST(
              (SELECT MAX(l_orderkey) FROM read_parquet('{table_path(src, 'lineitem')}')),
              (SELECT MAX(o_orderkey) FROM read_parquet('{table_path(src, 'orders')}')))"""
    ).fetchone()[0]
    k_doc = con.sql(
        f"""SELECT GREATEST(
              (SELECT MAX(doc_id) FROM read_parquet('{table_path(src, 'documents')}')),
              (SELECT MAX(vec_id) FROM read_parquet('{table_path(src, 'embeddings')}')))"""
    ).fetchone()[0]

    reps = "UNNEST(range(%d)) AS r" % rep
    transforms = {
        # ~20% of events hit one hot user (event_id % 5 = 0); replicas
        # offset event_id so it stays unique
        "events": f"""
            SELECT event_id + r * {max_event + 1} AS event_id, ts,
                   CASE WHEN event_id % 5 = 0 THEN {hot_user} ELSE user_id END AS user_id,
                   event_type, value, props
            FROM read_parquet('{table_path(src, 'events')}'), (SELECT {reps})
        """,
        # ~80% of documents collapse to one dominant lang
        "documents": f"""
            SELECT doc_id + r * {k_doc + 1} AS doc_id, text,
                   CASE WHEN doc_id % 5 <> 0 THEN 'en' ELSE lang END AS lang,
                   source, n_chars
            FROM read_parquet('{table_path(src, 'documents')}'), (SELECT {reps})
        """,
        # ~25% of lineitem rows hit one hot supplier
        "lineitem": f"""
            SELECT * EXCLUDE (r) REPLACE (
                   l_orderkey + r * {k_order + 1} AS l_orderkey,
                   CASE WHEN (l_orderkey + l_linenumber) % 4 = 0
                        THEN {hot_supp} ELSE l_suppkey END AS l_suppkey)
            FROM read_parquet('{table_path(src, 'lineitem')}'), (SELECT {reps})
        """,
    }
    if rep > 1:
        # parents of replicated facts replicate with the SAME offsets so
        # orders-lineitem, orders-customer and documents-embeddings joins
        # keep 1:1 FK coverage at every replica (rep=1 keeps the plain
        # copy: r=0 offsets are the identity and the copy preserves row
        # order). o_custkey offsets WITH customer so per-customer order
        # sets keep their original shape — replicating orders onto the
        # same custkeys would manufacture exact o_totalprice ties per
        # customer, flipping engine-defined argmin/argmax tie-breaking
        # (agg_min_max_by is scoped to tie-free input). The skew targets
        # (events.user_id, lineitem.l_suppkey) deliberately stay
        # UN-offset: their replica pile-up IS the hot key under test.
        k_cust = con.sql(
            f"SELECT MAX(c_custkey) FROM read_parquet('{table_path(src, 'customer')}')"
        ).fetchone()[0]
        transforms["customer"] = f"""
            SELECT * EXCLUDE (r) REPLACE (c_custkey + r * {k_cust + 1} AS c_custkey)
            FROM read_parquet('{table_path(src, 'customer')}'), (SELECT {reps})
        """
        transforms["orders"] = f"""
            SELECT * EXCLUDE (r) REPLACE (o_orderkey + r * {k_order + 1} AS o_orderkey,
                              o_custkey + r * {k_cust + 1} AS o_custkey)
            FROM read_parquet('{table_path(src, 'orders')}'), (SELECT {reps})
        """
        transforms["embeddings"] = f"""
            SELECT * EXCLUDE (r) REPLACE (vec_id + r * {k_doc + 1} AS vec_id)
            FROM read_parquet('{table_path(src, 'embeddings')}'), (SELECT {reps})
        """
    for t in TABLES:
        out = table_path(dst, t)
        sql = transforms.get(t)
        if sql is None:
            sql = f"SELECT * FROM read_parquet('{table_path(src, t)}')"
        con.sql(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
    with open(manifest_path, "w") as fh:
        json.dump(want, fh, indent=1, sort_keys=True)


def ensure_skewed(force: bool = False) -> str:
    """Regenerate data/skewed (parity dir, rep=1) if stale; return it."""
    import duckdb

    con = duckdb.connect()
    _gen(con, SRC_PARITY, SKEW_DIR, rep=1, force=force)
    con.close()
    return SKEW_DIR


def ensure_skewed_bench(force: bool = False) -> str:
    """Regenerate data/skewed_bench (timing dir, sf0.1 x REP) if stale."""
    import duckdb

    con = duckdb.connect()
    _gen(con, SRC_BENCH, SKEW_BENCH_DIR, rep=REP, force=force)
    con.close()
    return SKEW_BENCH_DIR


if __name__ == "__main__":
    force = "--force" in sys.argv
    print(ensure_skewed(force))
    print(ensure_skewed_bench(force))
