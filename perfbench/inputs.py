"""Seeded benchmark inputs, built from the committed base tables.

``base/`` holds the ten fixture tables at sf0.01 (60k lineitem, 500
documents). A workload's inputs are ``rep`` replicas of them, made the way
``scripts/make_scale.py`` grows sf0.1 into sf1:

* surrogate keys move by ``r * K`` per replica, with ``K`` shared by both
  sides of every key relationship, so foreign keys still land and per-key
  cardinality stays that of the base (more keys, not fatter keys);
* ``documents.text`` goes through an affine alphabet permutation
  ``i -> m*i + c (mod 26)`` per replica, which keeps lengths and token
  structure but stops replicas from being near-duplicates of each other;
* ``embeddings.embedding`` is rotated by a whole number of components per
  replica (same norm, another direction);
* ``region`` and ``nation`` stay as they are.

As in ``make_scale.py``, replica 0 is the base as it is, so the corpus keeps
its natural text (stopwords, license phrases, exact duplicates) for the
content-dependent queries. The seed picks the permutation and rotation of
each further replica (all distinct, never the identity), so two seeds give
two different corpora of the same shape and size, and the same seed gives
byte-identical inputs. With ``rep == 1`` the inputs are the base tables.

    python3 perfbench/inputs.py <dst> <seed> <rep> [table ...]
"""

from __future__ import annotations

import os
import random
import sys

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

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

_LOWER = "abcdefghijklmnopqrstuvwxyz"
_UNITS = (1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)  # the units of Z/26
_N_PERMS = 26 * len(_UNITS)  # index 0 is the identity
_EMBED_DIM = 64


def permutation(alphabet: str, index: int) -> str:
    """The ``index``-th affine permutation of a 26-letter alphabet."""
    m = _UNITS[(index // 26) % len(_UNITS)]
    c = index % 26
    return "".join(alphabet[(m * i + c) % 26] for i in range(26))


def replica_params(seed: int, rep: int) -> list[tuple[int, int]]:
    """(text permutation index, embedding rotation) for each replica;
    replica 0 keeps the base text and embeddings."""
    if not 1 <= rep < _EMBED_DIM:
        raise ValueError(f"rep must be in [1, {_EMBED_DIM - 1}], got {rep}")
    rng = random.Random(seed)
    perms = rng.sample(range(1, _N_PERMS), rep - 1)
    rotations = rng.sample(range(1, _EMBED_DIM), rep - 1)
    return [(0, 0)] + list(zip(perms, rotations))


def _case(values: list[str]) -> str:
    return "CASE r " + " ".join(f"WHEN {r} THEN {v}" for r, v in enumerate(values)) + " END"


def generate(dst: str, seed: int, rep: int, tables: tuple[str, ...] = TABLES) -> str:
    """Write ``tables`` for (seed, rep) into ``dst`` as parquet files."""
    import duckdb

    params = replica_params(seed, rep)
    os.makedirs(dst, exist_ok=True)

    def src(t: str) -> str:
        return f"read_parquet('{os.path.join(BASE_DIR, t + '.parquet')}', file_row_number = true)"

    con = duckdb.connect()
    try:
        def key_span(*cols: tuple[str, str]) -> int:
            return 1 + max(
                con.sql(f"SELECT MAX({c}) FROM {src(t)}").fetchone()[0] for t, c in cols
            )

        k_order = key_span(("lineitem", "l_orderkey"), ("orders", "o_orderkey"))
        k_cust = key_span(("customer", "c_custkey"))
        k_supp = key_span(("supplier", "s_suppkey"))
        k_part = key_span(("part", "p_partkey"))
        k_event = key_span(("events", "event_id"))
        k_user = key_span(("events", "user_id"))
        k_doc = key_span(("documents", "doc_id"), ("embeddings", "vec_id"))

        to_lower = _case([f"'{permutation(_LOWER, p)}'" for p, _ in params])
        to_upper = _case([f"'{permutation(_LOWER.upper(), p)}'" for p, _ in params])
        rot = _case([str(k) for _, k in params])
        replace = {
            "customer": f"c_custkey + r * {k_cust} AS c_custkey",
            "supplier": f"s_suppkey + r * {k_supp} AS s_suppkey",
            "part": f"p_partkey + r * {k_part} AS p_partkey",
            "orders": f"o_orderkey + r * {k_order} AS o_orderkey, "
                      f"o_custkey + r * {k_cust} AS o_custkey",
            "lineitem": f"l_orderkey + r * {k_order} AS l_orderkey, "
                        f"l_partkey + r * {k_part} AS l_partkey, "
                        f"l_suppkey + r * {k_supp} AS l_suppkey",
            "events": f"event_id + r * {k_event} AS event_id, "
                      f"user_id + r * {k_user} AS user_id",
            "documents": f"doc_id + r * {k_doc} AS doc_id, translate(text, "
                         f"'{_LOWER + _LOWER.upper()}', {to_lower} || {to_upper}) AS text",
            "embeddings": f"vec_id + r * {k_doc} AS vec_id, "
                          f"embedding[({rot} + 1):] || embedding[1:{rot}] AS embedding",
        }
        for t in tables:
            out = os.path.join(dst, f"{t}.parquet")
            if t in replace:
                sql = (
                    f"SELECT * EXCLUDE (r, file_row_number) REPLACE ({replace[t]}) "
                    f"FROM {src(t)}, (SELECT UNNEST(range({rep})) AS r) "
                    f"ORDER BY r, file_row_number"
                )
            else:
                sql = f"SELECT * EXCLUDE (file_row_number) FROM {src(t)} ORDER BY file_row_number"
            con.sql(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
    finally:
        con.close()
    return dst


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), tuple(sys.argv[4:]) or TABLES)
