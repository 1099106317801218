"""Degenerate-input totality sweep (r9 verdict task 3).

Every oracle-backed query must agree with its DuckDB twin — and every
rows-only query must at least RUN — on three pathological fixture dirs
(scripts/make_degenerate.py):

  empty — zero-row tables: empty-group argmax (MIN(struct(...))),
          lag-seeded folds, window frames over empty partitions, and the
          1-row-vs-0-row global-aggregate contract are the classic
          divergence sites.
  one   — single-row tables: stddev of one sample, self-joins meeting
          themselves, percentiles of a point mass, n-1 denominators.
  edge  — three rows: one real, one all-NULL payload (non-key columns),
          one empty-payload ('' strings, [] embedding, zero numerics):
          ANSI division/index errors, NULL ordering drift (Spark NULLS
          FIRST vs DuckDB NULLS LAST), concat/split/hash NULL semantics,
          struct comparison with NULL members.

The r10 sweep found and fixed ~90 such divergences (try_divide adoption,
NULL-ordering pins, empty-input row-cardinality contracts, NULL-aware
UDF batches); this suite is the tripwire that keeps the whole class
closed. All fixes are no-ops at real scale — the standard parity gates
pin that separately.

The file is in the sweep tier (pytest.ini deselects it by default): run
it with ``-m sweep``, e.g. ``python -m pytest tests/test_degenerate.py -m
sweep``. Without the flag pytest collects 0 tests and exits 5.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

from tests.parity import run_parity
from toy_map_reduce_spark.registry import all_specs
from toy_map_reduce_spark.tables import TABLES, table_path

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))

# sweep tier (r14): 414 queries x 3 variants + 399 oracle-stability
# repeats — deselected from the default run (pytest.ini), executed by
# scripts/handoff_gate.sh gate 1b; the same degenerate dirs are also
# swept 30x by handoff gate 4 (scripts/oracle_stability.py).
pytestmark = pytest.mark.sweep

SPECS = all_specs()
VARIANTS = ("empty", "one", "edge")


@pytest.fixture(scope="session")
def degen_root() -> str:
    from make_degenerate import ensure_degenerate

    return ensure_degenerate()


@pytest.fixture(scope="session")
def degen_ducks(degen_root):
    cons = {}
    for variant in VARIANTS:
        con = duckdb.connect()
        d = os.path.join(degen_root, variant)
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(d, t)}')"
            )
        cons[variant] = con
    yield cons
    for con in cons.values():
        con.close()


@pytest.mark.parametrize("variant", VARIANTS)
@pytest.mark.parametrize("name", sorted(SPECS), ids=sorted(SPECS))
def test_degenerate_parity(spark, degen_root, degen_ducks, variant, name):
    run_parity(
        spark, degen_ducks[variant], SPECS[name], os.path.join(degen_root, variant)
    )


# --- oracle-evaluation stability (r10 verdict task 1/2) ---------------
# A parity gate is only as trustworthy as its oracle: r10's edge-dir
# "0 fail" was a coin flip because DuckDB 1.0 evaluates sorts with NULL
# keys nondeterministically (explicit NULLS FIRST/LAST notwithstanding) —
# five NULL-day-rollup argmax oracles flipped answers 2-13% of runs.
# Those rollups now filter NULL timestamps on both engines (pinned
# rule); this test is the tripwire: every oracle must produce ONE
# canonical result across 20 repeated evaluations on the edge corpus
# (the only dir with NULL-bearing time/sort columns). Static companion
# lint + 30x sweep: scripts/oracle_stability.py.

ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is not None)


@pytest.mark.parametrize("name", ORACLE_NAMES, ids=ORACLE_NAMES)
def test_oracle_stability_edge(degen_root, degen_ducks, name):
    from tests.parity import canonical_rows, fetch_oracle

    con = degen_ducks["edge"]
    sql = SPECS[name].oracle
    first = canonical_rows(fetch_oracle(con, sql))
    for rep in range(19):
        again = canonical_rows(fetch_oracle(con, sql))
        assert again == first, (
            f"{name}: oracle nondeterministic on edge corpus "
            f"(rep {rep + 2} diverged) — NULL sort key reintroduced?"
        )
