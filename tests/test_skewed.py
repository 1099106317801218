"""Skewed-corpus parity sweep.

All committed fixtures are benign-distribution, so the skew machinery
(salted join/wordcount, AQE skew handling, hot-partition windows) was
never exercised against data that actually has a hot key. data/skewed
(scripts/make_skewed.py, derived from sf0.01) fixes that axis:

    events.user_id     ~20% of rows on ONE user (sessionization windows,
                       per-user aggregates, funnel/retention partitions)
    documents.lang     ~88% one lang (groupBy lang, quality buckets)
    lineitem.l_suppkey ~26% of rows on ONE supplier (every supplier join)

Every oracle-backed query must stay hash-exact against DuckDB and every
rows-only query must run — skew must change PERFORMANCE, never answers.

The file is in the sweep tier (pytest.ini deselects it by default): run
it with ``-m sweep``, e.g. ``python -m pytest tests/test_skewed.py -m
sweep``. Without the flag pytest collects 0 tests and exits 5.
"""

from __future__ import annotations

import os
import sys

import pytest

from tests.parity import oracle_db, run_parity
from toy_map_reduce_spark.registry import all_specs

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))

# sweep tier: full registry vs a skew-regenerated corpus — deselected
# from the default run (pytest.ini), run by scripts/handoff_gate.sh
# step 1b.
pytestmark = pytest.mark.sweep

SPECS = all_specs()


@pytest.fixture(scope="session")
def skew_dir() -> str:
    from make_skewed import ensure_skewed

    return ensure_skewed()


@pytest.fixture(scope="session")
def skew_duck(skew_dir):
    with oracle_db(skew_dir) as con:
        yield con


@pytest.mark.parametrize("name", sorted(SPECS), ids=sorted(SPECS))
def test_skewed_parity(spark, skew_dir, skew_duck, name):
    run_parity(spark, skew_duck, SPECS[name], skew_dir)
