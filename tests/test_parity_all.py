"""Universal parity gate: every registered query vs its DuckDB oracle at
sf0.001 — the local mirror of the driver's t2 check (sf0.01).

The file is in the sweep tier (pytest.ini deselects it by default): run
it with ``-m sweep``, e.g. ``python -m pytest tests/test_parity_all.py
-m sweep``. Without the flag pytest collects 0 tests and exits 5.
"""

from __future__ import annotations

import pytest

from tests.parity import run_parity
from toy_map_reduce_spark.registry import all_specs

# sweep tier (r14): deselected from the default run (see pytest.ini),
# executed by scripts/handoff_gate.sh gate 1b and mirrored by the
# driver's own full-registry sf0.01 correctness gate.
pytestmark = pytest.mark.sweep

SPECS = all_specs()


@pytest.mark.parametrize("name", sorted(SPECS), ids=sorted(SPECS))
def test_parity(spark, duck, sf_dir, name):
    run_parity(spark, duck, SPECS[name], sf_dir)
