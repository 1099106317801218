#!/usr/bin/env bash
# The pre-handoff gate. Every step runs even when an earlier one is red;
# the script exits non-zero if any step is red. In order:
#
#   1. the default pytest tier at the fixture scale (sf0.001)
#  1b. the sweep tier (`-m sweep`) at sf0.001: full-registry oracle
#      parity; parity on the degenerate (empty, one, edge) and skewed
#      dirs; layout invariance of every oracle-backed query (128m/4 vs
#      131072/17 scan splits and shuffle partitions); oracle stability
#      (30 evaluations per oracle and degenerate dir, DuckDB threads
#      alternating between the host's cores and 2)
#   2. full-registry oracle parity at sf0.01 and sf0.1, and at sf0.01
#      with forced sort-merge joins and with AQE off (parity_gate.sh)
#   3. the daemon tests and full-registry parity at sf0.001 on real
#      executor processes (local-cluster[2,4,2048]): the daemon tests
#      check that the executors registered and that their Python
#      workers run under graft_daemon and import the shipped zip
#   4. oracle parity under forced spill at a 2g heap (spill_smoke.py)
#   5. the benchmark's own tests (perfbench)
set -uo pipefail
cd "$(dirname "$0")/.."

fail=0

# whether this run's JVMs map the class-data-sharing archive or the first
# one dumps it (its set-up then runs about 3 s slower)
python -c 'from toy_map_reduce_spark.session import cds_status; print(cds_status())'

echo "== handoff gate 1/5: default pytest tier =="
python -m pytest tests/ -q || fail=1

echo "== handoff gate 1b/5: sweep tier (parity, degenerate, skewed, layout invariance, oracle stability) =="
python -m pytest tests/ -q -m sweep || fail=1

echo "== handoff gate 2/5: parity sweep (sf0.01, sf0.1, forced SMJ, AQE off) =="
./scripts/parity_gate.sh || fail=1

echo "== handoff gate 3/5: local-cluster execution parity (real executor processes) =="
SPARK_GRAFT_MASTER="local-cluster[2,4,2048]" SPARK_GRAFT_DRIVER_MEM=4g \
  python -m pytest tests/test_daemon.py tests/test_parity_all.py -q -m "sweep or not sweep" || fail=1

echo "== handoff gate 4/5: memory-pressure spill smoke =="
python scripts/spill_smoke.py SPILL.json || fail=1

echo "== handoff gate 5/5: perfbench tests =="
python3 -m pytest perfbench -q || fail=1

if [[ $fail -eq 0 ]]; then
  echo "HANDOFF GATE: GREEN"
else
  echo "HANDOFF GATE: RED"
fi
exit $fail
