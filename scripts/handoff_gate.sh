#!/usr/bin/env bash
# THE pre-commit/pre-handoff gate — round 4 shipped a red test because the
# last commit ran only sf0.01 parity; this script is the process fix
# (VERDICT r4 item 2). It runs, in order:
#
#   1. the default pytest tier at the fixture scale (sf0.001)
#  1b. the sweep pytest tier (`-m sweep`: full-registry parity,
#      degenerate and skewed sweeps)
#   2. the all-query oracle parity sweep at sf0.001 + sf0.01 + sf0.1
#      (sf0.1 since r9 — the first bench-scale sweep caught five value
#      drifts both smaller SFs were green on), plus the two perturbed
#      sf0.01 sweeps (forced SMJ, AQE off — r10)
#   3. the registry-wide order-independence sweep at sf0.001 (r10 —
#      every oracle-backed query layout-perturbation-invariant)
#   4. the oracle-stability sweep (r11 — 30x repeats on the edge
#      degenerate dir + NULL-sort-key lint; DuckDB 1.0 evaluates sorts
#      with NULL keys nondeterministically, so a one-run-green oracle
#      is not evidence)
#   5. the local-cluster execution parity sweep (r11 smoke; FULL
#      414-query registry since r12 — serialization is per-query, and
#      the pickled surfaces that actually broke (in-UDF deferred package
#      imports, embedded-Derby dual-boot) all lived outside the old
#      50-key window; real executor processes, local-cluster[2,4,2048])
#   6. the memory-pressure spill smoke (r11 — heavy tail at 2g heap /
#      memory.fraction 0.2, parity under observed multi-GB spill)
#   7. the benchmark's own tests (perfbench: percentile and round rules,
#      seeded inputs, oracle checks, the BENCHMARK.json contract)
#
# Exit non-zero if anything is red. Cite the one-line result in the round's
# closing commit message.
set -uo pipefail
cd "$(dirname "$0")/.."

fail=0

# whether this run's JVMs map the class-data-sharing archive or the first
# one dumps it (its set-up then runs about 3 s slower)
python -c 'from toy_map_reduce_spark.session import cds_status; print(cds_status())'

echo "== handoff gate 1/7: default pytest (driver-window tier) =="
python -m pytest tests/ -q || fail=1

echo "== handoff gate 1b/7: sweep-tier pytest (full-registry parity/degenerate/skewed sweeps) =="
# the sweep tier is deselected from the default run (pytest.ini, r14:
# the driver's verify window truncated the 42-min full suite at 83%) but
# every handoff still runs it here in full
python -m pytest tests/ -q -m sweep || fail=1

echo "== handoff gate 2/7: parity sweep (3 SFs + perturbed-plan sf0.01) =="
./scripts/parity_gate.sh || fail=1

echo "== handoff gate 3/7: order-independence sweep (sf0.001) =="
python scripts/determinism_report.py DETERMINISM.json || fail=1

echo "== handoff gate 4/7: oracle-stability sweep (30x edge+one+empty + lint) =="
# all three degenerate dirs since r13 (r12 covered only edge; the r12
# verdict asked for the full rotation back — ~12 min per dir)
python scripts/oracle_stability.py --dirs edge one empty --repeats 30 --out ORACLE_STABILITY.json || fail=1

echo "== handoff gate 5/7: local-cluster execution parity (FULL registry, real executor processes) =="
python scripts/localcluster_smoke.py --full LOCALCLUSTER.json || fail=1

echo "== handoff gate 6/7: memory-pressure spill smoke =="
python scripts/spill_smoke.py SPILL.json || fail=1

echo "== handoff gate 7/7: perfbench tests =="
python3 -m pytest perfbench -q || fail=1

if [[ $fail -eq 0 ]]; then
  echo "HANDOFF GATE: GREEN"
else
  echo "HANDOFF GATE: RED"
fi
exit $fail
