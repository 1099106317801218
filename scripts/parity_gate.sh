#!/usr/bin/env bash
# Pre-handoff oracle-parity gate: every registered query vs its DuckDB twin
# at THREE scale factors — the pytest fixture scale (sf0.001), the driver's
# scale (sf0.01), and since r9 the bench scale (sf0.1). Round 4 proved one
# SF is not enough (agg_trimmed_mean green at sf0.01, crashing at sf0.001);
# round 9 proved two are not either: the first sf0.1 sweep caught FIVE
# value drifts (double-sum accumulation past round()'s halfway margin,
# -0.0, per-row half-boundary, window-stddev algorithm drift) that both
# smaller SFs had been green on. A green run here is the de-facto
# correctness gate for the queries beyond the driver's 50-key cap.
#
#   ./scripts/parity_gate.sh                 # all three SFs (~25 min)
#   SF=/root/testdata/sf0.1 ./scripts/parity_gate.sh   # one explicit SF
#
# r10: the default run also repeats the sf0.01 sweep under two PERTURBED
# physical configs (r9 verdict task 2) — broadcast joins disabled (forces
# SortMergeJoin everywhere a hint doesn't override) and AQE disabled (no
# runtime re-plan/skew-split/coalesce). Answers must be join-strategy- and
# re-plan-invariant; this is the only gate that can catch a broadcast-vs-
# SMJ semantic dependence before a cluster does.
set -euo pipefail
cd "$(dirname "$0")/.."
if [[ -n "${SF:-}" ]]; then
  echo "parity gate @ ${SF}"
  SPARK_GRAFT_TEST_SF_DIR="${SF}" python -m pytest tests/test_parity_all.py -q -m sweep
else
  for sf in /root/testdata/sf0.001 /root/testdata/sf0.01 /root/testdata/sf0.1; do
    echo "parity gate @ ${sf}"
    SPARK_GRAFT_TEST_SF_DIR="${sf}" python -m pytest tests/test_parity_all.py -q -m sweep
  done
  echo "parity gate @ sf0.01 [forced SMJ: autoBroadcastJoinThreshold=-1]"
  SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 \
    SPARK_GRAFT_TEST_CONF="spark.sql.autoBroadcastJoinThreshold=-1" \
    python -m pytest tests/test_parity_all.py -q -m sweep
  echo "parity gate @ sf0.01 [AQE off]"
  SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 \
    SPARK_GRAFT_TEST_CONF="spark.sql.adaptive.enabled=false" \
    python -m pytest tests/test_parity_all.py -q -m sweep
fi
