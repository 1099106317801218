#!/usr/bin/env bash
# Oracle parity for every registered query beyond the fixture scale: at
# sf0.01 and at the bench scale, sf0.1, then at sf0.01 under two
# perturbed physical configs — broadcast joins off (sort-merge
# join wherever no hint overrides it) and AQE off (no runtime re-plan,
# skew split or coalesce). Answers must not depend on scale, join
# strategy or re-planning. The sweep tier (`pytest -m sweep`) covers the
# fixture scale, sf0.001.
#
#   ./scripts/parity_gate.sh                           # all four passes
#   SF=/root/testdata/sf0.1 ./scripts/parity_gate.sh   # one explicit SF
set -euo pipefail
cd "$(dirname "$0")/.."
if [[ -n "${SF:-}" ]]; then
  echo "parity gate @ ${SF}"
  SPARK_GRAFT_TEST_SF_DIR="${SF}" python -m pytest tests/test_parity_all.py -q -m sweep
else
  for sf in /root/testdata/sf0.01 /root/testdata/sf0.1; do
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
