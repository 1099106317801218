from __future__ import annotations

import os

import pytest

from tests.parity import oracle_db
from toy_map_reduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Plan-perturbation knob: comma-separated k=v session
# confs applied to the test session, e.g.
#   SPARK_GRAFT_TEST_CONF="spark.sql.autoBroadcastJoinThreshold=-1"
# lets scripts/parity_gate.sh re-run the full parity sweep under a forced
# SortMergeJoin regime / with AQE disabled — answers must not depend on
# join strategy or runtime re-planning.
TEST_CONF = os.environ.get("SPARK_GRAFT_TEST_CONF", "")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tmr-tests", cores=4, shuffle_partitions=4)
    for kv in TEST_CONF.split(","):
        if kv.strip():
            k, v = kv.split("=", 1)
            s.conf.set(k.strip(), v.strip())
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    with oracle_db(sf_dir) as con:
        yield con
