#!/usr/bin/env python
"""One-pass timing of every bench-eligible registered query.

Runs each ``s.bench`` spec once over the tables in $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data), materializing it through the ``noop`` sink
so results never leave the executors, and prints ONE short JSON line on
stdout:

    {"metric": "total_query_wall_time", "value": N, "unit": "sec",
     "queries": {10 slowest}, "sf": ...}

A failed query is reported as -1 and left out of the total. This is a quick
smoke-level figure; the repo's benchmark is ``perfbench/run.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import all_specs
from toy_map_reduce_spark.session import get_spark


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("tmr-bench")
    timings: dict[str, float] = {}
    for name, spec in all_specs().items():
        if not spec.bench:
            continue
        t0 = time.perf_counter()
        try:
            with scratch.scope():
                spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
                timings[name] = round(time.perf_counter() - t0, 4)
        except Exception as exc:  # a broken query shouldn't zero the run
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            timings[name] = -1.0

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(json.dumps({
        "metric": "total_query_wall_time",
        "value": round(sum(t for t in timings.values() if t >= 0), 4),
        "unit": "sec",
        "queries": slowest,
        "sf": sf_val,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
