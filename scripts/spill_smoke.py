#!/usr/bin/env python
"""Memory-pressure spill smoke.

A default-sized heap (half the host's RAM) hides spill bugs: at the
fixture scales nothing ever spills, so external-sort/agg spill paths,
spill-file cleanup, and result correctness UNDER spill go unexercised.
This smoke starves the engine on purpose:

    driver memory 2g (local mode: the one heap everything shares)
    spark.memory.fraction 0.2  (execution+storage ≈ 350 MB total)
    spark.sql.shuffle.partitions 8 (bigger per-task working sets)

then runs

    * the heavy-tail queries (HEAVY_TAIL below),
    * the big-sort shuffle families (SHUFFLE_FAMILIES below) —
      window_median, window_gaps_islands, sort_limit_offset,
      graph_pagerank, stream_chained_windows (streaming state store
      under a starved heap),
    * the first WINDOW registry keys alphabetically,

over the amplified corpus, checking each through ``tests/parity.py``'s
``run_parity`` — (a) completion, (b) oracle parity: answers must be
IDENTICAL under memory pressure, the whole point of a spillable
operator, (c) nothing left behind by the query's scope — and (d) that
pressure actually happened: the REST API's per-stage memory/disk spill
counters must be nonzero across the run, otherwise the smoke silently
proved nothing. It is a script, not a test, because it needs a session
of its own: a 2g heap and a static ``spark.memory.fraction``.

Usage:
    python scripts/spill_smoke.py SPILL.json
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

# sf0.1 alone never spills a 350 MB pool (first attempt measured 0 bytes
# spilled — a smoke that proves nothing); the 16x-amplified skewed bench
# corpus (9.6M-row lineitem, 1.6M events, 80k documents) is the smallest
# committed-generator dataset that actually exceeds execution memory.
SF_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data", "skewed_bench",
)


# The ten slowest non-streaming queries in an earlier sf0.1 per-query
# timing of the whole registry.
HEAVY_TAIL = [
    "agg_weighted",
    "tokenize_bpe_apply",
    "dedup_near_verified",
    "dedup_simhash",
    "graph_bfs_levels",
    "sql_recursive_cte",
    "dedup_near",
    "agg_trimmed_mean",
    "agg_percentile",
    "dedup_ngram_jaccard",
]

# sort-based-shuffle families: per-key window sorts, a global order-by,
# an iterative join loop, and a stateful stream
SHUFFLE_FAMILIES = [
    "window_median",
    "window_gaps_islands",
    "sort_limit_offset",
    "graph_pagerank",
    "stream_chained_windows",
]

WINDOW = 50


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "SPILL.json"

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"

    from make_skewed import ensure_skewed_bench

    from tests.parity import oracle_db, run_parity
    from toy_map_reduce_spark.registry import all_specs
    from toy_map_reduce_spark.session import get_spark

    ensure_skewed_bench()
    specs = all_specs()
    names = list(dict.fromkeys(HEAVY_TAIL + SHUFFLE_FAMILIES + sorted(specs)[:WINDOW]))
    # 8 cores, not local[32]: a 2g heap at 32 concurrent tasks is
    # 64 MB/task — no production executor runs that ratio, and the
    # unmanaged per-task allocations (spill-merge read-ahead buffers,
    # codegen) OOM the JVM before the managed memory ever spills.
    # 8 cores / 2g mirrors a genuinely starved but production-shaped
    # executor; the point of the smoke is parity UNDER spill, not death
    # by thread count.
    spark = get_spark(
        "tmr-spill-smoke",
        cores=8,
        shuffle_partitions=8,
        extra_conf={
            "spark.memory.fraction": "0.2",
            "spark.ui.enabled": "true",
            "spark.ui.port": "4081",
        },
    )
    api = (
        f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
        f"{spark.sparkContext.applicationId}"
    )

    report: dict[str, dict] = {}
    with oracle_db(SF_DIR) as duck:
        for name in names:
            print(f"spill_smoke: {name} ...", file=sys.stderr, flush=True)
            t0 = time.time()
            rec: dict = {"pass": False, "err": None}
            try:
                run_parity(spark, duck, specs[name], SF_DIR)
                rec["pass"] = True
            except Exception as exc:  # noqa: BLE001 — record, don't abort
                rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
            rec["sec"] = round(time.time() - t0, 1)
            report[name] = rec
    n_fail = sum(not r["pass"] for r in report.values())

    # did anything actually spill? (sum over all completed stages) —
    # fetched defensively: if the starved JVM died mid-run, the parity
    # records above are still worth writing out
    mem_spill = disk_spill = 0
    try:
        with urllib.request.urlopen(f"{api}/stages?status=COMPLETE") as r:
            stages = json.loads(r.read())
        mem_spill = sum(s.get("memoryBytesSpilled", 0) for s in stages)
        disk_spill = sum(s.get("diskBytesSpilled", 0) for s in stages)
    except Exception as exc:  # noqa: BLE001
        print(f"spill_smoke: REST fetch failed: {exc}", file=sys.stderr)

    summary = {
        "sf_dir": SF_DIR,
        "driver_mem": "2g",
        "memory_fraction": 0.2,
        "queries": names,
        "pass": len(report) - n_fail,
        "rows_only": sum(specs[n].oracle is None for n in names),
        "fail": n_fail,
        "memory_bytes_spilled": mem_spill,
        "disk_bytes_spilled": disk_spill,
        "pressure_observed": bool(mem_spill or disk_spill),
    }
    with open(out_path, "w") as fh:
        json.dump({"_summary": summary, "queries": report}, fh, indent=1, sort_keys=True)
    print(json.dumps(summary))
    return 1 if (n_fail or not summary["pressure_observed"]) else 0


if __name__ == "__main__":
    raise SystemExit(main())
