#!/usr/bin/env python
"""Memory-pressure spill smoke (r10 verdict task 6).

A default-sized heap (half the host's RAM) hides spill bugs: at the
fixture scales nothing ever spills, so external-sort/agg spill paths,
spill-file cleanup, and result correctness UNDER spill were exercised
zero times before r11.
This smoke starves the engine on purpose:

    driver memory 2g (local mode: the one heap everything shares)
    spark.memory.fraction 0.2  (execution+storage ≈ 350 MB total)
    spark.sql.shuffle.partitions 8 (bigger per-task working sets)

then runs a widened selection (r11 verdict task 3 — the r11 smoke
covered 10 dedup/percentile-heavy queries; the sort-based-shuffle
families had never executed under pressure):

    * the heavy-tail queries (HEAVY_TAIL below),
    * the big-sort shuffle families the first smoke missed —
      window_median, window_gaps_islands, sort_limit_offset,
      graph_pagerank, stream_chained_windows (streaming state store
      under a starved heap),
    * the external driver's full 50-key CORRECTNESS window (first 50
      registry keys alphabetically — the same selection rule),

over the amplified corpus, asserting (a) completion, (b) oracle parity —
answers must be IDENTICAL under memory pressure, the whole point of a
spillable operator — and (c) that pressure actually happened: the REST
API's per-stage memory/disk spill counters must be nonzero across the
run, otherwise the smoke silently proved nothing.

Usage:
    python scripts/spill_smoke.py SPILL.json
    WINDOW=50 python scripts/spill_smoke.py out.json
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tests"))

# sf0.1 alone never spills a 350 MB pool (first attempt measured 0 bytes
# spilled — a smoke that proves nothing); the 16x-amplified skewed bench
# corpus (9.6M-row lineitem, 1.6M events, 80k documents) is the smallest
# committed-generator dataset that actually exceeds execution memory.
SF_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data", "skewed_bench",
)


# The ten slowest non-streaming queries in round 9's sf0.1 per-query
# timings (BENCH_DETAIL_r9.json, since removed; git history keeps it).
# The gate used to re-derive this list from that file on every run.
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

# sort-based-shuffle families added in r12: per-key window sorts, a
# global order-by, an iterative join loop, and a stateful stream
SHUFFLE_FAMILIES = [
    "window_median",
    "window_gaps_islands",
    "sort_limit_offset",
    "graph_pagerank",
    "stream_chained_windows",
]


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "SPILL.json"
    window = int(os.environ.get("WINDOW", "50"))

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"

    import duckdb

    from parity import canonical_rows, fetch_oracle
    from toy_map_reduce_spark import scratch
    from toy_map_reduce_spark.registry import all_specs
    from toy_map_reduce_spark.session import get_spark
    from toy_map_reduce_spark.tables import TABLES, table_path

    from make_skewed import ensure_skewed_bench

    ensure_skewed_bench()
    from toy_map_reduce_spark.registry import all_specs as _specs_fn

    driver_window = sorted(_specs_fn())[:window]
    names = list(dict.fromkeys(
        HEAVY_TAIL + SHUFFLE_FAMILIES + driver_window
    ))
    # 8 cores, not local[32]: a 2g heap at 32 concurrent tasks is
    # 64 MB/task — no production executor runs that ratio, and the
    # unmanaged per-task allocations (spill-merge read-ahead buffers,
    # codegen) OOM the JVM before the managed memory ever spills.
    # 8 cores / 2g mirrors a genuinely starved but production-shaped
    # executor (the r12 widened run OOMed at 32 threads; the point of
    # the smoke is parity UNDER spill, not death by thread count).
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

    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )

    specs = all_specs()
    report: dict[str, dict] = {}
    n_pass = n_rows_only = n_fail = 0
    import time as _time

    for name in names:
        print(f"spill_smoke: {name} ...", file=sys.stderr, flush=True)
        _t0 = _time.time()
        spec = specs[name]
        rec: dict = {"hash_match": None, "err": None}
        try:
            with scratch.scope():
                sdf = spec.builder(spark, SF_DIR).toPandas()
            rec["spark_rows"] = int(len(sdf))
            if spec.oracle is None:
                rec["err"] = "no_oracle"
                n_rows_only += 1
            else:
                odf = fetch_oracle(duck, spec.oracle)
                rec["hash_match"] = (
                    sorted(sdf.columns) == sorted(odf.columns)
                    and canonical_rows(sdf) == canonical_rows(odf)
                )
                if rec["hash_match"]:
                    n_pass += 1
                else:
                    n_fail += 1
        except Exception as exc:  # noqa: BLE001 — record, don't abort
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
            n_fail += 1
        rec["sec"] = round(_time.time() - _t0, 1)
        report[name] = rec
    duck.close()

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
        "oracle_pass": n_pass,
        "rows_only": n_rows_only,
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
