#!/usr/bin/env python
"""local-cluster execution smoke (r10 verdict task 5).

local[32] is ONE JVM: driver and every "executor" share a heap, so
executor-side serialization bugs (closure capture, kryo/java-serialized
task binaries, broadcast transport, python-worker env on a remote
executor) can hide forever. ``local-cluster[2,4,2048]`` launches real
worker PROCESSES — separate JVMs, real RPC, real serialization boundary
— the closest single-box stand-in for a multi-executor cluster.

Default mode runs the external driver's 50-key CORRECTNESS window (the
first 50 registry keys alphabetically — identical selection rule) at
sf0.001 under local-cluster, comparing each oracle-backed query against
DuckDB with the standard canonical comparison, and writes a
CORRECTNESS-shaped artifact. ``--full`` (r11 verdict task 1) widens the
sweep to the ENTIRE registry: serialization bugs are per-query (Python
DataSource pickling, UDTF classes, applyInPandasWithState closures all
live outside the a–j window), so only a full sweep proves every query
crosses a real process boundary.

Usage:
    python scripts/localcluster_smoke.py LOCALCLUSTER_r11.json
    python scripts/localcluster_smoke.py --full LOCALCLUSTER_r12.json
    python scripts/localcluster_smoke.py --full --sf /root/testdata/sf0.01 OUT.json
        (r12 verdict task 4: one decade up — real data VOLUME through the
        serialization boundary, not just every query shape)

NOTE: must run in a FRESH process (the first SparkSession in a process
wins its master); the script sets SPARK_GRAFT_MASTER itself and refuses
to run if a session already exists.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tests"))

WINDOW = 50
SF_DIR = "/root/testdata/sf0.001"
MASTER = "local-cluster[2,4,2048]"


def main() -> int:
    global SF_DIR
    argv = sys.argv[1:]
    if "--sf" in argv:
        i = argv.index("--sf")
        SF_DIR = argv[i + 1]
        del argv[i : i + 2]
    args = [a for a in argv if not a.startswith("--")]
    full = "--full" in argv
    out_path = args[0] if args else "LOCALCLUSTER.json"

    os.environ["SPARK_GRAFT_MASTER"] = MASTER
    # the default heap (half the host RAM) is sized for local mode, where it
    # also holds every executor thread; here the driver does no heavy lifting
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

    import duckdb

    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is not None:
        print("refusing: a SparkSession already exists in this process")
        return 2

    from parity import canonical_rows, fetch_oracle
    from toy_map_reduce_spark.registry import all_specs
    from toy_map_reduce_spark.session import get_spark
    from toy_map_reduce_spark.tables import TABLES, table_path

    spark = get_spark("tmr-localcluster", shuffle_partitions=8)

    # Prove tasks run on real executor processes, not a driver fallback:
    # run a 16-task job first (forces executor registration + task
    # placement), then count registered block managers — local[N] reports
    # 1 (the driver); local-cluster must report 3 (driver + 2 executors).
    # Each task also reports where its Python worker came from: every
    # Python query below needs workers started by graft_daemon that import
    # the engine from the shipped package zip, and this names that failure
    # once instead of as hundreds of query failures.
    def worker_origin(_):
        import sys

        import toy_map_reduce_spark

        yield sys.modules["__main__"].__file__, toy_map_reduce_spark.__file__

    try:
        origins = spark.sparkContext.parallelize(range(16), 16).mapPartitions(worker_origin).collect()
    except Exception as exc:  # noqa: BLE001 — report it in one line
        # a missing daemon or package surfaces as "No module named ..." deep
        # inside the Java stack trace
        lines = [ln.strip() for ln in str(exc).splitlines() if ln.strip()]
        reason = next((ln for ln in lines if "No module named" in ln), lines[0])
        print(f"refusing: executor Python probe failed: {reason[:300]}")
        return 2
    n_exec = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
    # The whole point of this gate is the real process boundary: if the
    # session silently fell back to single-process execution (env var
    # lost, master override broken), every parity result below exercises
    # nothing the gate exists for — fail RED, don't report green
    # (r11 advisor, scripts/localcluster_smoke.py:125).
    if n_exec < 3:
        print(
            f"refusing: expected >=3 block managers (driver + 2 executors), "
            f"saw {n_exec} — tasks are NOT running on real executor processes"
        )
        return 2
    for main_file, pkg_file in origins:
        if not main_file.endswith("graft_daemon.py") or "/pkg_" not in pkg_file:
            print(
                f"refusing: executor Python worker runs {main_file} and imports "
                f"the engine from {pkg_file}, not graft_daemon and the shipped pkg_*.zip"
            )
            return 2

    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )

    specs = all_specs()
    window = sorted(specs) if full else sorted(specs)[:WINDOW]
    report: dict[str, dict] = {}
    n_pass = n_rows_only = n_fail = 0
    from toy_map_reduce_spark import scratch

    for name in window:
        spec = specs[name]
        rec: dict = {"rows_match": None, "schema_match": None, "hash_match": None,
                     "spark_rows": None, "oracle_rows": None, "err": None}
        try:
            with scratch.scope():
                sdf = spec.builder(spark, SF_DIR).toPandas()
            rec["spark_rows"] = int(len(sdf))
            if spec.oracle is None:
                rec["err"] = "no_oracle"
                n_rows_only += 1
            else:
                odf = fetch_oracle(duck, spec.oracle)
                rec["oracle_rows"] = int(len(odf))
                rec["rows_match"] = len(sdf) == len(odf)
                rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
                rec["hash_match"] = (
                    rec["rows_match"]
                    and rec["schema_match"]
                    and canonical_rows(sdf) == canonical_rows(odf)
                )
                if rec["hash_match"]:
                    n_pass += 1
                else:
                    n_fail += 1
        except Exception as exc:  # noqa: BLE001 — record, don't abort
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
            n_fail += 1
        report[name] = rec

    duck.close()
    summary = {
        "master": MASTER,
        "n_executors_seen": n_exec,
        "sf_dir": SF_DIR,
        "window": len(window),
        "full_registry": full,
        "oracle_pass": n_pass,
        "rows_only": n_rows_only,
        "fail": n_fail,
    }
    with open(out_path, "w") as fh:
        json.dump({"_summary": summary, "queries": report}, fh, indent=1, sort_keys=True)
    print(json.dumps(summary))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
