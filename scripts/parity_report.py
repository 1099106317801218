#!/usr/bin/env python
"""Machine-readable all-query parity artifact (PARITY_r{N}.json).

The external driver's CORRECTNESS_r{N}.json is alphabetically capped at 50
keys, so 300+ registered queries never appear in it. This script is the
compensating control: it runs EVERY registered query against its DuckDB
oracle with the same comparison shape (row count, column names,
order-insensitive canonical value multiset) at EACH requested scale factor
(round 4 proved one SF is not enough: a query can be green at sf0.01 and
crash at sf0.001), and writes per SF one JSON object per query:

    {"rows_match": bool, "schema_match": bool, "hash_match": bool,
     "spark_rows": int, "oracle_rows": int | null, "err": null | "no_oracle" | str}

Usage:
    python scripts/parity_report.py PARITY_r5.json    # sf0.001 + sf0.01
    SF=/root/testdata/sf0.1 python scripts/parity_report.py out.json
    SF=/root/testdata/sf0.001,/root/testdata/sf0.01 python scripts/parity_report.py out.json

Plan-perturbation sweeps (r9 verdict task 2) — re-run parity under a
perturbed PHYSICAL configuration so a correctness dependence on join
strategy or AQE re-planning can't hide behind the default-config green:

    SF=/root/testdata/sf0.01 python scripts/parity_report.py --merge \\
        --label smj --conf spark.sql.autoBroadcastJoinThreshold=-1 PARITY_r10.json
    SF=/root/testdata/sf0.01 python scripts/parity_report.py --merge \\
        --label noaqe --conf spark.sql.adaptive.enabled=false PARITY_r10.json

``--conf k=v`` (repeatable) sets runtime-settable session confs for the
sweep; ``--label X`` names the artifact section ``{sf}@X``; ``--merge``
appends sections to an existing artifact instead of overwriting it.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))

DEFAULT_SFS = "/root/testdata/sf0.001,/root/testdata/sf0.01"


def run_sweep(spark, sf_dir: str) -> tuple[dict, dict]:
    import duckdb

    from parity import canonical_rows, fetch_oracle
    from toy_map_reduce_spark import scratch
    from toy_map_reduce_spark.registry import all_specs
    from toy_map_reduce_spark.tables import TABLES, table_path

    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )

    report: dict[str, dict] = {}
    n_pass = n_rows_only = n_fail = 0
    for name, spec in sorted(all_specs().items()):
        rec: dict = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            with scratch.scope():
                sdf = spec.builder(spark, sf_dir).toPandas()
            rec["spark_rows"] = int(len(sdf))
            if spec.oracle is None:
                rec["err"] = "no_oracle"
                n_rows_only += 1
            else:
                odf = fetch_oracle(duck, spec.oracle)
                rec["oracle_rows"] = int(len(odf))
                rec["rows_match"] = len(sdf) == len(odf)
                rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
                srows = canonical_rows(sdf) if rec["rows_match"] else None
                orows = canonical_rows(odf) if rec["rows_match"] else None
                rec["hash_match"] = (
                    rec["rows_match"]
                    and rec["schema_match"]
                    and srows == orows
                )
                if rec["hash_match"]:
                    n_pass += 1
                else:
                    n_fail += 1
                    # capture the diverging values IN the artifact: a
                    # transient mismatch (seen once: timeseries_holt on
                    # the edge dir, unreproducible in isolation) is
                    # undiagnosable from a bare hash_match=false — the
                    # actual row text is what a post-mortem needs.
                    # Set differences, not positional zip (r10 advisor):
                    # one inserted row would misalign every later pair
                    # and bury the real divergence under spurious diffs.
                    if srows is not None and srows != orows:
                        from collections import Counter

                        sc, oc = Counter(srows), Counter(orows)
                        rec["diff_sample"] = {
                            "spark_only": [list(r) for r in sorted((sc - oc).elements())][:5],
                            "oracle_only": [list(r) for r in sorted((oc - sc).elements())][:5],
                        }
        except Exception as exc:  # noqa: BLE001 — record, don't abort the sweep
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
            n_fail += 1
        report[name] = rec
    duck.close()

    summary = {
        "sf_dir": sf_dir,
        "total": len(report),
        "oracle_pass": n_pass,
        "rows_only": n_rows_only,
        "fail": n_fail,
    }
    return summary, report


def main() -> int:
    args = sys.argv[1:]
    label, confs, merge, pos = None, {}, False, []
    i = 0
    while i < len(args):
        if args[i] == "--label":
            label = args[i + 1]
            i += 2
        elif args[i] == "--conf":
            k, v = args[i + 1].split("=", 1)
            confs[k] = v
            i += 2
        elif args[i] == "--merge":
            merge = True
            i += 1
        else:
            pos.append(args[i])
            i += 1
    out_path = pos[0] if pos else "PARITY.json"
    sf_dirs = os.environ.get("SF", DEFAULT_SFS).split(",")

    from toy_map_reduce_spark.session import get_spark

    spark = get_spark("parity-report", cores=8)
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)

    out: dict = {"_summary": []}
    if merge and os.path.exists(out_path):
        with open(out_path) as f:
            out = json.load(f)
        out.setdefault("_summary", [])
    any_fail = False
    try:
        for sf_dir in sf_dirs:
            summary, report = run_sweep(spark, sf_dir)
            if label:
                summary["label"] = label
                summary["conf"] = confs
            out["_summary"].append(summary)
            section = os.path.basename(sf_dir.rstrip("/")) + (f"@{label}" if label else "")
            out[section] = report
            any_fail = any_fail or summary["fail"] > 0
            print(json.dumps(summary))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=False)
    return 1 if any_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
