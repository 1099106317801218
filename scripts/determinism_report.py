#!/usr/bin/env python
"""Registry-wide order-independence artifact (DETERMINISM_r{N}.json) —
r9 verdict task 1, generalizing tests/test_determinism.py from 39
representatives to every oracle-backed query.

A 1000-executor cluster accumulates partial aggregates in a
nondeterministic order; a query whose answer depends on that order is
wrong at scale even when single-run oracle parity is green (the r9
sf0.1 drift class). This script runs EVERY oracle-backed query twice —
under a coarse layout (128 MB scan splits, 4 shuffle partitions) and a
fine one (128 KB splits, 17 shuffle partitions), the two knobs that
change accumulation order in local mode — and asserts canonically
identical results. The rows-only queries (15 since the r10 oracle
promotions) are excluded by the same rule the pytest suite documents:
their semantics are legitimately layout-dependent (approximate
sketches) or they return run-stamped/engine-introspection artifacts,
and each is behavior-pinned in pytest instead.

Usage:
    python scripts/determinism_report.py DETERMINISM_r10.json
    SF=/root/testdata/sf0.01 python scripts/determinism_report.py out.json
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))

LAYOUTS = (
    {"spark.sql.files.maxPartitionBytes": "128m", "spark.sql.shuffle.partitions": "4"},
    {"spark.sql.files.maxPartitionBytes": "131072", "spark.sql.shuffle.partitions": "17"},
)


def rows_under(spark, spec, sf_dir: str, overrides: dict):
    from parity import canonical_rows
    from toy_map_reduce_spark import scratch

    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        with scratch.scope():
            return canonical_rows(spec.builder(spark, sf_dir).toPandas())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "DETERMINISM.json"
    sf_dir = os.environ.get("SF", "/root/testdata/sf0.001")

    from toy_map_reduce_spark.registry import all_specs
    from toy_map_reduce_spark.session import get_spark

    spark = get_spark("determinism-report", cores=8)
    report: dict[str, dict] = {}
    n_pass = n_fail = n_excluded = 0
    for name, spec in sorted(all_specs().items()):
        if spec.oracle is None:
            n_excluded += 1
            report[name] = {"invariant": None, "err": "rows_only_excluded"}
            continue
        rec: dict = {"invariant": None, "rows": None, "err": None}
        try:
            coarse = rows_under(spark, spec, sf_dir, LAYOUTS[0])
            fine = rows_under(spark, spec, sf_dir, LAYOUTS[1])
            rec["rows"] = len(coarse)
            rec["invariant"] = coarse == fine
            if rec["invariant"]:
                n_pass += 1
            else:
                n_fail += 1
                diffs = [
                    (c, f) for c, f in zip(coarse, fine) if c != f
                ][:3]
                rec["err"] = f"layout-dependent result; first diffs: {diffs}"[:400]
        except Exception as exc:  # noqa: BLE001 — record, don't abort the sweep
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
            n_fail += 1
        report[name] = rec

    out = {
        "_summary": {
            "sf_dir": sf_dir,
            "total": len(report),
            "invariant": n_pass,
            "fail": n_fail,
            "rows_only_excluded": n_excluded,
            "layouts": LAYOUTS,
        },
        "queries": report,
    }
    print(json.dumps(out["_summary"]))
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
