"""Spark ↔ DuckDB parity comparison, modeled on the driver's t2 check:
row-count + column names + order-insensitive value comparison.

Canonicalization: sort columns by name, stringify every cell (floats via
round-trip repr after rounding to 9 significant-ish decimals, timestamps
via ISO format, NULL sentinel), sort the row tuples, compare. Queries are
expected to round aggregated doubles *inside the query on both sides*
(SURVEY.md §7.4), so float fuzz here is a backstop, not the mechanism.
"""

from __future__ import annotations

import decimal
import math
from datetime import date, datetime

import pandas as pd


def fetch_oracle(duck, sql: str) -> pd.DataFrame:
    """Run oracle SQL and fetch WITHOUT pandas' int64->float64 NULL
    coercion: a BIGINT column containing one NULL silently becomes
    float64 under plain .df(), destroying 54+-bit integers (observed on
    the 60-bit surrogate-key ints under degenerate NULL rows). The arrow
    path keeps integer columns exact as object arrays of int/None."""
    return duck.sql(sql).arrow().to_pandas(integer_object_nulls=True)


def _cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, decimal.Decimal):
        # arrow fetch surfaces DuckDB DECIMAL as Decimal objects where
        # .df() converted to float64 — keep the historical float canon
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"
        # integral floats render as ints: pandas silently converts an
        # int64 column to float64 when it contains a NULL, so the same
        # BIGINT column reads back as 85 from one engine and 85.0 from
        # the other on degenerate (NULL-bearing) inputs. -0.0 is kept
        # distinct from 0 — negative-zero drift is a real failure class
        # (r9) that queries canonicalize with + 0.0, not the comparator.
        r = round(v, 9)  # 9 decimals absorbs sub-ulp cross-engine noise
        if r == int(r) and not (r == 0 and math.copysign(1, r) < 0):
            return str(int(r))
        return repr(r)
    if isinstance(v, (pd.Timestamp, datetime)):
        ts = pd.Timestamp(v)
        if ts is pd.NaT:
            # NULL dates render as NaT when the column is datetime64
            # (DuckDB DATE, any timestamp) but as None when it is object
            # (Spark DATE) — same NULL, one sentinel
            return "<NULL>"
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, date):
        # normalize DATE to midnight-timestamp form: pandas renders DuckDB
        # DATE columns as datetime64 while Spark yields datetime.date
        return v.isoformat() + "T00:00:00"
    if isinstance(v, (list, tuple)) or v.__class__.__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    out = [tuple(_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    out.sort()
    return out


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "?") -> None:
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count mismatch spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    )
    srows = canonical_rows(spark_pdf)
    orows = canonical_rows(oracle_pdf)
    if srows != orows:
        diffs = [(s, o) for s, o in zip(srows, orows) if s != o][:5]
        raise AssertionError(
            f"{name}: value mismatch; first diffs (spark, oracle): {diffs}"
        )


def run_parity(spark, duck, spec, sf_dir: str) -> None:
    """Build and materialize ``spec`` inside one query scope, check that
    the scope left nothing behind (no cached relation, temp view, catalog
    table, active stream or scope directory beyond what was there before
    it, counting only what no other open scope holds), then compare with
    the oracle."""
    from toy_map_reduce_spark import scratch

    before = scratch.unheld(spark)
    with scratch.scope():
        sdf = spec.builder(spark, sf_dir).toPandas()
    after = scratch.unheld(spark)
    left = {k: after[k] - before[k] for k in after if after[k] > before[k]}
    assert not left, f"{spec.name}: left behind its scope: {left}"
    if spec.oracle is None:
        assert len(sdf) >= 0  # rows-only: builder ran and produced a frame
        return
    odf = fetch_oracle(duck, spec.oracle)
    assert_frames_match(sdf, odf, name=spec.name)
