"""Local mimic of the driver's correctness gate.

Runs every query in ``__spark_entry__.queries()`` at a given sf and
compares row count, column names, and order-insensitive values against
``oracle_sql()`` in DuckDB. Usage:

    python tools/verify_local.py [sf_dir] [query ...]

Comparison is deliberately *stricter* than naive value equality, to
mimic the driver's pandas-based canonicalizer:

- Both sides are converted to pandas (``toPandas()`` / ``.df()``), so
  DuckDB HUGEINT (integer ``sum``) becomes float64 and *mismatches* a
  Spark BIGINT -- the round-1 hash-failure class. Oracles must CAST
  integer sums to BIGINT.
- list/array cells are reported as failures (the driver's pandas
  sort dies on unhashable cells); serialize arrays to strings.
- Cells are normalized to "<type-class>:<value>" strings, so 5 (int)
  never equals 5.0 (float).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from conversation_analysis_tools_spark.catalog import TABLES
from conversation_analysis_tools_spark.operators.cache import release_all
from conversation_analysis_tools_spark.session import get_spark


def _norm_cell(v):
    """Type-class-preserving normalization of one pandas cell."""
    if v is None:
        return "null"
    if isinstance(v, float):
        if math.isnan(v):
            return "null"
        return f"f:{round(v, 6)}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        raise TypeError(f"unhashable list cell (driver canonicalizer crash): {v!r}")
    if isinstance(v, pd.Timestamp) or hasattr(v, "isoformat"):
        # The driver treats a DATE and a midnight TIMESTAMP as equal
        # (r01: rolling_avg_daily green with date vs date_trunc) --
        # normalize midnight timestamps down to the date.
        s = v.isoformat()
        return f"t:{s[:-9] if s.endswith('T00:00:00') else s}"
    if hasattr(v, "item"):  # numpy scalar
        return _norm_cell(v.item())
    return f"s:{v}"


def _canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [
        tuple(_norm_cell(row[c]) for c in cols)
        for row in df.to_dict("records")
    ]
    return sorted(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        # docs-only corpora (gen_testdata --docs-only) carry a table
        # subset; register what exists so their queries still verify
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_pdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        finally:
            release_all()  # free operator-internal persists per query
        if name not in oracles:
            try:
                _canon(s_pdf)  # still catch list cells in rows-only output
            except TypeError as e:
                print(f"FAIL  {name}: {e}")
                n_fail += 1
                continue
            print(
                f"rows  {name}: {len(s_pdf)} rows (rows-only, {time.time()-t0:.1f}s)"
            )
            n_rows_only += 1
            continue
        try:
            d_pdf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue

        problems = []
        if len(s_pdf) != len(d_pdf):
            problems.append(f"rowcount spark={len(s_pdf)} duckdb={len(d_pdf)}")
        if sorted(s_pdf.columns) != sorted(d_pdf.columns):
            problems.append(
                f"columns spark={sorted(s_pdf.columns)} duckdb={sorted(d_pdf.columns)}"
            )
        if not problems:
            try:
                ns, nd = _canon(s_pdf), _canon(d_pdf)
            except TypeError as e:
                problems.append(str(e))
            else:
                if ns != nd:
                    diff = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
                    problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(s_pdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
