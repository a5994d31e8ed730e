"""Output fingerprints and the DuckDB oracle, all run outside timing.

A fingerprint is (row count, sorted column names, sha1 of the sorted
canonical rows). Cells are canonicalized the way the repo's
correctness gate does it: type class plus value, floats rounded to 6
places, NaN as null, midnight timestamps as dates -- so a Spark result
and a DuckDB result of the same query compare equal.
"""

from __future__ import annotations

import hashlib
import math
import os


def _cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        return "null" if math.isnan(v) else f"f:{round(v, 6)}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if hasattr(v, "isoformat"):
        s = v.isoformat()
        return f"t:{s[:-9] if s.endswith('T00:00:00') else s}"
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    return f"s:{v}"


def fingerprint(columns: list[str], rows: list[tuple]) -> tuple[int, tuple, str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    digest = hashlib.sha1(repr(canon).encode()).hexdigest()
    return len(rows), tuple(columns[i] for i in order), digest


def spark_fingerprint(df_columns: list[str], rows) -> tuple[int, tuple, str]:
    """Fingerprint of collected Rows, with numeric columns widened the
    way ``toPandas`` widens them (an int column holding a NULL reads
    as float), so it matches a pandas-side oracle."""
    import pandas as pd

    pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=df_columns)
    return fingerprint(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))


def oracle_fingerprints(data_dir: str, names: list[str]) -> dict[str, tuple]:
    """Run each query's ``oracle_sql()`` text in DuckDB over the parquet
    tables in ``data_dir``."""
    import duckdb

    import __spark_entry__ as entry
    from conversation_analysis_tools_spark.catalog import TABLES

    sql = entry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for n in names:
        if n in sql:
            pdf = con.execute(sql[n]).df()
            out[n] = fingerprint(
                list(pdf.columns), list(pdf.itertuples(index=False, name=None))
            )
    con.close()
    return out
