"""Order-insensitive result comparison.

Frames are canonicalized the way ``scripts/check_correctness.py`` does
(columns sorted by name, timestamps as naive microseconds, integers as
int64, rows sorted by every column), then compared column by column:
float columns may differ by a relative 1e-9 (summation order) and every
other column must be equal.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

RTOL = 1e-9


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        col = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            s = pd.to_datetime(col)
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            pdf[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(col):
            pdf[c] = col.astype(bool)
        elif pd.api.types.is_integer_dtype(col):
            pdf[c] = col.astype("int64")
    return pdf.sort_values(list(pdf.columns), na_position="last").reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else a short reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    a, b = canon(got.copy()), canon(want.copy())
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            ok = np.isclose(x.astype(float).to_numpy(), y.astype(float).to_numpy(),
                            rtol=RTOL, atol=1e-12, equal_nan=True).all()
        else:
            ok = x.astype(str).equals(y.astype(str))
        if not ok:
            return f"column {c} differs"
    return None


def duck(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per table directory, read
    recursively with hive partitioning (Spark's table layout)."""
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for name, path in tables.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)")
    return con
