"""Exact result comparison against DuckDB: both sides are normalized
(columns by name, integer widths unified, rows sorted by every column) and
compared value by value, floats bit for bit."""

from __future__ import annotations

import duckdb
import pandas as pd


def duck_con(sf_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64") + 0.0  # fold -0.0 into +0.0
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the two results hold the same rows, else a short reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        if not a[c].equals(b[c]):
            i = int((a[c] != b[c]).idxmax())
            return f"column {c} row {i}: {a[c][i]!r} != {b[c][i]!r}"
    return None
