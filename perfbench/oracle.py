"""Output checks: DuckDB oracle comparison for registry keys.

The comparison is the engine's differential-test rule: same column
names, same row count, and equal values after sorting columns by name
and rows by every column (exact, no float tolerance).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.reindex(sorted(df.columns), axis=1)
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif s.dtype == object:
            out[c] = s.map(lambda v: None if v is None else str(v))
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Mismatch descriptions; empty means the frames agree."""
    a, b = normalize(got), normalize(want)
    if list(a.columns) != list(b.columns):
        return [f"columns differ: engine={list(a.columns)} oracle={list(b.columns)}"]
    if len(a) != len(b):
        return [f"row count differs: engine={len(a)} oracle={len(b)}"]
    problems = []
    for c in a.columns:
        x, y = a[c], b[c]
        ok = (x.isna() & y.isna()) | (x == y)
        if not np.asarray(ok).all():
            problems.append(f"column {c!r}: {int((~ok).sum())} rows differ")
    return problems


def duckdb_frame(sql: str, sf_dir: str) -> pd.DataFrame:
    """Run an oracle over every ``<table>.parquet`` in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f).replace("'", "''")
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()
