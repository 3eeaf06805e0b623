"""DuckDB side of the registry check: runs a query's oracle SQL over the same
parquet files and compares it with the Spark result after normalizing both
(columns by name, rows sorted, integer and timestamp dtypes unified)."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pandas as pd


def connect(sf_dir: Path, tables):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir / (t + '.parquet')}')"
        )
    return con


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf[sorted(pdf.columns)].copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("Int64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            first = next((v for v in s if v is not None), None)
            if isinstance(first, (dt.date, dt.datetime)):
                out[c] = pd.to_datetime(s).astype("datetime64[us]")
    return out.sort_values(by=list(out.columns), ignore_index=True)


def diff(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    """None when two normalized frames are equal, else the first difference."""
    if list(a.columns) != list(b.columns):
        return f"columns differ: spark={list(a.columns)} duckdb={list(b.columns)}"
    if len(a) != len(b):
        return f"row counts differ: spark={len(a)} duckdb={len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
            eq = (av == bv) | (np.isnan(av.astype(float)) & np.isnan(bv.astype(float)))
        else:
            eq = (a[c].isna() & b[c].isna()).to_numpy() | (
                a[c].fillna("<NA>").to_numpy() == b[c].fillna("<NA>").to_numpy()
            )
        if not bool(np.all(eq)):
            i = int(np.argmin(eq))
            return f"column {c!r} differs at sorted row {i}: spark={av[i]!r} duckdb={bv[i]!r}"
    return None
