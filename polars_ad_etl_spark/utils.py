"""Driver-side utility operators (SURVEY §2.11).

Pure-Python helpers mirroring the reference's ``src/utils/utils.py``:
date-range filenames (V1), A1-notation ranges for the Sheets connector (V2),
and a columnar CLI text layout debug aid (V3). The only Spark interaction is
the min/max aggregation and the row count, both single-action scalars; the
daily export observes the same min/max during its write instead.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_ad_etl_spark.plans.schema import quote_ident


def date_range_exprs(df: DataFrame) -> list[Column]:
    """min/max aggregates (``mn``, ``mx``) of the first DateType column;
    raises if none exists (reference ``utils.py:6-26``, D3 min/max at
    ``:23-24``). Shared by ``make_date_filename`` (its own aggregate) and
    ``export_daily`` (observed during the write, no extra pass)."""
    date_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.DateType)]
    if not date_cols:
        raise ValueError("DataFrame has no Date column for a date-range filename")
    col = F.col(quote_ident(date_cols[0]))
    return [F.min(col).alias("mn"), F.max(col).alias("mx")]


def date_filename(prefix: str, dates: Row | dict[str, _dt.date | None], ext: str = "csv") -> str:
    """``{prefix}_{min}–{max}.{ext}`` (en-dash) from the values of
    ``date_range_exprs``; raises when the Date column held no value (empty
    frame or all nulls) instead of naming ``None–None``."""
    mn, mx = dates["mn"], dates["mx"]
    if mn is None or mx is None:
        raise ValueError(
            f"the first Date column is empty or all null; no date range to name {prefix!r} by"
        )
    return f"{prefix}_{mn}–{mx}.{ext}"


def make_date_filename(df: DataFrame, prefix: str, ext: str = "csv") -> str:
    """``{prefix}_{min}–{max}.{ext}`` (en-dash) from the first Date column
    (reference ``utils.py:6-26``); one aggregate job."""
    return date_filename(prefix, df.agg(*date_range_exprs(df)).first(), ext)


def column_letter(n: int) -> str:
    """1-based column index -> bijective base-26 A1 letter (1=A, 26=Z, 27=AA;
    reference ``utils.py:43-48``)."""
    if n < 1:
        raise ValueError(f"column index must be >= 1, got {n}")
    out = []
    while n > 0:
        n, rem = divmod(n - 1, 26)
        out.append(chr(ord("A") + rem))
    return "".join(reversed(out))


def shape_to_a1(
    n_rows: int,
    n_cols: int,
    mode: str = "full_range",
    header: bool = True,
    row_offset: int = 0,
    col_offset: int = 0,
) -> str:
    """A1 range for an ``n_rows x n_cols`` table (reference ``utils.py:29-60``).

    ``column_range`` -> ``A:Q`` (full columns, used to clear before overwrite);
    ``full_range`` -> ``A1:Q101`` (+1 for the header row when ``header``).
    Offsets shift the top-left corner.
    """
    first = column_letter(1 + col_offset)
    last = column_letter(n_cols + col_offset)
    if mode == "column_range":
        return f"{first}:{last}"
    if mode == "full_range":
        top = 1 + row_offset
        bottom = n_rows + int(header) + row_offset
        return f"{first}{top}:{last}{bottom}"
    raise ValueError(f"unknown mode {mode!r} (use 'column_range' or 'full_range')")


def df_to_a1(df: DataFrame, mode: str = "full_range", **kwargs) -> str:
    """A1 range sized to a DataFrame. Triggers a count() for ``full_range``
    (the Sheets connector is collect-bounded anyway — SURVEY §7.3)."""
    n_cols = len(df.columns)
    n_rows = df.count() if mode == "full_range" else 0
    return shape_to_a1(n_rows, n_cols, mode=mode, **kwargs)


def format_as_columns(items: list[str], n_cols: int = 3, width: int | None = None) -> str:
    """Lay out numbered items in columns for CLI display (reference
    ``utils.py:63-95``; debug aid only)."""
    if not isinstance(items, list) or not all(isinstance(i, str) for i in items):
        raise TypeError("items must be a list of strings")
    if n_cols < 1:
        raise ValueError("n_cols must be >= 1")
    numbered = [f"{i + 1}. {s}" for i, s in enumerate(items)]
    if not numbered:
        return ""
    width = width or (max(len(s) for s in numbered) + 2)
    rows = []
    for start in range(0, len(numbered), n_cols):
        chunk = numbered[start : start + n_cols]
        rows.append("".join(s.ljust(width) for s in chunk).rstrip())
    return "\n".join(rows)
