"""Shared export step for the daily pipelines: CSV with UTF-8 BOM, named
``{prefix}_{min_date}–{max_date}.csv`` from the first Date column — the export
loop every reference script ends with (e.g. ``scripts/manaboo_daily.py:108``,
``:145``). The Sheets upload leg is available via sources.sheets (driver-side,
credential-gated).

One Spark action per export: the date range is observed (``df.observe``)
while the rows are written to a temp file in ``processed_dir``, which is then
atomically renamed to the date-range name. A failed write or an empty date
range leaves no file behind."""

from __future__ import annotations

import os
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, Observation

from polars_ad_etl_spark.sinks.csv_bom import write_csv_bom
from polars_ad_etl_spark.sinks.xlsx import write_xlsx
from polars_ad_etl_spark.utils import date_filename, date_range_exprs


def export_daily(
    df: DataFrame,
    prefix: str,
    processed_dir: str | Path,
    fmt: str = "csv",
) -> str:
    """Write the merged pipeline result; returns the output path. Note the
    filename is always joined to ``processed_dir`` (the reference's apsl
    script accidentally writes to CWD — SURVEY §2.12 treats joined as the
    intended behavior). ``fmt="xlsx"`` writes a real workbook instead of
    BOM-CSV — same spreadsheet consumer, no Sheets network dependency."""
    if fmt not in ("csv", "xlsx"):
        raise ValueError(f"unknown export format {fmt!r}")
    obs = Observation()
    observed = df.observe(obs, *date_range_exprs(df))
    write = write_xlsx if fmt == "xlsx" else write_csv_bom
    tmp = Path(processed_dir) / f".{prefix}.{uuid.uuid4().hex}.tmp"
    try:
        write(observed, tmp)
        out = Path(processed_dir) / date_filename(prefix, obs.get, fmt)
        os.replace(tmp, out)
    except BaseException:
        tmp.unlink(missing_ok=True)
        raise
    return str(out)
