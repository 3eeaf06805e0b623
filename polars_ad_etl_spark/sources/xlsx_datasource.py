"""A custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API)
exposing the stdlib xlsx parser as a first-class format:

    spark.dataSource.register(XlsxDataSource)
    df = spark.read.format("xlsx").option("sheet", "Sheet1").load(path_or_dir)

This upgrades the driver-side Excel connector (``sources/tabular.py``, which
parses on the driver and parallelizes afterwards) to a genuine distributed
scan: one ``InputPartition`` per workbook file, parsed ON THE EXECUTORS by
``xlsx_lite`` — so a directory of ten thousand uploaded workbooks reads with
full cluster parallelism, the way parquet does. Schema is inferred from the
first file with the same whole-table normalization the reference applies
(``infer_schema_length=None`` semantics), then every file is coerced to it.

Reference parity: the reference scans Excel via a Calamine-backed reader
(`multi_source_ad_etl.py` read_excel path); this is the Spark-native
re-expression of that capability at directory scale.

Scale notes: a workbook is one partition (xlsx is a zip — not splittable);
skew across file sizes is handled by Spark's scheduler since partitions ≫
cores is the expected shape. Driver memory holds only file PATHS.
"""

from __future__ import annotations

import glob
import os
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from polars_ad_etl_spark.sources import xlsx_lite


def _expand(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.xlsx")))
    return sorted(glob.glob(path)) or [path]


def _parse_file(path: str, sheet: str | None):
    rows = xlsx_lite.read_xlsx_rows(path, sheet=sheet)
    if not rows:
        return [], [], []
    names, data, types = xlsx_lite.normalize_columns(rows[0], rows[1:])
    return names, data, types


class XlsxDataSource(DataSource):
    """``format("xlsx")``: executor-side stdlib workbook scan."""

    @classmethod
    def name(cls) -> str:
        return "xlsx"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("xlsx datasource requires a load path")
        files = _expand(path)
        if not files:
            raise ValueError(f"no .xlsx files under {path!r}")
        names, _data, types = _parse_file(files[0], self.options.get("sheet"))
        return StructType(
            [
                StructField(n, xlsx_lite.SPARK_TYPES[t], True)
                for n, t in zip(names, types)
            ]
        )

    def reader(self, schema: StructType) -> "XlsxReader":
        return XlsxReader(schema, self.options)


class XlsxReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._path = options.get("path")
        self._sheet = options.get("sheet")

    def partitions(self) -> list[InputPartition]:
        # one workbook = one partition (zip containers are not splittable)
        return [InputPartition(p) for p in _expand(self._path)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        names, data, _types = _parse_file(partition.value, self._sheet)
        idx = {n: i for i, n in enumerate(names)}
        casts = [
            (idx.get(f.name), f.dataType) for f in self._schema.fields
        ]
        for row in data:
            out = []
            for i, dt in casts:
                v = row[i] if i is not None and i < len(row) else None
                if v is not None:
                    if isinstance(dt, DoubleType):
                        v = float(v)
                    elif isinstance(dt, LongType):
                        v = int(v)
                    elif isinstance(dt, StringType):
                        v = str(v)
                    elif isinstance(dt, BooleanType):
                        v = bool(v)
                out.append(v)
            yield tuple(out)


def register_xlsx_source(spark) -> None:
    """Idempotent format registration (call once per session)."""
    spark.dataSource.register(XlsxDataSource)
