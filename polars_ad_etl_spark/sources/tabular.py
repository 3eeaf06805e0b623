"""Tabular file sources: directory iteration + extension dispatch.

Reference behavior (``multi_source_ad_etl.py:96-108``): enumerate ``raw_dir``,
read ``.csv`` and ``.xlsx`` files with full-file schema inference, raise if
nothing matched. Spark mapping:

- CSV: ``spark.read.csv(header=True, inferSchema=True)`` — Spark's inference
  also passes over the data, matching the reference's
  ``infer_schema_length=None`` semantics. Production path at scale: pass an
  explicit ``schema`` to skip the inference pass entirely.
- Excel: no native Spark reader in this environment; driver-side
  ``pandas.read_excel`` -> ``spark.createDataFrame``. Ad reports are small —
  this connector is documented as driver-bounded (SURVEY §7.3), and the import
  is gated so missing engine deps degrade to a clear error.

Per-file reads are required because source detection is schema-based
(set-of-columns). Inference makes each CSV read eager (two small jobs), so
the reads are issued from a small thread pool (``read_concurrently``): the
jobs stay the same, their wall time overlaps, and they keep the caller's job
group. At 100k-file scale, detection should read headers only —
``read_csv_header`` does that with a single-line driver read — after which
same-source files are globbed into one scan (``read_csv_dir_grouped``).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

R = TypeVar("R")


class EmptyDirectoryError(FileNotFoundError):
    """No readable tabular files found (reference ``multi_source_ad_etl.py:103-107``)."""


def read_csv(
    spark: SparkSession,
    path: str | Path | list[str],
    schema: T.StructType | None = None,
) -> DataFrame:
    """One CSV file, or a list of same-header files as one scan."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path if isinstance(path, list) else str(path))


def read_excel(spark: SparkSession, path: str | Path) -> DataFrame:
    """Driver-side xlsx read (reference S2, ``multi_source_ad_etl.py:101-102``).

    Prefers a full pandas Excel engine when one is installed; otherwise falls
    back to the stdlib-only ``xlsx_lite`` parser (ZIP + XML — handles the
    shared/inline-string + numeric worksheets ad reports actually are).
    Driver-side by design: ad reports are small (SURVEY §7.3-4); huge xlsx
    ingest is out of scope for any engine."""
    try:
        import pandas as pd

        pdf = pd.read_excel(path)  # needs openpyxl/xlrd at runtime
        return spark.createDataFrame(pdf)
    except ImportError:
        from polars_ad_etl_spark.sources.xlsx_lite import (
            normalize_columns,
            read_xlsx_rows,
        )

        rows = read_xlsx_rows(path)
        if not rows:
            raise EmptyDirectoryError(f"empty worksheet in {path}")
        names, data, types = normalize_columns(rows[0], rows[1:])
        spark_type = {
            "boolean": T.BooleanType(),
            "double": T.DoubleType(),
            "long": T.LongType(),
            "string": T.StringType(),
        }
        schema = T.StructType(
            [T.StructField(n, spark_type[t]) for n, t in zip(names, types)]
        )
        return spark.createDataFrame(data, schema=schema)


def read_jsonl(
    spark: SparkSession, path: str | Path, schema: T.StructType | None = None
) -> DataFrame:
    """JSON-lines source (new-engine extension; ad platforms increasingly
    export NDJSON). Native distributed reader — unlike xlsx this scales:
    Spark splits .jsonl files by line across executors."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(str(path))


CORRUPT_COL = "_corrupt_record"


def read_jsonl_quarantined(
    spark: SparkSession, path: str | Path, schema: T.StructType
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """JSONL ingest that never drops data silently: PERMISSIVE parse with a
    ``_corrupt_record`` capture column, split into (good, quarantine).

    Production NDJSON feeds always contain some malformed lines; FAILFAST
    kills the whole job for one bad row and DROPMALFORMED silently loses
    data — the quarantine split is the ingest-side sibling of the
    pipeline's strict-cast quarantine mode: good rows flow on, bad raw
    lines land in a reviewable frame. Requires an explicit schema (with
    inference Spark would type the corrupt column away). Note PERMISSIVE
    keeps whatever fields DID parse on a partially-malformed row — the
    quarantine frame exposes only the raw line, by selection, not because
    the parsed columns are guaranteed null.

    Lifecycle: both split frames share one cached parse (required for a
    consistent corrupt-column split, SPARK-21610); the cached parent is
    returned as the third element so callers can ``parsed.unpersist()``
    once both splits are consumed — without it every call would leak an
    executor-memory cache entry for the session's lifetime."""
    full_schema = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    df = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(str(path))
        # Spark requires materializing the corrupt column before filtering
        # on it (SPARK-21610): referencing a cached projection is the
        # documented pattern and a no-op for well-formed files
        .cache()
    )
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, bad, df


def read_csv_quarantined(
    spark: SparkSession, path: str | Path, schema: T.StructType
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """CSV sibling of :func:`read_jsonl_quarantined`: PERMISSIVE parse with
    a ``_corrupt_record`` capture column, split into (good, quarantine,
    cached-parent). Same contract: schema-mismatched rows (wrong arity,
    untypeable cells) land in the quarantine frame as raw lines instead of
    being silently nulled or dropped; the cached parent is returned for
    lifecycle control (``parsed.unpersist()`` after both splits are
    consumed)."""
    full_schema = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    df = (
        spark.read.schema(full_schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(str(path))
        .cache()
    )
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, bad, df


def read_orc(spark: SparkSession, path: str | Path) -> DataFrame:
    """ORC source (new-engine extension): Spark's second columnar native
    format, vectorized-read and predicate-pushdown capable like parquet —
    warehouses migrating from Hive commonly hand over ORC."""
    return spark.read.orc(str(path))


def read_csv_header(path: str | Path) -> list[str]:
    """Read only the header line of a CSV (for schema-based source detection
    at scale — O(1) bytes per file instead of a full inference pass). An
    empty file has no columns, as for the per-file read path."""
    import csv

    with open(path, newline="", encoding="utf-8-sig") as fh:
        return next(csv.reader(fh), [])


_READERS = {
    ".csv": read_csv,
    ".xlsx": lambda spark, p, schema: read_excel(spark, p),
    ".xls": lambda spark, p, schema: read_excel(spark, p),
    ".jsonl": read_jsonl,
    ".ndjson": read_jsonl,
    ".parquet": lambda spark, p, schema: spark.read.parquet(str(p)),
    ".orc": lambda spark, p, schema: read_orc(spark, p),
}


def read_concurrently(spark: SparkSession, reads: list[Callable[[], R]]) -> list[R]:
    """Run each read from a small thread pool (one thread per read, capped
    at ``defaultParallelism``) and return the results in input order. Each
    read is wrapped in ``inheritable_thread_target`` so the caller's job
    group, local properties and tags reach the jobs it runs."""
    inherit = inheritable_thread_target(spark)
    workers = min(len(reads), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        return list(pool.map(lambda read: read(), [inherit(r) for r in reads]))


def read_csv_dir_grouped(
    spark: SparkSession,
    raw_dir: str | Path,
    detect,
) -> list[tuple[str, list[str], DataFrame]]:
    """The 100k-file ingest path (SURVEY §7.3-3): detect each CSV's source
    from its HEADER LINE only (O(1) driver bytes per file), group files by
    (source, header), and hand each group to Spark as ONE distributed scan —
    so schema inference and reading parallelize over the whole group instead
    of running once per file. Returns ``(source, paths, DataFrame)`` per
    group, deterministic (sorted paths, insertion-ordered groups); the
    groups' inference jobs are issued concurrently (``read_concurrently``)."""
    groups: dict[tuple[str, tuple[str, ...]], list[str]] = {}
    for p in sorted(Path(raw_dir).glob("*.csv")):
        header = tuple(read_csv_header(p))
        src = detect(list(header))
        groups.setdefault((src, header), []).append(str(p))
    if not groups:
        raise EmptyDirectoryError(f"no .csv files found in {raw_dir}")
    dfs = read_concurrently(
        spark, [functools.partial(read_csv, spark, paths) for paths in groups.values()]
    )
    return [(src, paths, df) for ((src, _), paths), df in zip(groups.items(), dfs)]


def read_tabular_dir(
    spark: SparkSession,
    raw_dir: str | Path,
    schema: T.StructType | None = None,
) -> list[tuple[str, DataFrame]]:
    """Enumerate + dispatch. Returns ``(path, DataFrame)`` pairs in sorted
    path order (deterministic, like the reference's directory iteration);
    the per-file reads run concurrently (``read_concurrently``)."""
    raw = Path(raw_dir)
    paths = [
        p for p in (sorted(raw.iterdir()) if raw.is_dir() else [])
        if p.suffix.lower() in _READERS
    ]
    if not paths:
        raise EmptyDirectoryError(
            f"no .csv/.xlsx/.jsonl/.parquet/.orc files found in {raw_dir}"
        )
    dfs = read_concurrently(spark, [
        functools.partial(_READERS[p.suffix.lower()], spark, p, schema) for p in paths
    ])
    return list(zip(map(str, paths), dfs))
