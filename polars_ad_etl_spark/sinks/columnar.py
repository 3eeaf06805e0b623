"""Columnar sink beyond parquet: ORC with partitioned layout.

Spark ships an ORC reader/writer with the same predicate-pushdown +
partition-pruning contract as parquet; a lakehouse pipeline that feeds
Presto/Hive consumers writes ORC. This module is the thin, tested wrapper:
Hive-style ``partitionBy`` layout on write; a plain ``spark.read.orc`` of
the result keeps partition pruning + pushed filters (asserted in
tests/test_connectors.py).

Scale notes: partition columns become directories — keep their cardinality
bounded (event_type here: 6 values) or small files proliferate; within a
partition, ORC stripe statistics serve the same file-skipping role as
parquet row-group stats (see ``sinks/parquet.py::compact_zordered`` for the
clustering that makes those stats selective).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_orc(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = ()
) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
