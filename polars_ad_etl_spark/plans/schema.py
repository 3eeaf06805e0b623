"""Schema DSL: ordered ``dict[str, DataType]`` -> ``StructType``.

The reference declares per-pipeline target schemas as ordered dicts of
``{column_name: polars_dtype}`` (reference ``multi_source_ad_etl.py:15``,
concrete instance ``scripts/apsl_internal.py:102-120``); dict order defines
output column order. We keep the identical ergonomic — an ordered dict of
``{name: pyspark DataType}`` — and convert to ``StructType`` preserving order.

Only four flat types appear in any reference schema (String, Int64, Float64,
Date — SURVEY §1.3); we accept any Spark ``DataType`` so the north-star
operators can declare arrays/timestamps/binary too.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Convenience aliases mirroring the four reference types (SURVEY §1.3).
String = T.StringType()
Int64 = T.LongType()
Float64 = T.DoubleType()
Date = T.DateType()


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for a SQL expression string, so names
    with ``.``, spaces, backticks or non-ASCII letters resolve as one
    identifier (``F.col("Avg. CPC")`` would parse as struct-field access)."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """A single-quoted SQL string literal holding ``value``."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def to_struct_type(schema: dict[str, T.DataType], nullable: bool = True) -> T.StructType:
    """Ordered dict -> StructType, preserving insertion order as column order."""
    return T.StructType(
        [T.StructField(name, dtype, nullable) for name, dtype in schema.items()]
    )
