"""Query registry: the driver contract surface.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable. Queries with an
``oracle`` get hash-compared against DuckDB running that SQL on the same
parquet (tables pre-registered as views: region nation customer supplier part
orders lineitem events documents embeddings). Queries without an oracle get a
weaker rows-only check (reserved for genuinely non-SQL-expressible ops).

Determinism rules for oracle parity (why these queries look the way they do):

- **Float aggregation is done in exact decimal** (``functions.exact``): plain
  double sums are partition-order-dependent in the low bits and would
  hash-mismatch between two correct engines.
- **Every LIMIT/top-k has a unique total order** (tie-break on a key column).
- **Aggregate/computed columns are aliased identically** in Spark and SQL —
  the driver sorts columns by name before hashing.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Data contracts, declared ONCE per engine. Spark side: the loaders in
# sources/star.py (load_events filters ts IS NOT NULL — a row without a
# timestamp cannot be placed on the timeline; load_embeddings filters
# embedding IS NOT NULL — a vector-less row has nothing to hash, bucket,
# or compare). Oracle side: this rewrite routes every reference to a
# contracted table through the same predicate, so the two engines keep
# seeing the same relation on NULL-carrying inputs (exercised by
# scripts/edge_sweep.py's `nulls` variant). The rewrite is alias-safe
# (`FROM events e` -> `FROM __events e`) and CTE-safe (the shadow name
# differs from the view name, so there is no circular reference and no
# schema-qualification assumption about the driver's DuckDB catalog).
# The embeddings contract also bounds the component domain: vectors must
# be finite, non-zero, and have max |x| <= 16 (real corpus components are
# < 0.6; the bound is the exact-integer envelope -- at KMEANS_Q_SCALE=1e6
# a component quantizes to <= 1.8e7, its square to <= 3.3e14, a 64-dim
# distance to <= 2.1e16, all int64-safe). A zero vector has no cosine
# direction and a NaN/Inf/overflowing one would poison exact arithmetic;
# both engines treat NaN as the largest float, so `max <= 16` excludes it
# identically. The fuzz edge sweep (gen_edge_data.py) planted zero, 1e6-
# component, and denormal vectors to prove the two predicates agree.
from polars_ad_etl_spark.sources.star import (  # noqa: E402
    EMBEDDING_DIM,
    EMBEDDING_MAX_ABS,
)

_TABLE_CONTRACTS: dict[str, str] = {
    "events": "ts IS NOT NULL",
    "embeddings": (
        "embedding IS NOT NULL"
        f" AND len(embedding) = {EMBEDDING_DIM}"
        " AND list_max(list_transform(embedding, x -> abs(x))) > 0"
        " AND list_max(list_transform(embedding, x -> abs(x)))"
        f" <= {EMBEDDING_MAX_ABS:g}"
    ),
}
_CONTRACT_REFS = {
    t: re.compile(rf"\b(FROM|JOIN)(\s+){t}\b", re.IGNORECASE)
    for t in _TABLE_CONTRACTS
}


_WITH_RECURSIVE = re.compile(r"^\s*WITH\s+RECURSIVE\b", re.IGNORECASE)
_WITH = re.compile(r"^\s*WITH\b", re.IGNORECASE)


def _apply_table_contracts(sql: str) -> str:
    ctes = []
    for t, pred in _TABLE_CONTRACTS.items():
        sql, n = _CONTRACT_REFS[t].subn(rf"\1\2__{t}", sql)
        # Registration-time guard: if the contracted table name still
        # appears as a word after the rewrite, the regex missed a reference
        # (comma-style join `FROM x, events`, a derived-table alias, a
        # quoted identifier...) and the oracle would silently read the RAW
        # table — an engine divergence that only shows on NULL-carrying
        # data, the hardest kind to notice. Fail loudly at import instead.
        # Case-insensitive to match the rewrite above (an uppercase missed
        # reference like `FROM x, EVENTS` must trip the guard too); a string
        # literal containing the table name also trips it, which is
        # acceptable for a fail-loud import-time check.
        if re.search(rf"\b{t}\b", sql, re.IGNORECASE):
            raise ValueError(
                f"table contract for {t!r} left unrewritten reference(s); "
                f"rewrote {n} FROM/JOIN site(s) but the name still appears "
                f"as a word in: {sql[:300]!r}... — use FROM/JOIN syntax "
                "(no comma joins) and don't shadow contracted table names"
            )
        if n:
            ctes.append(f"__{t} AS (SELECT * FROM {t} WHERE {pred})")
    if not ctes:
        return sql
    cte = ", ".join(ctes)
    s = sql.lstrip()
    m = _WITH_RECURSIVE.match(s)
    if m:
        # splice after the RECURSIVE keyword (whitespace-flexible): DuckDB
        # accepts non-recursive CTEs in a WITH RECURSIVE list.
        return "WITH RECURSIVE " + cte + ", " + s[m.end() :].lstrip()
    m = _WITH.match(s)
    if m:
        return "WITH " + cte + ", " + s[m.end() :].lstrip()
    return "WITH " + cte + " " + s


def register(
    name: str, oracle: str | None = None, contracts: bool = True
) -> Callable[[QueryFn], QueryFn]:
    """``contracts=False`` opts an oracle out of the table-contract
    rewrite — reserved for quarantine/QC queries whose very purpose is to
    REPORT the rows the contracts exclude (their Spark side must read the
    raw table to match)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = (
                _apply_table_contracts(oracle) if contracts else oracle
            )
        return fn

    return deco
