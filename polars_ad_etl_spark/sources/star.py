"""Loader for the driver's TPC-H-ish star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under an sf directory.
"""

from __future__ import annotations

import hashlib
import re

from pathlib import Path
from weakref import WeakKeyDictionary

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_DATE_BOUND = re.compile(r"\d{4}-\d{2}-\d{2}")


def _byte_conf(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-string conf ('128m', '4194304b', plain int) in
    Python — no JVM round-trip."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    mult = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if raw and raw[-1] in mult:
        return int(raw[:-1]) * mult[raw[-1]]
    return int(raw)


# (appId, resolved path) -> (mtime_ns, estimated planned scan partitions).
_SCAN_WIDTHS: dict[tuple[str, str], tuple[int, int]] = {}


def scan_width(spark: SparkSession, path: str | Path) -> int:
    """Estimated number of tasks a parquet scan of ``path`` will plan,
    derived from FILE METADATA ONLY (no ``df.rdd`` plan conversion — the
    round-12 probe converted the frame to an RDD on the driver per
    construction, which is exactly the py4j/analysis overhead the round
    was hunting). Mirrors Spark's FilePartition packing: splittable files
    are chunked by ``maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, (total + nfiles*openCost) / defaultParallelism))``
    and bin-packed; the estimate ``ceil(total_charged / maxSplitBytes)``
    is exact for the flat single-file testdata and within one of the real
    count for multi-file layouts — plenty for a >=-cores gate. Memoized
    per (appId, path, mtime)."""
    p = Path(path).resolve()
    key = (spark.sparkContext.applicationId, str(p))
    try:
        mtime = p.stat().st_mtime_ns
    except OSError:
        return 1
    hit = _SCAN_WIDTHS.get(key)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    if p.is_dir():
        sizes = [f.stat().st_size for f in p.rglob("*.parquet")]
    else:
        sizes = [p.stat().st_size]
    open_cost = _byte_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    max_pb = _byte_conf(
        spark, "spark.sql.files.maxPartitionBytes", 128 << 20
    )
    par = spark.sparkContext.defaultParallelism
    total = sum(s + open_cost for s in sizes) or 1
    max_split = min(max_pb, max(open_cost, total // max(par, 1) + 1))
    width = max(1, -(-total // max_split))
    _SCAN_WIDTHS[key] = (mtime, width)
    return width


def spread_scan(df: DataFrame, width: int, key: str | None = None) -> DataFrame:
    """Scale-adaptive compute spread for per-row-EXPENSIVE projections
    (shingling, MinHash, SimHash, CDC rolling hashes).

    A parquet scan's parallelism is capped by file/row-group count, not by
    the cluster: the generated testdata ships ONE single-row-group file per
    table, so the scan plans one task and a heavy whole-stage-codegen
    projection runs serially on one core no matter how many the session has
    (measured: the MinHash signature stage of dedup_near_dup_keep_list ran
    1.5 s on 1 of 32 cores at sf0.1 — guide §2.5 "input skew", §6 "input
    split size"). Production layouts (thousands of files/row groups) plan
    at least cores-many scan tasks, in which case this is a NO-OP: the
    condition compares the scan's planned partitioning against the
    session's default parallelism, so there is no constant tuned to either
    local mode or a cluster. When it fires it costs one exchange of the
    frame — callers project the needed columns FIRST (guide §2.3) and only
    wrap frames whose downstream per-row compute dominates that exchange.

    ``key``: optional column to hash-partition on instead of round-robin.
    When the downstream heavy projection feeds a ``groupBy(key)``, hashing
    here lets the aggregate reuse this exchange (guide §2.4 "two operations
    keyed the same way share one exchange") AND skips round-robin's
    sort-before-repartition pass on the map side.

    ``width``: the scan's planned partition count from :func:`scan_width`
    (metadata-only, so deciding costs no job or RDD conversion)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if width >= target:
        return df
    if key is not None:
        return df.repartition(target, key)
    return df.repartition(target)


def read_docs_spread(
    spark: SparkSession,
    sf_dir: str | Path,
    key: str | None = None,
    cols: tuple[str, ...] = ("doc_id", "text"),
) -> DataFrame:
    """A projection of the documents table, spread-gated for per-row-
    expensive downstream compute — the shared entry point of the
    shingle/MinHash/SimHash/CDC/text-stats operators. Callers name the
    columns they need (guide §2.3: project before the exchange). The
    spread decision comes from :func:`scan_width` (file metadata,
    memoized), so constructing a query costs zero RDD conversions."""
    path = Path(sf_dir) / "documents.parquet"
    df = read_star_parquet(spark, path).select(*cols)
    return spread_scan(df, key=key, width=scan_width(spark, path))


# Base-relation reuse for the static star tables (round 12, guide §1/§7.3:
# driver-side work is wall time too). A bare ``spark.read.parquet`` re-infers
# the schema on EVERY construction, which runs a footer-read job plus ~10
# py4j round-trips — measured 110 ms per table, 370 ms for a 4-table query,
# all inside the bench's timed region and repeated on every execution of
# every query. The immutable, unevaluated DataFrame is reusable by design
# (exactly what ``spark.table`` on a catalog table returns), so hand back
# the SAME analyzed base relation per (session, resolved path, mtime, size).
# This caches METADATA ONLY — no rows, no results, no query intermediates:
# every action on the returned frame still scans the parquet file. A
# replaced/rewritten file changes the fingerprint and misses the cache.
# Keyed on the SparkSession OBJECT (WeakKeyDictionary), not applicationId:
# a cloned session (spark.newSession(), same appId) analyzes under its own
# confs and must never receive a sibling's frame (round-12 advice); dead
# sessions drop their entries automatically. For DIRECTORY layouts
# (documents.parquet/source_part=…) the fingerprint folds in the direct
# children's (name, mtime_ns, size) — a write into an existing partition
# subdir does not bump the top dir's mtime (round-12 advice).
_BASE_RELATIONS: "WeakKeyDictionary[SparkSession, dict]" = WeakKeyDictionary()


def _path_fingerprint(p: Path) -> tuple:
    st = p.stat()
    if p.is_dir():
        children = tuple(
            sorted(
                (c.name, c.stat().st_mtime_ns, c.stat().st_size)
                for c in p.iterdir()
            )
        )
        return (st.st_mtime_ns, st.st_size, children)
    return (st.st_mtime_ns, st.st_size)


def read_star_parquet(spark: SparkSession, path: str | Path) -> DataFrame:
    from pathlib import Path as _P

    p = _P(path).resolve()
    try:
        fp = _path_fingerprint(p)
    except OSError:
        # Missing path: fall through so Spark raises its usual error.
        return spark.read.parquet(str(p))
    per_session = _BASE_RELATIONS.setdefault(spark, {})
    hit = per_session.get(str(p))
    if hit is not None and hit[0] == fp:
        df = hit[1]
    else:
        df = spark.read.parquet(str(p))
        per_session[str(p)] = (fp, df)
    # Fresh output attribute ids per call (~9 ms): two reads of the same
    # table inside one query (q7's nation x2, the incremental dedup
    # corpus/batch splits) must not share expression ids, or the join-side
    # ambiguity check rejects the plan. A Project over the shared base is
    # transparent to pushdown/pruning (verified: PushedFilters/ReadSchema
    # unchanged through the wrapper).
    return df.toDF(*df.columns)


def load_events(
    spark: SparkSession,
    sf_dir: str | Path,
    since: str | None = None,
    until: str | None = None,
) -> DataFrame:
    """The events table stores ``ts`` as parquet TIMESTAMP(NANOS), which the
    vectorized Spark reader rejects. Read nanos as long (runtime-settable
    legacy conf) and floor to microseconds as ``timestamp_ntz`` — naive, so
    the result is independent of the session timezone, matching DuckDB's
    TIMESTAMP_NS semantics (truncated to micros).

    ``since``/``until``: optional ``YYYY-MM-DD`` date bounds (since
    inclusive, until exclusive) applied as an event-time filter. When the
    layout is date-partitioned (an ``event_date`` partition column, the
    100-TB layout :func:`polars_ad_etl_spark.sinks.parquet.
    write_events_date_partitioned` produces), the equivalent predicate is
    ALSO applied to the partition column — parquet partition pruning only
    fires on the partition column itself (Spark does not infer
    ``event_date`` bounds from ``ts`` bounds), so a day-bounded query on a
    year of data must skip the other ~358 directories at the catalog, not
    filter rows after scanning them. ``event_date`` is then dropped, so
    the returned schema is identical across flat and partitioned layouts
    (pinned by tests/test_scale_layout.py)."""
    for b in (since, until):
        if b is not None and not _DATE_BOUND.fullmatch(b):
            raise ValueError(f"date bound must be YYYY-MM-DD, got {b!r}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_star_parquet(spark, Path(sf_dir) / "events.parquet")
    if dict(df.dtypes)["ts"] == "bigint":
        # timestampadd on a TIMESTAMP_NTZ base is pure arithmetic — unlike
        # timestamp_micros(...)::timestamp_ntz, it cannot shift with the
        # session timezone (caught by the hostile-tz verification probe).
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    if "event_date" in df.columns:
        if since is not None:
            df = df.where(F.col("event_date") >= F.lit(since).cast("date"))
        if until is not None:
            df = df.where(F.col("event_date") < F.lit(until).cast("date"))
        df = df.drop("event_date")
    if since is not None:
        df = df.where(
            F.col("ts") >= F.expr(f"TIMESTAMP_NTZ '{since} 00:00:00'")
        )
    if until is not None:
        df = df.where(
            F.col("ts") < F.expr(f"TIMESTAMP_NTZ '{until} 00:00:00'")
        )
    # Event-time contract: a row without a timestamp cannot be placed on
    # the timeline, so it is excluded at the loader (quarantine upstream).
    # The oracle side applies the identical predicate via
    # operators/registry.py::_apply_table_contracts.
    return df.where(F.col("ts").isNotNull())


def load_documents(
    spark: SparkSession,
    sf_dir: str | Path,
    sources: tuple[str, ...] | list[str] | None = None,
) -> DataFrame:
    """The documents corpus, optionally restricted to a source allowlist.

    When the layout is source-partitioned (a ``source_part`` partition
    column, produced by :func:`polars_ad_etl_spark.sinks.parquet.
    write_documents_source_partitioned`), the allowlist is ALSO applied to
    the partition column — partition pruning only fires on the partition
    column itself, so a five-source curation gate over a 20-source corpus
    must skip the other 15 directories at the catalog, not filter rows
    after scanning them. ``source_part`` is then dropped and the column
    order re-canonicalized, so the returned schema is identical across
    flat and partitioned layouts (pinned by tests/test_scale_layout.py).
    The semantic ``source`` filter applies on both layouts."""
    df = read_star_parquet(spark, Path(sf_dir) / "documents.parquet")
    if "source_part" in df.columns:
        if sources is not None:
            df = df.where(F.col("source_part").isin(list(sources)))
        cols = [c for c in df.columns if c != "source_part"]
        canon = ["doc_id", "text", "lang", "source", "n_chars"]
        df = df.select(canon if set(cols) == set(canon) else cols)
    if sources is not None:
        df = df.where(F.col("source").isin(list(sources)))
    return df


# Vector-domain bound shared by BOTH engines' contract predicates (the
# Spark filter below and the oracle rewrite in
# operators/registry.py::_TABLE_CONTRACTS) — the single source of truth
# for the exact-integer envelope. test_edge_inputs.py asserts the
# envelope arithmetic against the quantization scales, so raising either
# side without the other fails loudly.
EMBEDDING_MAX_ABS = 16.0
# Vector shape, declared once for both engines' contract predicates: the
# per-dimension operators (centroids, covariance, PQ sub-vectors) index
# dims 1..EMBEDDING_DIM and average over rows, so a ragged vector would
# skew its label's tail dimensions instead of failing.
EMBEDDING_DIM = 64


def embedding_contract() -> Column:
    """The embeddings table's vector contract as one row predicate: a row
    is excluded when it has no vector (failed encoder batch), a vector of
    other than ``EMBEDDING_DIM`` components (a ragged encoder batch), a
    zero vector (no cosine direction), or components outside (0, 16] in
    magnitude (NaN/Inf/overflow would poison the exact-integer distance
    arithmetic; real corpus components are < 0.6 — see the envelope math at
    operators/registry.py::_TABLE_CONTRACTS). Declared ONCE here for the
    Spark side, batch (:func:`load_embeddings`) and stream
    (streaming/embeddings.py) alike; the oracle side gets the equivalent
    predicate via _apply_table_contracts. Both engines compare NaN as the
    largest float, so `max(|x|) <= 16` excludes non-finite vectors
    identically."""
    amax = F.array_max(F.transform(F.col("embedding"), F.abs))
    return (
        F.col("embedding").isNotNull()
        & (F.size("embedding") == EMBEDDING_DIM)
        & (amax > 0)
        & (amax <= EMBEDDING_MAX_ABS)
    )


def load_embeddings(spark: SparkSession, sf_dir: str | Path) -> DataFrame:
    """The embeddings table with :func:`embedding_contract` applied."""
    df = read_star_parquet(spark, Path(sf_dir) / "embeddings.parquet")
    return df.where(embedding_contract())


# ------------------------------------------------------- bucketed layouts
# The one-time-shuffle store for repeated joins/aggregations on a key (see
# sinks/bucketed.py for the strategy). These loaders materialize a star
# table as a bucketed+sorted catalog table ONCE per (source file, mtime,
# bucket spec) and hand back the table name — every downstream join or
# aggregation on the bucket key then reads co-located buckets and skips its
# Exchange (plan-pinned in tests/test_plan_quality.py). The table name
# encodes the source path + mtime, so regenerated testdata can never serve
# a stale layout, and distinct sf/edge dirs never collide inside one
# session. Data lands under the uid-keyed private cache root (cache.py:
# 0700, ownership-verified — a fixed shared temp path was a poisoning
# surface on multi-user hosts, round-9 advice), so a driver running from an
# arbitrary cwd never grows a spark-warehouse there.


def _bucketed_root() -> Path:
    from polars_ad_etl_spark.cache import private_cache_root

    return private_cache_root("spark_graft_bucketed_layouts")


def _materialized_bucketed(
    spark: SparkSession,
    source_file: Path,
    df: DataFrame,
    prefix: str,
    bucket_col: str,
    n_buckets: int,
) -> str:
    key = (
        f"{source_file.resolve()}:{source_file.stat().st_mtime_ns}:"
        f"{bucket_col}:{n_buckets}"
    )
    name = f"{prefix}_{hashlib.md5(key.encode()).hexdigest()[:12]}"
    if not spark.catalog.tableExists(name):
        from ..sinks.bucketed import write_bucketed

        write_bucketed(
            df, name, bucket_col, n_buckets,
            sort_col=bucket_col, path=str(_bucketed_root() / name),
        )
    return name


def documents_bucketed_table(
    spark: SparkSession, sf_dir: str | Path, n_buckets: int = 8
) -> str:
    """Materialize (or reuse) the doc_id-bucketed documents store; returns
    its catalog table name. The scheduled-compaction job
    (sinks/bucketed.py::compact_star_bucketed) calls this eagerly; the lazy
    loader below calls it on first read."""
    src = Path(sf_dir) / "documents.parquet"
    d = read_star_parquet(spark, src)
    return _materialized_bucketed(
        spark, src, d, "documents_by_id", "doc_id", n_buckets
    )


def load_documents_bucketed_by_id(
    spark: SparkSession, sf_dir: str | Path, n_buckets: int = 8
) -> DataFrame:
    """The documents payload store bucketed by ``doc_id`` — the layout a
    dedup/curation workload joins its id-lists (keep lists, candidate
    pairs, ANN results) back against. Bucket count guidance at scale:
    table_bytes / 256 MB (sinks/bucketed.py docstring)."""
    return spark.table(documents_bucketed_table(spark, sf_dir, n_buckets))


def documents_hash_bucketed_table(
    spark: SparkSession, sf_dir: str | Path, n_buckets: int = 8
) -> str:
    """Materialize (or reuse) the content-hash-bucketed (doc_id, text_hash)
    store; returns its catalog table name."""
    src = Path(sf_dir) / "documents.parquet"
    d = read_star_parquet(spark, src).select(
        "doc_id", F.md5(F.lower(F.trim("text"))).alias("text_hash")
    )
    return _materialized_bucketed(
        spark, src, d, "documents_by_hash", "text_hash", n_buckets
    )


def load_documents_bucketed_by_hash(
    spark: SparkSession, sf_dir: str | Path, n_buckets: int = 8
) -> DataFrame:
    """The dedup-workload layout: (doc_id, text_hash) bucketed by the
    16-byte content hash, so exact-dedup's groupBy(text_hash) needs NO
    Exchange at all — the write-time shuffle is amortized over every dedup
    pass. Per-workload layouts are the norm at 100 TB: the same table is
    stored once per dominant access key."""
    return spark.table(
        documents_hash_bucketed_table(spark, sf_dir, n_buckets)
    )


def lineitem_qty_bucketed_table(
    spark: SparkSession, sf_dir: str | Path, n_buckets: int = 8
) -> str:
    """Materialize (or reuse) the (l_orderkey, l_quantity) workload
    projection bucketed by ``l_orderkey``; returns its catalog table
    name."""
    src = Path(sf_dir) / "lineitem.parquet"
    l = read_star_parquet(spark, src).select("l_orderkey", "l_quantity")
    return _materialized_bucketed(
        spark, src, l, "lineitem_qty_by_okey", "l_orderkey", n_buckets
    )


def load_lineitem_qty_bucketed(
    spark: SparkSession, sf_dir: str | Path, n_buckets: int = 8
) -> DataFrame:
    """The order-profile layout for q18-class aggregates: lineitem's
    (l_orderkey, l_quantity) projection bucketed by the group key, so
    ``groupBy(l_orderkey)`` needs NO Exchange at all — the combine-decay
    shuffle (SCALING.md) is paid ONCE at write time and amortized over
    every per-order profile pass. The third point on the mitigation
    spectrum: original (decaying partial agg) -> ``_prepart`` twin (one
    linear shuffle per run) -> this layout (zero shuffles per run)."""
    return spark.table(lineitem_qty_bucketed_table(spark, sf_dir, n_buckets))


def lineitem_rev_bucketed_table(
    spark: SparkSession, sf_dir: str | Path, n_buckets: int = 8
) -> str:
    """Materialize (or reuse) the (l_returnflag, l_partkey, rev) workload
    projection bucketed by ``l_partkey``; returns its catalog table name.
    ``rev`` is the per-row revenue expression evaluated at write time —
    summing stored per-row values is identical to summing the expression."""
    src = Path(sf_dir) / "lineitem.parquet"
    l = read_star_parquet(spark, src).select(
        "l_returnflag",
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    return _materialized_bucketed(
        spark, src, l, "lineitem_rev_by_pkey", "l_partkey", n_buckets
    )


def load_lineitem_rev_bucketed(
    spark: SparkSession, sf_dir: str | Path, n_buckets: int = 8
) -> DataFrame:
    """The part-revenue layout for window_rank-class aggregates: lineitem's
    (l_returnflag, l_partkey, rev) projection bucketed by ``l_partkey``, so
    ``groupBy(l_returnflag, l_partkey)`` needs NO Exchange at all —
    hashpartitioning on l_partkey satisfies the aggregate's clustered
    distribution on (l_returnflag, l_partkey) because every row of a group
    shares one l_partkey value, hence one bucket. The write-time shuffle is
    paid ONCE and amortized over every per-part revenue pass — the third
    point on the combine-decay mitigation spectrum (SCALING.md): original
    (decaying partial agg) -> ``_prepart`` twin (one linear shuffle per
    run) -> this layout (zero wide shuffles per run)."""
    return spark.table(lineitem_rev_bucketed_table(spark, sf_dir, n_buckets))


def embeddings_bucketed_table(
    spark: SparkSession, sf_dir: str | Path, n_buckets: int = 8
) -> str:
    """Materialize (or reuse) the vec_id-bucketed embeddings store; returns
    its catalog table name."""
    src = Path(sf_dir) / "embeddings.parquet"
    e = load_embeddings(spark, sf_dir)
    return _materialized_bucketed(
        spark, src, e, "embeddings_by_id", "vec_id", n_buckets
    )


def load_embeddings_bucketed(
    spark: SparkSession, sf_dir: str | Path, n_buckets: int = 8
) -> DataFrame:
    """The embeddings payload store bucketed by ``vec_id`` (contract
    already applied — the layout stores only rows the engine will ever
    serve). ANN indexes hold ids; resolving ids to payload rows is a
    point-join against this store, Exchange-free on the store side."""
    return spark.table(embeddings_bucketed_table(spark, sf_dir, n_buckets))


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(
    spark: SparkSession, sf_dir: str | Path, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    base = Path(sf_dir)
    return {
        name: (
            load_events(spark, sf_dir)
            if name == "events"
            else read_star_parquet(spark, base / f"{name}.parquet")
        )
        for name in names
    }


def register_views(spark: SparkSession, sf_dir: str | Path) -> dict[str, DataFrame]:
    """Load + register temp views so queries can be written in SQL too."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
