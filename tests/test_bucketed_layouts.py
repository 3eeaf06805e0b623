"""Bucketed-layout loader contract (sources/star.py round-9 additions).

The loaders materialize a star table as a bucketed catalog table once per
(source path, mtime, bucket spec) and return it. Two production-bug
classes pinned here:

- STALENESS: regenerated source data must never be served from an old
  layout — the table name encodes the source file's mtime_ns, so new data
  resolves to a new table.
- REUSE: within a session, repeated loads of unchanged data must NOT
  rewrite (the whole point is amortizing the one-time shuffle).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from polars_ad_etl_spark.sources.star import (
    EMBEDDING_DIM,
    load_documents_bucketed_by_hash,
    load_documents_bucketed_by_id,
    load_embeddings_bucketed,
)


def _write_docs(spark, path, texts):
    spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_regenerated_source_is_never_served_stale(spark, tmp_path):
    sf = str(tmp_path)
    p = os.path.join(sf, "documents.parquet")
    _write_docs(spark, p, ["alpha", "beta"])
    first = load_documents_bucketed_by_id(spark, sf)
    assert sorted(r.text for r in first.collect()) == ["alpha", "beta"]
    # regenerate the source with different content; bump mtime in case the
    # rewrite lands within the filesystem timestamp granularity
    _write_docs(spark, p, ["gamma", "delta", "epsilon"])
    os.utime(p, (time.time() + 2, time.time() + 2))
    second = load_documents_bucketed_by_id(spark, sf)
    assert second.count() == 3
    assert sorted(r.text for r in second.collect()) == [
        "delta", "epsilon", "gamma",
    ]


def test_unchanged_source_reuses_the_materialized_table(spark, tmp_path):
    sf = str(tmp_path)
    p = os.path.join(sf, "documents.parquet")
    _write_docs(spark, p, ["one", "two", "two"])
    n_before = len(spark.catalog.listTables())
    a = load_documents_bucketed_by_hash(spark, sf)
    n_after_first = len(spark.catalog.listTables())
    b = load_documents_bucketed_by_hash(spark, sf)
    n_after_second = len(spark.catalog.listTables())
    assert n_after_first == n_before + 1
    assert n_after_second == n_after_first  # no second materialization
    assert a.count() == b.count() == 3
    # the hash layout carries the precomputed dedup key
    assert set(a.columns) == {"doc_id", "text_hash"}
    assert a.select(F.countDistinct("text_hash")).first()[0] == 2


def test_embeddings_store_applies_the_vector_contract(spark, tmp_path):
    sf = str(tmp_path)
    d = EMBEDDING_DIM
    rows = [
        (0, [0.1] * d, 1),
        (1, None, 1),          # vector-less row: excluded
        (2, [0.0] * d, 2),     # zero vector: excluded
        (3, [99.0] * d, 2),    # out of envelope: excluded
        (4, [0.1] * (d // 2), 2),  # ragged vector: excluded
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "embeddings.parquet")
    )
    store = load_embeddings_bucketed(spark, sf)
    assert [r.vec_id for r in store.collect()] == [0]


def test_compaction_job_prebuilds_and_loaders_reuse(spark, tmp_path):
    # The production path: a scheduled job materializes every layout after
    # ingest (sinks/bucketed.py::compact_star_bucketed); readers then find
    # the layout ready. Pin that (a) the job builds all three layouts, and
    # (b) the lazy loaders reuse the job's tables instead of re-shuffling.
    from polars_ad_etl_spark.sinks.bucketed import compact_star_bucketed
    from polars_ad_etl_spark.sources.star import load_embeddings_bucketed

    sf = str(tmp_path)
    _write_docs(spark, sf + "/documents.parquet", ["a", "b", "b"])
    spark.createDataFrame(
        [(0, [0.5] * EMBEDDING_DIM, 1), (1, [0.25] * EMBEDDING_DIM, 2)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(
        sf + "/embeddings.parquet"
    )

    tables = compact_star_bucketed(spark, sf, n_buckets=4)
    assert set(tables) == {
        "documents_by_id", "documents_by_hash", "embeddings_by_id",
    }
    for name in tables.values():
        assert spark.catalog.tableExists(name)

    n_after_job = len(spark.catalog.listTables())
    by_id = load_documents_bucketed_by_id(spark, sf, n_buckets=4)
    by_hash = load_documents_bucketed_by_hash(spark, sf, n_buckets=4)
    emb = load_embeddings_bucketed(spark, sf, n_buckets=4)
    # no loader created a new table: each resolved to the job's output
    assert len(spark.catalog.listTables()) == n_after_job
    assert by_id.count() == 3
    assert by_hash.select(F.countDistinct("text_hash")).first()[0] == 2
    assert emb.count() == 2
    # re-running the job against unchanged sources is also a no-op reuse
    assert compact_star_bucketed(spark, sf, n_buckets=4) == tables
    assert len(spark.catalog.listTables()) == n_after_job
