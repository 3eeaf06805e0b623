"""Streaming embedding admission: the vector sibling of the labeled
document ingest (streaming/documents.py::incremental_ingest_decisions) —
round-10 verdict task 4.

Production shape: new embedding vectors arrive continuously (the encoder's
output queue); each micro-batch is adjudicated against the persisted
corpus-side indexes before its vectors may extend the ANN index
(sinks/ann_index.py::append_ann_batch is the downstream consumer of the
admitted set). Two corpus-side indexes, both static stream-side joins:

- **exact layer**: the corpus's distinct vector content keys (md5 of the
  canonical array rendering) — a byte-identical re-encode of an existing
  vector is dropped without touching any geometry;
- **cosine layer**: the corpus's (sign-bucket, vector) index — the SAME
  sign-LSH blocking the batch delta path uses
  (operators/dedup.py::dedup_incremental_embedding_keep): bucket-equality
  candidates, exact cosine confirm at COSINE_DUP_THRESHOLD. Never
  all-pairs; the bucket index is the persisted artifact the compaction
  maintains.

Label precedence mirrors the document twin: ``exact_corpus`` >
``exact_batch`` (earlier arrival in this stream — lake-resident seen
index) > ``near_corpus`` > ``kept``. The batch path's ``near_batch``
(within-new-data component collapse) is deliberately the periodic batch
compaction's layer — the same lambda split as documents, pinned by
tests/test_streaming_embeddings.py::test_embedding_decisions_match_batch_labels.
Note the batch path has no separate exact layer: an exact twin has cosine
1.0 and lands in its near_* labels; the stream's exact layers are the
cheap pre-filter (16-byte key join instead of a vector-payload join) and
map onto the batch labels as exact_corpus -> near_corpus and
exact_batch -> near_batch/kept (the equivalence test applies that map).

Exactly-once: identical mechanics to the document twin — both sinks
partitioned by batch_id with PER-WRITE dynamic partition overwrite, and
the seen-index read filters to ``batch_id < current`` so a crash-replay of
the same micro-batch reproduces byte-identical decisions
(test_embedding_decisions_same_batch_replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_ad_etl_spark.functions.vectors import cosine_prenormed, norm
from polars_ad_etl_spark.operators.dedup import (
    COSINE_DUP_THRESHOLD,
    _bucket_expr,
    _vec_is_batch,
)
from polars_ad_etl_spark.sources.star import embedding_contract, load_embeddings
from polars_ad_etl_spark.streaming.events import _dir_has_parquet, _is_directory

_EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

EMB_DECISIONS_SCHEMA = "vec_id long, reason string, keep boolean"


def read_embeddings_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the embeddings parquet (in production: the
    encoder output queue — same downstream plan). Explicit schema,
    directory vs single-file layout probed like the other stream sources."""
    reader = spark.readStream.schema(_EMB_SCHEMA).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    path = f"{sf_dir}/embeddings.parquet"
    if _is_directory(spark, path):
        return reader.parquet(path)
    return reader.option("pathGlobFilter", "embeddings.parquet").parquet(
        str(sf_dir)
    )


def _vector_key(col) -> F.Column:
    """Content key of a vector: md5 of the canonical JVM array rendering —
    both sides of every comparison are Spark casts of the same float32
    values, so the key is deterministic without any float tolerance."""
    return F.md5(col.cast("string"))


def corpus_vector_indexes(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The two static corpus-side indexes: distinct vector content keys
    (exact layer) and the (bucket, vector) sign-LSH index (cosine layer).
    In production both are persisted tables the compaction maintains —
    the bucket index is exactly the blocking layout the batch delta path
    and the ANN family share; here they derive from the standard 80/20
    split so stream and batch agree vector for vector."""
    e = load_embeddings(spark, sf_dir).filter(~_vec_is_batch(F.col("vec_id")))
    corpus_vk = e.select(_vector_key(F.col("embedding")).alias("vk")).distinct()
    corpus_bv = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        _bucket_expr("embedding").alias("bucket"),
    )
    return corpus_vk, corpus_bv


def corpus_vector_indexes_persisted(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Materialized twin of :func:`corpus_vector_indexes` — the static
    side of a stream-static join is re-evaluated every micro-batch, so
    the derived indexes cost a corpus scan per trigger; this variant
    computes them once per (embeddings file, mtime) into the uid-keyed
    private cache (atomic publish) and serves parquet readers, the
    production compaction-maintained shape. Output-equivalent to the
    derived variant (pinned by tests/test_streaming_embeddings.py)."""
    import hashlib
    from pathlib import Path

    from polars_ad_etl_spark.cache import private_cache_root, publish_dir

    src = Path(f"{sf_dir}/embeddings.parquet")
    key = f"{src.resolve()}:{src.stat().st_mtime_ns}"
    root = private_cache_root("spark_graft_stream_indexes")
    out = root / f"vecs_{hashlib.md5(key.encode()).hexdigest()[:12]}"
    if not (out / "_PUBLISHED").exists():
        vk, bv = corpus_vector_indexes(spark, sf_dir)
        with publish_dir(out) as tmp:
            vk.write.mode("overwrite").parquet(str(tmp / "vk"))
            bv.write.mode("overwrite").parquet(str(tmp / "bv"))
            (tmp / "_PUBLISHED").write_text("", encoding="utf-8")
    return (
        spark.read.parquet(str(out / "vk")),
        spark.read.parquet(str(out / "bv")),
    )


def _admit_vec_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_vk: DataFrame,
    corpus_bv: DataFrame,
    out_dir: str,
    seen_dir: str,
) -> None:
    """One micro-batch of the labeled vector admission — module-level for
    direct replay testing, mirroring documents._admit_batch. Layer order:
    exact_corpus (key join) > exact_batch (seen-index/within-batch key
    window) > near_corpus (bucket join + exact cosine) > kept. The cosine
    layer runs only for rows that survived both exact layers — the bulk of
    a duplicate-heavy stream never pays for the vector join."""
    from pyspark.sql import Window as W

    spark = batch_df.sparkSession
    s = (
        batch_df.where(embedding_contract())
        .filter(_vec_is_batch(F.col("vec_id")))
        .select("vec_id", "embedding", _vector_key(F.col("embedding")).alias("vk"))
    )
    # First-batch detection is an EXPLICIT directory probe (round-11
    # advice, low): only a missing/empty seen-index directory falls back
    # to the empty frame. A transient IO/permission failure mid-stream
    # must propagate — swallowing it would yield an empty seen set and
    # permanently mislabel exact_batch duplicates as kept.
    if _dir_has_parquet(spark, seen_dir):
        seen = (
            spark.read.parquet(seen_dir)
            .where(F.col("batch_id") < int(batch_id))
            .select("vk")
            .distinct()
        )
    else:  # first batch: no adjudicated-key index yet
        seen = spark.createDataFrame([], "vk string")
    w = W.partitionBy("vk").orderBy("vec_id")
    s = s.withColumn("rn", F.row_number().over(w))
    s = s.join(
        corpus_vk.select("vk", F.lit(1).alias("in_corpus")), "vk", "left_outer"
    )
    s = s.join(seen.select("vk", F.lit(1).alias("in_seen")), "vk", "left_outer")
    survivors = s.filter(
        F.col("in_corpus").isNull() & F.col("in_seen").isNull() & (F.col("rn") == 1)
    ).select(
        "vec_id",
        "embedding",
        _bucket_expr("embedding").alias("bucket"),
        # per-vector norms once per side (not per candidate pair); the
        # corpus norm is projected at read time so the persisted index
        # schema is untouched
        norm("embedding").alias("en"),
    )
    near = (
        survivors.join(
            corpus_bv.withColumn("cen", norm("ce")), "bucket"
        )
        .filter(
            F.round(
                cosine_prenormed(
                    "embedding", "ce",
                    F.col("en"), F.col("cen")
                ),
                4,
            )
            >= COSINE_DUP_THRESHOLD
        )
        .select("vec_id")
        .distinct()
        .withColumn("near_c", F.lit(1))
    )
    s = s.join(near, "vec_id", "left_outer")
    reason = (
        F.when(F.col("in_corpus").isNotNull(), F.lit("exact_corpus"))
        .when(
            F.col("in_seen").isNotNull() | (F.col("rn") > 1),
            F.lit("exact_batch"),
        )
        .when(F.col("near_c").isNotNull(), F.lit("near_corpus"))
        .otherwise(F.lit("kept"))
    )
    decisions = s.select(
        "vec_id",
        reason.alias("reason"),
        (reason == "kept").alias("keep"),
        F.lit(int(batch_id)).alias("batch_id"),
    ).localCheckpoint(eager=True)
    (
        decisions.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )
    # Like the document twin, the seen-index records EVERY adjudicated
    # content key, not only the kept ones: a later exact twin of a
    # near_corpus-dropped vector must still label exact_batch (the earlier
    # arrival adjudicated that content) instead of re-running the
    # vector join.
    (
        batch_df.where(embedding_contract())
        .filter(_vec_is_batch(F.col("vec_id")))
        .select(_vector_key(F.col("embedding")).alias("vk"))
        .distinct()
        .withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(seen_dir)
    )


def embedding_ingest_decisions(
    emb_stream: DataFrame,
    corpus_vk: DataFrame,
    corpus_bv: DataFrame,
    out_dir: str,
    seen_dir: str,
    checkpoint: str,
):
    """The labeled streaming admission pipeline for embedding vectors: one
    keep/drop decision per new-batch vector per micro-batch, exactly-once
    via batch_id-partitioned dynamic overwrite; see the module docstring
    for layers, labels, and the lambda split."""

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        _admit_vec_batch(
            batch_df, batch_id, corpus_vk, corpus_bv, out_dir, seen_dir
        )

    return (
        emb_stream.writeStream.outputMode("append")
        .foreachBatch(admit)
        .option("checkpointLocation", checkpoint)
        .start()
    )
