"""Similarity search over the ``embeddings`` table (``array<float>``, 64-dim).

Two paths, mirroring how ANN is actually deployed:

- **Brute-force cosine top-k** — the exactness baseline. Query side is tiny
  and broadcast; the candidate scan is embarrassingly parallel. At 100 TB
  this is the per-bucket inner loop, not the global strategy.
- **Sign-LSH bucketed top-k** — the scale path: 8 deterministic +-1
  hyperplanes hash every vector into one of 256 buckets; search compares only
  within the query's bucket (a bucket equi-join). Recall trades against the
  number of planes/tables; the bucketing is a plain groupable integer so the
  whole thing shuffles once on (bucket).

Scores are rounded to 4 decimals in both engines (summation-order noise is
~1e-12; ranking tie-breaks on neighbor id), which makes the top-k fully
deterministic and oracle-checkable.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from polars_ad_etl_spark.functions.vectors import (
    cosine,
    cosine_prenormed,
    hyperplane_signs,
    norm,
    signed_projection,
)
from polars_ad_etl_spark.operators.registry import register
from polars_ad_etl_spark.sources.star import EMBEDDING_DIM, load_embeddings

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 10
N_PLANES = 8
DIM = EMBEDDING_DIM

_COS_SQL = (
    "round(list_dot_product(qe, ce) / "
    "(sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))), 4)"
)


@register(
    "sim_bruteforce_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings),
    scored AS (
        SELECT qid, cid, {_COS_SQL} AS cos
        FROM q CROSS JOIN c
        WHERE cid != qid
    ),
    ranked AS (
        SELECT qid AS query_id, cid AS neighbor_id, cos AS cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
    """,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k per query, two-phase (salted) final ranking.

    The scoring scan is embarrassingly parallel (query side broadcast), but
    a single window PARTITION BY query_id over the scored relation would
    shuffle |corpus| x |queries| rows into |queries| (= 8) partitions —
    at 100x corpus each of 8 tasks sorts the whole corpus, a straggler by
    construction. Same fix as :func:`polars_ad_etl_spark.operators.
    relational.window_rank_parts_by_revenue`: phase 1 ranks within
    (query_id, neighbor_id % 64) — 512-way parallel — and keeps each salt
    bucket's top-k; phase 2 ranks the <= |queries| * 64 * k survivors.
    Exact: (cosine DESC, neighbor_id) is a total order per query, a salt
    bucket's competitors are a subset of the query's competitors, so every
    global top-k row has salt-local row_number <= k and survives phase 1."""
    e = load_embeddings(spark, sf_dir)
    # Norms are per-vector: compute them once per side (|Q| + |C| evals)
    # instead of once per scored pair (|Q| x |C|) — guide §1.2. The scoring
    # expression dot/(qn*cn) is the identical IEEE tree, so scores are
    # bit-equal (pinned in tests/test_vectors_prenormed.py).
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm("embedding").alias("qn"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        norm("embedding").alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenormed(
                    "qe", "ce", F.col("qn"), F.col("cn")
                ),
                4,
            ).alias("cosine"),
        )
    )
    order = (F.col("cosine").desc(), F.col("neighbor_id"))
    w_local = W.partitionBy(
        "query_id", (F.col("neighbor_id") % 64).alias("salt")
    ).orderBy(*order)
    pruned = (
        scored.withColumn("lrnk", F.row_number().over(w_local))
        .filter(F.col("lrnk") <= TOP_K)
        .drop("lrnk")
    )
    w = W.partitionBy("query_id").orderBy(*order)
    return (
        pruned.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


# ------------------------------------------------------------ sign-LSH path
_PLANES = [hyperplane_signs(p, DIM) for p in range(N_PLANES)]


def _planes_bucket_sql(col: str, planesets: list[list[int]]) -> str:
    """Spark-SQL text of a sign-LSH bucket id over literal hyperplanes —
    the parser yields the identical Catalyst tree the Column-API form
    builds (CASE WHEN dot >= 0 THEN 2^p ELSE 0 END summed left-
    associative, CAST AS INT; equality pinned in
    tests/test_vectors_prenormed.py), in ONE py4j round-trip instead of
    ~6 per plane plus one per literal element (guide §7.3 — do not build
    gigantic expression trees node by node on the driver)."""
    from polars_ad_etl_spark.functions.vectors import _dot_sql, signs_sql

    terms = " + ".join(
        f"(CASE WHEN {_dot_sql(col, signs_sql(ps))} >= 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p, ps in enumerate(planesets)
    )
    return f"CAST({terms} AS INT)"


def _bucket_expr(emb: F.Column | str) -> F.Column:
    """256-way bucket id: bit p set when dot(emb, plane_p) >= 0."""
    if isinstance(emb, str):
        return F.expr(_planes_bucket_sql(emb, _PLANES))
    bits = [
        F.when(signed_projection(emb, _PLANES[p]) >= 0, F.lit(1 << p)).otherwise(0)
        for p in range(N_PLANES)
    ]
    return functools.reduce(lambda a, b: a + b, bits).cast("int")


# NULL-GUARD CONTRACT for every bucket-sql helper below: the whole
# expression is wrapped in CASE WHEN {col} IS NOT NULL. DuckDB's
# list_inner_product kernel raises on NULL-containing input batches, and
# whether a whole-NULL row ever REACHES the kernel is a plan-shape accident
# — measured round 9: the same expression over the same contract-filtered
# CTE ran clean standalone but crashed inside a self-join, where the
# optimizer evaluated the projection on pre-filter batches. The CASE's
# selection vector excludes NULL rows inside the kernel regardless of plan
# shape; results are unchanged (NULL embedding -> NULL bucket, and such
# rows are contract-excluded relationally anyway).
def _null_guarded(col: str, expr: str) -> str:
    return f"(CASE WHEN {col} IS NOT NULL THEN {expr} END)"


def _bucket_sql(col: str) -> str:
    terms = []
    for p in range(N_PLANES):
        arr = "[" + ", ".join(f"{s}.0" for s in _PLANES[p]) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product({col}::DOUBLE[], {arr}) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return _null_guarded(col, "CAST(" + " + ".join(terms) + " AS INT)")


# Named so layout_twins.py can compose it (payload-fetch twin); the
# registry entry below uses the identical text.
LSH_TOPK_SQL = f"""
    WITH bucketed AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               {_bucket_sql('embedding')} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, e AS qe, bucket FROM bucketed WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS cid, e AS ce, bucket FROM bucketed),
    scored AS (
        SELECT qid, cid,
               round(list_dot_product(qe, ce) /
                     (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))), 4) AS cos
        FROM q JOIN c USING (bucket)
        WHERE cid != qid
    ),
    ranked AS (
        SELECT qid AS query_id, cid AS neighbor_id, cos AS cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
    """


@register("sim_lsh_bucketed_topk", oracle=LSH_TOPK_SQL)
def sim_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.
    The bucket id is computed in one projection (no shuffle), and the
    candidate join is a plain equi-join on a small int key."""
    e = load_embeddings(spark, sf_dir)
    bucketed = e.select(
        "vec_id", "embedding", _bucket_expr("embedding").alias("bucket")
    )
    q = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm("embedding").alias("qn"),
        "bucket",
    )
    c = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        norm("embedding").alias("cn"),
        "bucket",
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenormed("qe", "ce", F.col("qn"), F.col("cn")),
                4,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


# Multiprobe: in addition to the query's own bucket, probe every bucket at
# Hamming distance 1 in sign space (flip one of the 8 plane bits). The
# standard recall lever (Lv et al. 2007, "Multi-Probe LSH") — a near
# neighbor that lands one hyperplane-sign away is found WITHOUT adding
# hash tables (compare [[sim_lsh_multitable_topk]], which pays a full
# extra signature per table). Probe set = 1 + N_PLANES buckets per query.
_PROBE_FLIPS = [0] + [1 << p for p in range(N_PLANES)]

LSH_MULTIPROBE_SQL = f"""
    WITH bucketed AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               {_bucket_sql('embedding')} AS bucket
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS qid, e AS qe, xor(bucket, flip) AS probe_bucket
        FROM bucketed, (SELECT unnest({_PROBE_FLIPS}) AS flip)
        WHERE vec_id < {N_QUERIES}
    ),
    c AS (SELECT vec_id AS cid, e AS ce, bucket FROM bucketed),
    scored AS (
        SELECT qid, cid,
               round(list_dot_product(qe, ce) /
                     (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))), 4) AS cos
        FROM q JOIN c ON c.bucket = q.probe_bucket
        WHERE cid != qid
    ),
    ranked AS (
        SELECT qid AS query_id, cid AS neighbor_id, cos AS cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
    """


@register("sim_lsh_topk_multiprobe", oracle=LSH_MULTIPROBE_SQL)
def sim_lsh_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe sign-LSH top-k: the query side fans out to its own bucket
    plus the {N_PLANES} Hamming-1 neighbors (one bit-flip each), then the
    same bucket equi-join as [[sim_lsh_bucketed_topk]]. A candidate lives
    in exactly one bucket and the probe buckets of one query are distinct,
    so no candidate is scored twice — no dedup step needed.

    Scale (100 TB): the fan-out multiplies only the QUERY side (tiny,
    broadcast) by 1 + N_PLANES; the corpus side is still scanned once and
    joined on a small int key. Recall rises toward multitable LSH at zero
    extra signature cost — the probe set is a projection, not a new hash
    family."""
    e = load_embeddings(spark, sf_dir)
    bucketed = e.select(
        "vec_id", "embedding", _bucket_expr("embedding").alias("bucket")
    )
    q = (
        bucketed.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            norm("embedding").alias("qn"),
            F.explode(
                F.array(*[F.lit(f) for f in _PROBE_FLIPS])
            ).alias("flip"),
            "bucket",
        )
        .select(
            "query_id",
            "qe",
            "qn",
            F.col("bucket").bitwiseXOR(F.col("flip")).alias("probe_bucket"),
        )
    )
    c = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        norm("embedding").alias("cn"),
        "bucket",
    )
    scored = (
        c.join(F.broadcast(q), c["bucket"] == q["probe_bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenormed("qe", "ce", F.col("qn"), F.col("cn")),
                4,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


# ----------------------------------------------------------- IVF probe
NPROBE = 3


def _label_centroid_arrays(e: DataFrame) -> DataFrame:
    """Per-label centroid as array<double> (dims ascending) — the coarse
    quantizer shared by sim_ivf_probe_topk and sim_ann_recall_curve. Exact
    floor-quantized integer means (see embedding_label_centroids) so both
    engines agree bit-for-bit.

    Round 13 (guide §2.3/§2.4): ONE groupBy(label) with DIM plain SUM
    aggregates replaces the posexplode -> groupBy(label, dim) ->
    groupBy(label) two-exchange shape — no 64x row explosion, one tiny
    exchange of (label, 64 longs, count) partials, and every sum is a
    codegen'd long aggregate instead of rows through two hash maps. The
    per-dim arithmetic is the identical expression sequence
    (sum(floor(v * 1e9) as long) cast double / 1e9 / count), so the result
    is bit-for-bit the same as the exploded form and the oracle.
    ``try_element_at`` (1-based) mirrors the oracle's generate_series
    indexing and never raises under ANSI on a short vector. Both stages
    are built as ONE ``F.expr`` string each (guide §7.3 via vectors.py:
    construction is driver wall time; 64 Column-built sums cost ~850 py4j
    round-trips, measured 1.0 s of the query's 1.9 s wall)."""
    sums = ", ".join(
        f"sum(cast(floor(cast(try_element_at(embedding, {i + 1}) as double)"
        f" * 1e9) as bigint)) as _s{i}"
        for i in range(DIM)
    )
    agged = e.groupBy("label").agg(
        F.expr(f"struct({sums}, count(*) as _n)").alias("_a")
    )
    ce = (
        "array("
        + ", ".join(
            f"cast(_a._s{i} as double) / 1e9 / _a._n" for i in range(DIM)
        )
        + ")"
    )
    return agged.select("label", F.expr(ce).alias("ce"))

_CENT_SQL = """
    SELECT label, list(c ORDER BY dim) AS ce FROM (
        SELECT label, i - 1 AS dim,
               CAST(SUM(CAST(FLOOR(embedding[i]::DOUBLE * 1e9) AS BIGINT)) AS DOUBLE)
                   / 1e9 / COUNT(*) AS c
        FROM embeddings, generate_series(1, 64) AS t(i)
        GROUP BY label, i
    ) GROUP BY label
"""

_QCENT_COS_SQL = (
    "round(list_dot_product(qe, ce) / "
    "(sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))), 4)"
)
_QCAND_COS_SQL = (
    "round(list_dot_product(qe, ce2) / "
    "(sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce2, ce2))), 4)"
)


@register(
    "sim_ivf_probe_topk",
    oracle=f"""
    WITH cent AS ({_CENT_SQL}),
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
          FROM embeddings WHERE vec_id < {N_QUERIES}),
    probe AS (
        SELECT qid, label,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY {_QCENT_COS_SQL} DESC, label) AS pr
        FROM q CROSS JOIN cent
    ),
    probed AS (SELECT qid, label FROM probe WHERE pr <= {NPROBE}),
    cand AS (SELECT label, vec_id AS cid, embedding::DOUBLE[] AS ce2
             FROM embeddings),
    scored AS (
        SELECT qid, cid, {_QCAND_COS_SQL} AS cos
        FROM probed JOIN q USING (qid) JOIN cand USING (label)
        WHERE cid != qid
    ),
    ranked AS (
        SELECT qid AS query_id, cid AS neighbor_id, cos AS cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
    """,
)
def sim_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: the scale path beyond one-shot LSH.

    The ``label`` column plays the role of a precomputed coarse-quantizer
    assignment (exactly how IVF indexes store cluster ids alongside
    vectors). Search is two-stage: (1) rank the per-label centroids against
    each query and keep the NPROBE nearest lists; (2) exact cosine top-k
    *only inside the probed lists* — a broadcast equi-join on the list id,
    never a full scan. At 100 TB the candidate side stays partitioned by
    list id, so each query touches NPROBE partitions; recall is tuned by
    NPROBE, entirely in the query (the index is just a column).

    Centroids use the same exact floor-quantized mean as
    ``embedding_label_centroids`` so both engines agree bit-for-bit."""
    e = load_embeddings(spark, sf_dir)
    return _ivf_probe_topk_impl(e, _label_centroid_arrays(e))


def _ivf_probe_topk_impl(e: DataFrame, cent: DataFrame) -> DataFrame:
    """The query phase of IVF probing, parameterized over the centroid
    source: recomputed per call (``sim_ivf_probe_topk``) or read from the
    persisted index (``similarity_indexed.sim_ivf_probe_topk_indexed``) —
    one implementation so the twins stay bit-identical."""
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        norm("embedding").alias("qn"),
    )
    centn = cent.withColumn("cenorm", norm("ce"))
    probe = q.crossJoin(F.broadcast(centn)).select(
        "qid",
        "label",
        "qe",
        "qn",
        F.round(
            cosine_prenormed("qe", "ce", F.col("qn"), F.col("cenorm")),
            4,
        ).alias("ccos"),
    )
    wp = W.partitionBy("qid").orderBy(F.col("ccos").desc(), "label")
    probed = (
        probe.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= NPROBE)
        .select("qid", "label", "qe", "qn")
    )
    cand = e.select(
        "label",
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce2"),
        norm("embedding").alias("cn2"),
    )
    scored = (
        cand.join(F.broadcast(probed), "label")
        .filter(F.col("cid") != F.col("qid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbor_id"),
            F.round(
                cosine_prenormed("qe", "ce2", F.col("qn"), F.col("cn2")),
                4,
            ).alias("cosine"),
        )
    )
    wr = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return scored.withColumn("rnk", F.row_number().over(wr)).filter(
        F.col("rnk") <= TOP_K
    )


# ------------------------------------------------------------- centroids
@register(
    "embedding_label_centroids",
    oracle="""
    SELECT label, i - 1 AS dim,
           CAST(SUM(CAST(FLOOR(embedding[i]::DOUBLE * 1e9) AS BIGINT)) AS DOUBLE)
               / 1e9 / COUNT(*) AS centroid
    FROM embeddings, generate_series(1, 64) AS t(i)
    GROUP BY label, i
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension) — the k-means /
    IVF coarse-quantizer building block. posexplode keeps it one shuffle on
    (label, dim) with map-side partial sums. Elements are quantized with
    floor(v * 1e9) and summed as exact integers: decimal CASTs of doubles
    round half-up in one engine and half-even in the other at tie values,
    but floor is identical everywhere — so the centroid is independent of
    both row order and engine."""
    e = load_embeddings(spark, sf_dir)
    scaled = F.floor(F.col("v").cast("double") * 1e9).cast("long")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            (F.sum(scaled).cast("double") / F.lit(1e9) / F.count("*"))
            .alias("centroid")
        )
    )


# ------------------------------------------------------------ k-means (Lloyd)
KMEANS_K = 8
KMEANS_MAX_ITER = 8
KMEANS_TOL = 1e-4


def _dlit(v: float) -> str:
    """One double literal: repr round-trips finite IEEE values exactly via
    the ``D`` suffix; non-finite values (a NaN component poisons a centroid
    mean) have no literal form and must be CAST from string — repr would
    render 'nanD', which the parser reads as an identifier and fails on."""
    v = float(v)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{v!r}D"


def _l2sq_sql(vec_sql: str, centroid: list[float]) -> str:
    """Double squared L2 distance to a literal centroid as a SQL string.
    ``repr(float)`` is the shortest round-trip decimal, and Spark's ``D``
    double literal parses it back to the identical IEEE value, so the
    literals match F.lit(float(v)) bit for bit."""
    carr = "array(" + ",".join(_dlit(v) for v in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {carr}, (x, y) -> "
        "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def kmeans_assign(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Assign each vector to its nearest centroid. The centroids ride the
    plan as literal arrays (K x D doubles — always driver-sized), so the
    assignment is a scan-local projection: no join, no shuffle, no growing
    lineage across iterations. Built as one parsed SQL string (see the
    section comment above _sq_dist_sql). The let-binding guarantees the
    distance array evaluates once WITHIN each output expression; the
    cluster and sse outputs are two copies of that expression (same shape
    as the Column-built original), deduplicated across outputs by codegen
    subexpression elimination.

    With no centroids (empty training input), the assignment is typed
    NULLs — df is necessarily empty too, so no row ever carries them."""
    if not centroids:
        return df.select(
            "vec_id",
            "embedding",
            F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("double").alias("sse"),
        )
    dists = ", ".join(_l2sq_sql("s", c) for c in centroids)
    nearest = (
        "transform(array(embedding), s -> "
        f"transform(array(array({dists})), d -> struct("
        "CAST(array_position(d, array_min(d)) - 1 AS INT) AS cluster, "
        "array_min(d) AS sse))[0])[0]"
    )
    return df.select(
        "vec_id",
        "embedding",
        F.expr(f"({nearest}).cluster").alias("cluster"),
        F.expr(f"({nearest}).sse").alias("sse"),
    )


def kmeans_train(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    max_iter: int = KMEANS_MAX_ITER,
    tol: float = KMEANS_TOL,
) -> tuple[list[list[float]], list[float]]:
    """Deterministic Lloyd k-means over the embeddings table — the trainer
    for an IVF coarse quantizer (sim_ivf_probe_topk uses the label
    quantizer; this builds one from scratch).

    Init is hash-deterministic (k smallest md5(vec_id) vectors), so runs,
    engines, and partitionings all converge identically — the same
    reproducibility stance as the curation operators. Per iteration ONE
    aggregate computes both the new centroids and the total SSE: posexplode
    to (cluster, dim) — map-side combinable, K*D output rows — and the SSE
    summed once per vector on dim 0. Returns (centroids, sse_history);
    stops on relative SSE improvement < tol."""
    from polars_ad_etl_spark.functions.hashing import portable_hash32

    e = load_embeddings(spark, sf_dir).select(
        "vec_id", "embedding"
    )
    init = (
        e.select(
            "vec_id",
            "embedding",
            portable_hash32(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )
    centroids = [[float(x) for x in r.embedding] for r in init]
    if not centroids:  # empty table: no clusters, no iterations to run
        return [], []
    history: list[float] = []
    for _ in range(max_iter):
        assigned = kmeans_assign(e, centroids)
        rows = (
            assigned.select(
                "cluster", "sse", F.posexplode("embedding").alias("pos", "v")
            )
            .groupBy("cluster", "pos")
            .agg(
                F.avg(F.col("v").cast("double")).alias("m"),
                F.sum(F.when(F.col("pos") == 0, F.col("sse"))).alias("sse_part"),
            )
            .collect()
        )
        sse = sum(r.sse_part for r in rows if r.pos == 0 and r.sse_part is not None)
        new_centroids = [list(c) for c in centroids]  # empty cluster keeps old
        for r in rows:
            new_centroids[r.cluster][r.pos] = r.m
        centroids = new_centroids
        if history and history[-1] > 0 and (history[-1] - sse) / history[-1] < tol:
            history.append(sse)
            break
        history.append(sse)
    return centroids, history


# ------------------------------------- integer-exact fixed-iteration Lloyd
# Quantization for cross-engine bit-exactness: q = floor(v * 1e6) + OFFSET.
# floor of a double is identical on every IEEE engine; OFFSET keeps every
# quantized value non-negative so integer division is floor division on both
# Spark ("div") and DuckDB ("//"). |q - c| <= 4e6, so a squared term is
# <= 1.6e13 and a 64-dim distance <= ~1e15 — exact in int64 AND in double.
KMEANS_Q_SCALE = 1_000_000
KMEANS_Q_OFFSET = 2_000_000


def _quantized(df: DataFrame) -> DataFrame:
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * KMEANS_Q_SCALE).cast("long")
        + F.lit(KMEANS_Q_OFFSET),
    )
    return df.select("vec_id", q.alias("qe"))


# Centroid-literal expression trees are built as ONE SQL string handed to
# the parser, not composed Column-by-Column: a K x D codebook composed via
# F.array/F.lit/zip_with lambdas costs thousands of py4j round-trips (each
# lambda is its own JVM conversion), measured at 4-12s of pure driver time
# per sim_pq_*/kmeans query at sf0.1 while the cluster executed in ~2s. The
# parser ingests the same tree from a string in milliseconds. The generated
# SQL is semantically identical (same literals, same aggregate/zip_with
# shape, same first-match argmin tie-break), so results stay bit-identical
# — pinned by test_sql_built_argmin_matches_column_built and by every
# sim_*/kmeans DuckDB oracle hash.


def _sq_dist_sql(vec_sql: str, centroid: list[int]) -> str:
    """Exact integer squared L2 distance of ``vec_sql`` to a literal
    centroid, as a SQL expression string."""
    carr = "array(" + ",".join(str(int(v)) for v in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {carr}, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _nearest_sql(vec_sql: str, centroids: list[list[int]]) -> str:
    """Nearest-centroid id (lowest-index tie-break) as a SQL string. The
    vector and the distance array are let-bound via single-element
    ``transform`` so each evaluates exactly once (the CollapseProject
    lambda-inlining trap — see dedup._SHINGLES_SPARK — applies to any
    expression referenced more than once).

    An empty codebook (only reachable when the training table itself was
    empty, so every downstream row is filtered anyway) yields a typed NULL
    instead of an un-analyzable empty ``array()`` literal."""
    if not centroids:
        return "CAST(NULL AS INT)"
    dists = ", ".join(_sq_dist_sql("s", c) for c in centroids)
    return (
        f"transform(array({vec_sql}), s -> "
        f"transform(array(array({dists})), d -> "
        "CAST(array_position(d, array_min(d)) - 1 AS INT))[0])[0]"
    )


def _assign_quantized(q: DataFrame, centroids: list[list[int]]) -> DataFrame:
    return q.select(
        "vec_id",
        "qe",
        F.expr(_nearest_sql("qe", centroids)).alias("cluster"),
    )


def kmeans_fixed(
    spark: SparkSession, sf_dir: str, k: int = KMEANS_K, iters: int = 2
) -> tuple[list[list[int]], DataFrame]:
    """Fixed-iteration Lloyd in exact integer arithmetic — every step
    (quantize, distance, argmin with lowest-index tie-break, floor-divided
    centroid update) is bit-identical across engines, which is what makes
    ``sim_kmeans_clusters`` oracle-checkable instead of rows-only. The
    tolerance-based double-precision trainer (:func:`kmeans_train`) remains
    the production path; this is its verification twin with identical
    structure. Returns (final integer centroids, quantized DataFrame)."""
    q = _quantized(
        load_embeddings(spark, sf_dir).select(
            "vec_id", "embedding"
        )
    )
    return _kmeans_fixed_on(q, k, iters), q


def _kmeans_fixed_on(q: DataFrame, k: int, iters: int) -> list[list[int]]:
    """The Lloyd loop of :func:`kmeans_fixed`, over any (vec_id, qe)
    frame — also reused per-subspace by product quantization."""
    from polars_ad_etl_spark.functions.hashing import portable_hash32

    init = (
        q.select(
            "vec_id", "qe", portable_hash32(F.col("vec_id").cast("string")).alias("h")
        )
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )
    centroids = [[int(x) for x in r.qe] for r in init]
    if not centroids:  # empty table: no clusters, no iterations to run
        return []
    for _ in range(iters):
        assigned = _assign_quantized(q, centroids)
        rows = (
            assigned.select("cluster", F.posexplode("qe").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new_centroids = [list(c) for c in centroids]  # empty cluster keeps old
        for r in rows:
            new_centroids[r.cluster][r.pos] = int(r.s) // int(r.n)
        centroids = new_centroids
    return centroids


def _kmeans_oracle_sql(
    k: int = KMEANS_K,
    iters: int = 2,
    dims: int = 64,
    dim_offset: int = 0,
    output: str = "assign",
    train_where: str | None = None,
) -> str:
    """Unrolled fixed-iteration Lloyd as DuckDB SQL, mirroring
    :func:`kmeans_fixed` step for step in the same exact integer arithmetic.
    Intermediate HUGEINT sums are harmless (only compared/divided, never in
    the output schema). ``dims``/``dim_offset`` select a subspace slice —
    the product-quantization reuse. ``output='centroids'`` returns the final
    (cluster, dim, cq) codebook instead of the assignment (the PQ-ADC
    oracle needs both). ``train_where`` restricts TRAINING (init + Lloyd
    iterations) to a subset of the vectors while the final assignment still
    covers all of them — the incremental-index oracle, where centroids are
    frozen on the corpus half and new-batch vectors are assigned to the
    frozen cells (sinks/ann_index.py::append_ann_batch)."""
    from polars_ad_etl_spark.functions.hashing import portable_hash32_sql

    h = portable_hash32_sql("vec_id::VARCHAR")
    emb = (
        "embedding"
        if dim_offset == 0 and dims == DIM
        else f"embedding[{dim_offset + 1}:{dim_offset + dims}]"
    )
    sql = f"""
    WITH q AS (
        SELECT vec_id,
               list_transform({emb},
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {KMEANS_Q_SCALE}) AS BIGINT)
                        + {KMEANS_Q_OFFSET}) AS qe
        FROM embeddings
    ),"""
    tq = "q"
    if train_where is not None:
        tq = "qt"
        sql += f"""
    qt AS (SELECT * FROM q WHERE {train_where}),"""
    sql += f"""
    c0 AS (
        SELECT cluster, t.dim - 1 AS dim, qe[t.dim] AS cq
        FROM (
            SELECT qe, row_number() OVER (ORDER BY {h}, vec_id) - 1 AS cluster
            FROM {tq} QUALIFY cluster < {k}
        ), generate_series(1, {dims}) AS t(dim)
    )"""
    prev = "c0"
    for i in range(1, iters + 1):
        sql += f""",
    d{i} AS (
        SELECT v.vec_id, c.cluster,
               SUM((v.qe[c.dim + 1] - c.cq) * (v.qe[c.dim + 1] - c.cq)) AS dist
        FROM {tq} v CROSS JOIN {prev} c
        GROUP BY v.vec_id, c.cluster
    ),
    a{i} AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM d{i}
        ) WHERE rn = 1
    ),
    c{i} AS (
        SELECT p.cluster, p.dim,
               CAST(COALESCE(u.cq, p.cq) AS BIGINT) AS cq
        FROM {prev} p LEFT JOIN (
            SELECT a.cluster, t.dim - 1 AS dim,
                   CAST(SUM(v.qe[t.dim]) // COUNT(*) AS BIGINT) AS cq
            FROM a{i} a JOIN {tq} v USING (vec_id),
                 generate_series(1, {dims}) AS t(dim)
            GROUP BY a.cluster, t.dim
        ) u ON u.cluster = p.cluster AND u.dim = p.dim
    )"""
        prev = f"c{i}"
    if output == "centroids":
        sql += f"""
    SELECT CAST(cluster AS INTEGER) AS cluster, dim, cq FROM {prev}
    """
        return sql
    sql += f""",
    dF AS (
        SELECT v.vec_id, c.cluster,
               SUM((v.qe[c.dim + 1] - c.cq) * (v.qe[c.dim + 1] - c.cq)) AS dist
        FROM q v CROSS JOIN {prev} c
        GROUP BY v.vec_id, c.cluster
    )
    SELECT vec_id, CAST(cluster AS INTEGER) AS cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM dF
    ) WHERE rn = 1
    """
    return sql


@register("sim_kmeans_clusters", oracle=_kmeans_oracle_sql())
def sim_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final k-means assignment (vec_id -> cluster) after a FIXED number of
    Lloyd iterations in exact integer arithmetic (see :func:`kmeans_fixed`).
    Fixed iterations + quantized math make the iterative algorithm fully
    SQL-expressible, so this carries a real DuckDB oracle (unrolled Lloyd)
    instead of the round-1 rows-only check. The tolerance-stopped
    double-precision trainer is exercised by tests/test_properties.py."""
    centroids, q = kmeans_fixed(spark, sf_dir)
    return _assign_quantized(q, centroids).select("vec_id", "cluster")


# ------------------------------------------------------------- SemDeDup
# Semantic deduplication (Abbas et al. 2023, "SemDeDup"): k-means-cluster the
# embedding space, then prune near-duplicate *pairs only within a cluster* —
# the cluster assignment bounds the candidate set, so the all-pairs O(n^2)
# never happens globally. At 100 TB the cluster count k grows with N so the
# per-cluster member count (and hence the within-cluster pair expansion,
# O(sum c_i^2)) stays bounded; the join below shuffles once on the integer
# cluster key. A vector is removed when any SMALLER-id vector in its cluster
# has cosine >= tau — the same deterministic pairwise reduction used by
# dedup_near_dup_keep_list, which makes the keep decision order-free.
#
# Exactness: cosine(tau) is evaluated in integer arithmetic on the SAME
# quantized vectors k-means used (dot > 0 AND den*dot^2 >= num*|a|^2*|b|^2
# with tau^2 = num/den), so Spark and DuckDB agree bit-for-bit — no float
# rounding anywhere in the predicate. Intermediate products reach ~1e29, so
# both sides widen: DECIMAL(38,0) in Spark, HUGEINT in DuckDB.

SEMDEDUP_TAU2_NUM = 81  # tau = 0.45 -> tau^2 = 81/400 exactly
SEMDEDUP_TAU2_DEN = 400


def _unoffset(col: F.Column) -> F.Column:
    """Centered quantized vector: qe - OFFSET = floor(x * SCALE)."""
    return F.transform(col, lambda x: x - F.lit(KMEANS_Q_OFFSET))


def _ldot_hof(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _ldot(a: F.Column | str, b: F.Column | str) -> F.Column:
    """Exact long dot product (HOF); operands may be SQL expression strings."""
    if isinstance(a, str):
        a = F.expr(a)
    if isinstance(b, str):
        b = F.expr(b)
    return _ldot_hof(a, b)


def _semdedup_oracle_sql() -> str:
    kmeans = _kmeans_oracle_sql()
    return f"""
    WITH assign AS (SELECT * FROM ({kmeans})),
    qv AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {KMEANS_Q_SCALE}) AS BIGINT)
               ) AS v
        FROM embeddings
    ),
    norms AS (
        SELECT vec_id, CAST(list_dot_product(v, v) AS BIGINT) AS n2 FROM qv
    ),
    pairs AS (
        SELECT xb.vec_id AS vec_id,
               CAST(list_dot_product(qa.v, qb.v) AS BIGINT) AS dot,
               na.n2 AS na2, nb.n2 AS nb2
        FROM assign xa
        JOIN assign xb ON xa.cluster = xb.cluster AND xa.vec_id < xb.vec_id
        JOIN qv qa ON qa.vec_id = xa.vec_id
        JOIN qv qb ON qb.vec_id = xb.vec_id
        JOIN norms na ON na.vec_id = xa.vec_id
        JOIN norms nb ON nb.vec_id = xb.vec_id
    ),
    removed AS (
        SELECT vec_id, COUNT(*) AS n_smaller_dups
        FROM pairs
        WHERE dot > 0
          AND CAST(dot AS HUGEINT) * dot * {SEMDEDUP_TAU2_DEN}
              >= CAST(na2 AS HUGEINT) * nb2 * {SEMDEDUP_TAU2_NUM}
        GROUP BY vec_id
    )
    SELECT a.vec_id, a.cluster,
           CAST(COALESCE(r.n_smaller_dups, 0) AS BIGINT) AS n_smaller_dups,
           COALESCE(r.n_smaller_dups, 0) = 0 AS is_kept
    FROM assign a LEFT JOIN removed r ON r.vec_id = a.vec_id
    """


@register("dedup_semdedup_keep_list", oracle=_semdedup_oracle_sql())
def dedup_semdedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep list: vec_id -> (cluster, count of smaller-id semantic
    duplicates in the cluster, is_kept). Composes the fixed-iteration integer
    Lloyd (:func:`kmeans_fixed`) with an exact integer cosine-threshold test
    within each cluster; see the section comment for the scale argument and
    why the whole thing is oracle-checkable."""
    centroids, q = kmeans_fixed(spark, sf_dir)
    assigned = _assign_quantized(q, centroids).select(
        "vec_id", "cluster", _unoffset(F.col("qe")).alias("v")
    ).withColumn(
        # squared norm once per VECTOR (the join below evaluates per-pair
        # expressions |cluster|^2 times; the norms don't depend on the pair)
        "n2", _ldot("v", "v")
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    dot = _ldot("a.v", "b.v")
    na2 = F.col("a.n2")
    nb2 = F.col("b.n2")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    is_dup = (dot > 0) & (
        dec(dot) * dot * F.lit(SEMDEDUP_TAU2_DEN)
        >= dec(na2) * nb2 * F.lit(SEMDEDUP_TAU2_NUM)
    )
    removed = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(is_dup)
        .groupBy(F.col("b.vec_id").alias("vec_id"))
        .agg(F.count("*").alias("n_smaller_dups"))
    )
    return (
        assigned.select("vec_id", "cluster")
        .join(removed, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce("n_smaller_dups", F.lit(0)).alias("n_smaller_dups"),
            (F.coalesce("n_smaller_dups", F.lit(0)) == 0).alias("is_kept"),
        )
    )


# ------------------------------------------------- scalar quantization (SQ8)
# The memory-compression step of a vector index: per-dimension global
# [min, max] ranges (pass 1, a 64-row aggregate) rescale every float to an
# int8-range code (pass 2, a broadcast join on the dimension id). 4x memory
# reduction before IVF/LSH probing. The dictionary-pass shape is inherent
# (global stats, then apply) — same as the DSIR sampler; the ranges side is
# always tiny (n_dims rows) and broadcasts. All arithmetic on the micro-
# quantized integers, so codes are bit-identical across engines.
SQ_LEVELS = 255


@register(
    "embedding_scalar_quantize",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, t.d - 1 AS dim,
               CAST(FLOOR(CAST(embedding[t.d] AS DOUBLE) * {KMEANS_Q_SCALE})
                    AS BIGINT) AS qx
        FROM embeddings, generate_series(1, {DIM}) AS t(d)
    ),
    r AS (SELECT dim, MIN(qx) AS qmin, MAX(qx) AS qmax FROM q GROUP BY dim)
    SELECT q.vec_id, CAST(q.dim AS INTEGER) AS dim,
           CAST(((q.qx - r.qmin) * {SQ_LEVELS})
                // GREATEST(r.qmax - r.qmin, 1) AS INTEGER) AS code
    FROM q JOIN r USING (dim)
    """,
)
def embedding_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, dim) -> int8-range quantization code from global per-dim
    ranges; see the section comment."""
    e = load_embeddings(spark, sf_dir)
    q = e.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(embedding,"
                f" x -> bigint(floor(double(x) * {KMEANS_Q_SCALE})))"
            )
        ).alias("dim", "qx"),
    )
    ranges = q.groupBy("dim").agg(
        F.min("qx").alias("qmin"), F.max("qx").alias("qmax")
    )
    return (
        q.join(F.broadcast(ranges), "dim")
        .select(
            "vec_id",
            F.col("dim").cast("int").alias("dim"),
            F.expr(
                f"int(((qx - qmin) * {SQ_LEVELS}) div greatest(qmax - qmin, 1))"
            ).alias("code"),
        )
    )


# --------------------------------------------------- product quantization
# PQ (Jegou et al. 2011): split the vector into M subspaces, k-means each
# subspace independently, and encode a vector as its M nearest-centroid
# ids — 64 floats become 4 small ints (the codebook side of IVF-PQ
# indexes). Training reuses the fixed-iteration integer Lloyd per subspace
# (bit-identical across engines), so the codes carry a real DuckDB oracle:
# M unrolled-Lloyd subqueries joined on vec_id. Final assignment is ONE
# projection (codebooks are tiny driver-side literals) — no join, no
# shuffle. At 100 TB, train the codebooks on a sampled slice and run this
# same projection over the full table.

PQ_M = 4  # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = KMEANS_K  # centroids per subspace


def _pq_oracle_sql(train_where: str | None = None) -> str:
    subs = []
    for m in range(PQ_M):
        sub = _kmeans_oracle_sql(
            k=PQ_K, iters=2, dims=PQ_SUBDIM, dim_offset=m * PQ_SUBDIM,
            train_where=train_where,
        )
        subs.append(f"a{m} AS (SELECT * FROM ({sub}))")
    joins = " ".join(f"JOIN a{m} USING (vec_id)" for m in range(1, PQ_M))
    cols = ", ".join(f"a{m}.cluster AS code{m}" for m in range(PQ_M))
    return f"""
    WITH {", ".join(subs)}
    SELECT vec_id, {cols}
    FROM a0 {joins}
    """


def _pq_train(
    spark: SparkSession,
    sf_dir: str,
    q_full: DataFrame | None = None,
    q_train: DataFrame | None = None,
) -> tuple[DataFrame, list[list[list[int]]]]:
    """(quantized frame, per-subspace codebooks) — shared by the code
    emitter and the ADC search.

    Trains ALL ``PQ_M`` subspace codebooks in a single Lloyd loop: one
    shared init collect (the hash-order seed ignores the subspace, so
    per-subspace ``_kmeans_fixed_on`` inits are slices of the same rows)
    and ONE aggregation job per iteration covering every subspace — the
    per-position sums are grouped by (subspace, cluster, position) after
    a single posexplode of the full vector. Bit-identical to running
    ``_kmeans_fixed_on`` per subspace (same distances, same lowest-index
    argmin tie-break, same floor-divided update; pinned by
    ``test_pq_combined_trainer_matches_per_subspace``), but 3 passes over
    the data instead of 3*PQ_M — at corpus scale, M fewer full scans per
    iteration; on the local harness, 4x fewer job round-trips. Pass an
    existing quantized (vec_id, qe) frame via ``q_full`` to share the
    scan/quantize subplan with a caller that already built it (IVF-PQ);
    pass ``q_train`` to train on a SUBSET of that frame (the
    incremental-index base build trains on the corpus half only —
    sinks/ann_index.py)."""
    if q_full is None:
        e = load_embeddings(spark, sf_dir).select(
            "vec_id", "embedding"
        )
        q_full = _quantized(e)
    if q_train is None:
        q_train = q_full
    from polars_ad_etl_spark.functions.hashing import portable_hash32

    init = (
        q_train.select(
            "vec_id",
            "qe",
            portable_hash32(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(PQ_K)
        .collect()
    )
    codebooks = [
        [
            [int(x) for x in r.qe[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]]
            for r in init
        ]
        for m in range(PQ_M)
    ]
    if not init:  # empty table: M empty codebooks, nothing to iterate
        return q_full, codebooks
    for _ in range(2):
        cluster_cols = [
            F.expr(
                _nearest_sql(
                    f"slice(qe, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM})", codebooks[m]
                )
            )
            for m in range(PQ_M)
        ]
        assigned = q_train.select(
            "qe", F.array(*cluster_cols).alias("cl")
        ).select(F.posexplode("qe").alias("pos", "v"), "cl")
        rows = (
            assigned.select(
                F.expr(f"pos div {PQ_SUBDIM}").alias("m"),
                F.element_at(
                    "cl", (F.expr(f"pos div {PQ_SUBDIM}") + 1).cast("int")
                ).alias("cluster"),
                (F.col("pos") % PQ_SUBDIM).alias("sub_pos"),
                "v",
            )
            .groupBy("m", "cluster", "sub_pos")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new_books = [[list(c) for c in codebooks[m]] for m in range(PQ_M)]
        for r in rows:  # empty clusters keep their old centroid
            new_books[r.m][r.cluster][r.sub_pos] = int(r.s) // int(r.n)
        codebooks = new_books
    return q_full, codebooks


def _pq_code_col(codebooks: list[list[list[int]]], m: int) -> F.Column:
    return F.expr(
        _nearest_sql(
            f"slice(qe, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM})", codebooks[m]
        )
    )


@register("embedding_pq_codes", oracle=_pq_oracle_sql())
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_id -> M product-quantization code ids; see the section comment."""
    q_full, codebooks = _pq_train(spark, sf_dir)
    return q_full.select(
        "vec_id",
        *[_pq_code_col(codebooks, m).alias(f"code{m}") for m in range(PQ_M)],
    )


# ----------------------------------------------- PQ asymmetric-distance search
# The query half of a PQ index: the query stays UNquantized (asymmetric
# distance computation) and each candidate is its M code ids; distance is a
# per-subspace table lookup, d(q, c) = sum_m LUT_m[code_m], where the 8-entry
# LUTs are computed once per query against the codebooks. The LUTs are tiny
# driver-side literals broadcast with the query row, so the scan side touches
# only the int8-scale codes — this is exactly why PQ indexes fit in memory at
# scale. All distances in exact integer arithmetic; oracle mirrors with
# unrolled-Lloyd codebook + code subqueries.


def _pq_adc_oracle_sql() -> str:
    codes = _pq_oracle_sql()
    cbs = ",\n    ".join(
        f"cb{m} AS (SELECT * FROM ({_kmeans_oracle_sql(PQ_K, 2, PQ_SUBDIM, m * PQ_SUBDIM, output='centroids')}))"
        for m in range(PQ_M)
    )
    dms = ",\n    ".join(
        f"""dm{m} AS (
        SELECT q.qid, c.cluster,
               CAST(SUM((q.qv - c.cq) * (q.qv - c.cq)) AS BIGINT) AS d
        FROM qsub q JOIN cb{m} c ON q.dim - {m * PQ_SUBDIM} = c.dim
        WHERE q.dim >= {m * PQ_SUBDIM} AND q.dim < {(m + 1) * PQ_SUBDIM}
        GROUP BY q.qid, c.cluster
    )"""
        for m in range(PQ_M)
    )
    djoins = " ".join(
        f"JOIN dm{m} d{m} ON d{m}.cluster = k.code{m} AND d{m}.qid = d0.qid"
        for m in range(1, PQ_M)
    )
    dsum = " + ".join(f"d{m}.d" for m in range(PQ_M))
    return f"""
    WITH codes AS (SELECT * FROM ({codes})),
    {cbs},
    qsub AS (
        SELECT vec_id AS qid, t.d - 1 AS dim,
               CAST(FLOOR(CAST(embedding[t.d] AS DOUBLE) * {KMEANS_Q_SCALE})
                    AS BIGINT) + {KMEANS_Q_OFFSET} AS qv
        FROM embeddings, generate_series(1, {DIM}) AS t(d)
        WHERE vec_id < {N_QUERIES}
    ),
    {dms},
    scored AS (
        SELECT d0.qid AS query_id, k.vec_id AS neighbor_id,
               CAST({dsum} AS BIGINT) AS pq_dist
        FROM codes k JOIN dm0 d0 ON d0.cluster = k.code0
        {djoins}
        WHERE k.vec_id <> d0.qid
    )
    SELECT query_id, neighbor_id, pq_dist, rnk FROM (
        SELECT query_id, neighbor_id, pq_dist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY pq_dist, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= {TOP_K}
    """


# Query-phase building blocks, shared verbatim by the per-call-training
# queries below and the persisted-index twins (operators/similarity_indexed
# .py) so the two stay bit-identical by construction.


def _pq_flat_lut(qe: list[int], codebooks: list[list[list[int]]]) -> list[int]:
    """The per-query ADC lookup table, flattened (PQ_M * PQ_K entries):
    exact integer squared L2 from each query subvector to each subspace
    centroid."""
    lut = []
    for m in range(PQ_M):
        sub = qe[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        for c in codebooks[m]:
            lut.append(sum((a - b) * (a - b) for a, b in zip(sub, c)))
    return lut


def _pq_dist_col() -> F.Column:
    """ADC distance as LUT lookups over the M code columns."""
    dist = None
    for m in range(PQ_M):
        term = F.element_at(
            F.col("lut"), (F.col(f"code{m}") + F.lit(m * PQ_K + 1)).cast("int")
        )
        dist = term if dist is None else dist + term
    return dist


def _pq_codes_df(q_full: DataFrame, codebooks: list[list[list[int]]]) -> DataFrame:
    """(vec_id, code0..code{M-1}) — the stored representation of each
    candidate vector."""
    return q_full.select(
        "vec_id",
        *[_pq_code_col(codebooks, m).alias(f"code{m}") for m in range(PQ_M)],
    )


def _pq_query_rows(spark: SparkSession, sf_dir: str) -> list:
    """Quantized query vectors, collected (bounded: N_QUERIES rows, with
    the vec_id predicate pushed into the parquet scan)."""
    return (
        _quantized(
            load_embeddings(spark, sf_dir)
            .filter(F.col("vec_id") < N_QUERIES)
            .select("vec_id", "embedding")
        )
        .collect()
    )


def _pq_adc_rank(spark: SparkSession, codes: DataFrame, lut_rows: list) -> DataFrame:
    """Score every candidate's codes against the broadcast per-query LUTs
    and keep the top-k."""
    qdf = spark.createDataFrame(lut_rows, "query_id long, lut array<long>")
    scored = (
        codes.crossJoin(F.broadcast(qdf))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _pq_dist_col().alias("pq_dist"),
        )
    )
    w = W.partitionBy("query_id").orderBy("pq_dist", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


@register("sim_pq_adc_topk", oracle=_pq_adc_oracle_sql())
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance: per-query LUTs against
    the subspace codebooks, candidates touched only through their code ids;
    see the section comment."""
    q_full, codebooks = _pq_train(spark, sf_dir)
    codes = _pq_codes_df(q_full, codebooks)
    qrows = (
        q_full.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "qe")
        .collect()
    )
    lut_rows = [
        (int(r.vec_id), _pq_flat_lut([int(x) for x in r.qe], codebooks))
        for r in sorted(qrows, key=lambda r: r.vec_id)
    ]
    return _pq_adc_rank(spark, codes, lut_rows)


# ------------------------------------------------------------------ IVF-PQ
# The full composed index: the integer-Lloyd coarse quantizer partitions
# vectors into inverted lists; a query probes its IVFPQ_NPROBE nearest
# lists (coarse distances against 8 driver-side centroids) and reranks ONLY
# those lists' members by PQ asymmetric distance. Every stage is the exact
# integer arithmetic used by its standalone operator, so the whole
# composition carries one DuckDB oracle. Scan side touches (list id + M
# code ids) per candidate — at 100 TB the lists are the partition layout
# and a query reads NPROBE/k of the data.

IVFPQ_NPROBE = 2


def _ivfpq_oracle_sql(train_where: str | None = None) -> str:
    codes = _pq_oracle_sql(train_where)
    coarse_assign = _kmeans_oracle_sql(train_where=train_where)
    coarse_cent = _kmeans_oracle_sql(output="centroids", train_where=train_where)
    cbs = ",\n    ".join(
        f"cb{m} AS (SELECT * FROM ({_kmeans_oracle_sql(PQ_K, 2, PQ_SUBDIM, m * PQ_SUBDIM, output='centroids', train_where=train_where)}))"
        for m in range(PQ_M)
    )
    dms = ",\n    ".join(
        f"""dm{m} AS (
        SELECT q.qid, c.cluster,
               CAST(SUM((q.qv - c.cq) * (q.qv - c.cq)) AS BIGINT) AS d
        FROM qsub q JOIN cb{m} c ON q.dim - {m * PQ_SUBDIM} = c.dim
        WHERE q.dim >= {m * PQ_SUBDIM} AND q.dim < {(m + 1) * PQ_SUBDIM}
        GROUP BY q.qid, c.cluster
    )"""
        for m in range(PQ_M)
    )
    djoins = " ".join(
        f"JOIN dm{m} d{m} ON d{m}.cluster = k.code{m} AND d{m}.qid = d0.qid"
        for m in range(1, PQ_M)
    )
    dsum = " + ".join(f"d{m}.d" for m in range(PQ_M))
    return f"""
    WITH codes AS (SELECT * FROM ({codes})),
    lists AS (SELECT * FROM ({coarse_assign})),
    cc AS (SELECT * FROM ({coarse_cent})),
    qsub AS (
        SELECT vec_id AS qid, t.d - 1 AS dim,
               CAST(FLOOR(CAST(embedding[t.d] AS DOUBLE) * {KMEANS_Q_SCALE})
                    AS BIGINT) + {KMEANS_Q_OFFSET} AS qv
        FROM embeddings, generate_series(1, {DIM}) AS t(d)
        WHERE vec_id < {N_QUERIES}
    ),
    dcoarse AS (
        SELECT q.qid, c.cluster,
               CAST(SUM((q.qv - c.cq) * (q.qv - c.cq)) AS BIGINT) AS d
        FROM qsub q JOIN cc c USING (dim)
        GROUP BY q.qid, c.cluster
    ),
    probed AS (
        SELECT qid, cluster FROM (
            SELECT qid, cluster,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY d, cluster) AS pr
            FROM dcoarse
        ) WHERE pr <= {IVFPQ_NPROBE}
    ),
    {cbs},
    {dms},
    scored AS (
        SELECT d0.qid AS query_id, k.vec_id AS neighbor_id,
               CAST({dsum} AS BIGINT) AS pq_dist
        FROM codes k
        JOIN lists l ON l.vec_id = k.vec_id
        JOIN probed p ON p.cluster = l.cluster
        JOIN dm0 d0 ON d0.cluster = k.code0 AND d0.qid = p.qid
        {djoins}
        WHERE k.vec_id <> d0.qid
    )
    SELECT query_id, neighbor_id, pq_dist, rnk FROM (
        SELECT query_id, neighbor_id, pq_dist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY pq_dist, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= {TOP_K}
    """


def _ivfpq_luts(
    qrows: list,
    coarse: list[list[int]],
    codebooks: list[list[list[int]]],
    nprobe: int = IVFPQ_NPROBE,
) -> list[tuple[int, int, list[int]]]:
    """(query_id, probed cluster, flat ADC LUT) rows: each query probes its
    ``nprobe`` nearest coarse centroids (exact integer distances, lowest
    cluster id tie-break) and carries one LUT per probed list."""
    lut_rows = []
    for r in sorted(qrows, key=lambda r: r.vec_id):
        qe = [int(x) for x in r.qe]
        dcoarse = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qe, c)), i)
            for i, c in enumerate(coarse)
        )
        lut = _pq_flat_lut(qe, codebooks)
        for _, cl in dcoarse[:nprobe]:
            lut_rows.append((int(r.vec_id), int(cl), lut))
    return lut_rows


def _ivfpq_rank(
    spark: SparkSession, codes: DataFrame, lut_rows: list
) -> DataFrame:
    """Join candidates' (cluster, codes) rows with the broadcast probed-
    cluster LUTs and keep the ADC top-k per query."""
    qdf = spark.createDataFrame(
        lut_rows, "query_id long, cluster int, lut array<long>"
    )
    scored = (
        codes.join(F.broadcast(qdf), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _pq_dist_col().alias("pq_dist"),
        )
    )
    w = W.partitionBy("query_id").orderBy("pq_dist", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


@register("sim_ivfpq_topk", oracle=_ivfpq_oracle_sql())
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k: probe the query's nearest coarse lists, rerank members
    by PQ asymmetric distance; see the section comment."""
    coarse, q_full = kmeans_fixed(spark, sf_dir)
    lists = _assign_quantized(q_full, coarse).select("vec_id", "cluster")
    # one combined Lloyd pass trains all PQ_M subspace codebooks
    # (bit-identical to per-subspace _kmeans_fixed_on; pinned by
    # test_pq_combined_trainer_matches_per_subspace) — M fewer training
    # scans per iteration than the per-subspace loop this replaced; the
    # already-quantized frame is shared so the scan/quantize isn't rebuilt
    _, codebooks = _pq_train(spark, sf_dir, q_full=q_full)
    codes = _pq_codes_df(q_full, codebooks).join(lists, "vec_id")
    qrows = (
        q_full.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "qe")
        .collect()
    )
    return _ivfpq_rank(spark, codes, _ivfpq_luts(qrows, coarse, codebooks))


# ------------------------------------------------------- multi-table LSH
# Single-table sign-LSH recall collapses when buckets get sparse (measured
# 0.0 recall@10 at sf0.01: 256 buckets over 500 vectors leaves ~2
# candidates per bucket). The standard fix is T independent hash tables
# with fewer planes each: a true neighbor is found if it collides in ANY
# table (miss probability (1 - p^b)^T instead of 1 - p^b). Implemented as
# ONE equi-join on the composite (table, bucket) key — each side explodes
# its T bucket ids (T× fan-out, the textbook multi-table space cost), and
# duplicate pairs collapse with DISTINCT on the deterministic cosine row.

MT_TABLES = 4
MT_PLANES = 4  # per table -> 16 buckets/table

_MT_PLANESETS = [
    [hyperplane_signs(t * MT_PLANES + p, DIM) for p in range(MT_PLANES)]
    for t in range(MT_TABLES)
]


def _mt_bucket_expr(emb: F.Column | str, t: int) -> F.Column:
    if isinstance(emb, str):
        return F.expr(_planes_bucket_sql(emb, _MT_PLANESETS[t]))
    bits = [
        F.when(
            signed_projection(emb, _MT_PLANESETS[t][p]) >= 0, F.lit(1 << p)
        ).otherwise(0)
        for p in range(MT_PLANES)
    ]
    return functools.reduce(lambda a, b: a + b, bits).cast("int")


def _mt_bucket_sql(col: str, t: int) -> str:
    terms = []
    for p in range(MT_PLANES):
        arr = (
            "[" + ", ".join(f"{s}.0" for s in _MT_PLANESETS[t][p]) + "]::DOUBLE[]"
        )
        terms.append(
            f"(CASE WHEN list_dot_product({col}::DOUBLE[], {arr}) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return _null_guarded(col, "CAST(" + " + ".join(terms) + " AS INT)")


@register(
    "sim_lsh_multitable_topk",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS e, t.t,
               CASE t.t {' '.join(f"WHEN {t} THEN {_mt_bucket_sql('embedding', t)}" for t in range(MT_TABLES))} END AS bucket
        FROM embeddings, generate_series(0, {MT_TABLES - 1}) AS t(t)
    ),
    q AS (SELECT vec_id AS qid, e AS qe, t, bucket FROM b
          WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS cid, e AS ce, t, bucket FROM b),
    scored AS (
        SELECT DISTINCT qid, cid,
               round(list_dot_product(qe, ce) /
                     (sqrt(list_dot_product(qe, qe))
                      * sqrt(list_dot_product(ce, ce))), 4) AS cos
        FROM q JOIN c USING (t, bucket)
        WHERE cid != qid
    ),
    ranked AS (
        SELECT qid AS query_id, cid AS neighbor_id, cos AS cosine,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, cid) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked
    WHERE rnk <= {TOP_K}
    """,
)
def sim_lsh_multitable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH top-k; see the section comment for the recall
    argument and the (table, bucket) composite-key join shape."""
    e = load_embeddings(spark, sf_dir)
    b = e.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        _mt_bucket_expr("embedding", t).alias("bucket"),
                    )
                    for t in range(MT_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "embedding", "tb.t", "tb.bucket")
    q = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm("embedding").alias("qn"),
        "t",
        "bucket",
    )
    c = b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        norm("embedding").alias("cn"),
        "t",
        "bucket",
    )
    scored = (
        c.join(F.broadcast(q), ["t", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenormed("qe", "ce", F.col("qn"), F.col("cn")),
                4,
            ).alias("cosine"),
        )
        .distinct()
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


# ------------------------------------------------ matryoshka-dim recall eval
# Matryoshka-style dimension truncation (Kusupati et al. 2022): serve ANN on
# a prefix slice of the embedding and keep the full vector only for rerank.
# Before deploying a truncation you measure what it costs — this query IS
# that measurement: recall@K of the 16-dim-prefix cosine ranking against the
# exact 64-dim ranking, per query. Same determinism contract as the rest of
# the ANN ladder (round(cos, 4), tie-break on neighbor id), so the recall
# table is oracle-checkable bit for bit.
#
# Scale shape: two broadcast-query brute-force rankings (the exact-verifier
# primitive) + one tiny join on (query, neighbor) — at production scale the
# truncated side is served from the IVF/PQ index and this query becomes the
# offline eval job over a sampled query set.
_MATRYOSHKA_DIM = 16


def _ranking_sql(dim_slice: str) -> str:
    return f"""
        SELECT qid AS query_id, cid AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY qid
                   ORDER BY round(list_dot_product(qe{dim_slice}, ce{dim_slice}) /
                         (sqrt(list_dot_product(qe{dim_slice}, qe{dim_slice})) *
                          sqrt(list_dot_product(ce{dim_slice}, ce{dim_slice}))), 4)
                       DESC, cid) AS rnk
        FROM q CROSS JOIN c
        WHERE cid != qid
    """


def _prefix_ranking(e: DataFrame, dim: int | None) -> DataFrame:
    emb = "embedding" if dim is None else f"slice(embedding, 1, {dim})"
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.expr(emb).alias("qe"),
        norm(emb).alias("qn"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(emb).alias("ce"),
        norm(emb).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenormed("qe", "ce", F.col("qn"), F.col("cn")),
                4,
            ).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )


@register(
    "sim_matryoshka_recall",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings),
    full_rank AS ({_ranking_sql('')}),
    trunc_rank AS ({_ranking_sql(f'[1:{_MATRYOSHKA_DIM}]')}),
    f AS (SELECT query_id, neighbor_id FROM full_rank WHERE rnk <= {TOP_K}),
    t AS (SELECT query_id, neighbor_id FROM trunc_rank WHERE rnk <= {TOP_K})
    SELECT f.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(COUNT(t.neighbor_id) AS DOUBLE) / {TOP_K} AS recall
    FROM f LEFT JOIN t USING (query_id, neighbor_id)
    GROUP BY f.query_id
    """,
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@{TOP_K} of the {_MATRYOSHKA_DIM}-dim-prefix cosine
    ranking vs the exact full-dim ranking — the offline eval that prices a
    matryoshka truncation before deployment (see section comment)."""
    e = load_embeddings(spark, sf_dir)
    full = _prefix_ranking(e, None)
    trunc = _prefix_ranking(e, _MATRYOSHKA_DIM).withColumn("hit", F.lit(1))
    return (
        full.join(trunc, ["query_id", "neighbor_id"], "left_outer")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_overlap"),
            (F.count("hit").cast("double") / TOP_K).alias("recall"),
        )
    )


# ----------------------------------------------- ANN recall/cost curve
# Round-9 verdict item: single-config recall pins (0.475@10 for 4-table
# LSH) are honest but don't tell an operator WHICH config to ship. This
# query makes the recall/cost tradeoff a measured, oracle-checked artifact:
# recall@K for every (method, cost-knob) point on the grid
#   - multi-table sign-LSH with T in {1,2,4,8} tables (cost ~ T x fan-out)
#   - IVF with nprobe in {1,2,4,8} of the 10 label lists (cost ~ nprobe/10
#     of the corpus scanned per query)
# against the exact brute-force ranking. Recall is reported as an EXACT
# integer permille (1000 * overlap DIV exact-rows) so the row hashes
# identically on both engines; the production config is the cheapest row
# with recall_permille >= 900 (named in README).
#
# Scale shape: the candidate generation reuses the registry's bucketed /
# probed join shapes (never all-pairs); each config's ranking is a window
# over candidates only; per-config recall rows are one global aggregate
# each over <= K x |queries| rows. The exact side is the brute-force
# verifier — at production scale this whole query is the offline eval job
# over a sampled query set, exactly how ANN indexes are tuned in practice.

CURVE_TABLES = (1, 2, 4, 8)
CURVE_PROBES = (1, 2, 4, 8)
# Third knob (round 12): multiprobe Hamming radius on the PRODUCTION
# single 8-plane table (the same planes as sim_lsh_bucketed_topk /
# sim_lsh_topk_multiprobe) — radius 1 is the registry multiprobe query,
# radius 0 the plain bucket, radius 2 the 37-probe point. Probe masks are
# enumerable (sum of C(8,d) for d <= max radius), so candidates come from
# one query-side fan-out join, and min_r = popcount(bq XOR bc) is exact
# because each candidate is reachable via exactly one mask.
CURVE_RADII = (0, 1, 2)
_PROBE_MASKS = [
    m for m in range(1 << N_PLANES)
    if bin(m).count("1") <= max(CURVE_RADII)
]
_CURVE_MAX_T = max(CURVE_TABLES)
_CURVE_PLANES = 4  # per table -> 16 buckets/table (matches MT_PLANES)

_CURVE_PLANESETS = [
    [hyperplane_signs(t * _CURVE_PLANES + p, DIM) for p in range(_CURVE_PLANES)]
    for t in range(_CURVE_MAX_T)
]


def _curve_bucket_expr(emb: F.Column | str, t: int) -> F.Column:
    if isinstance(emb, str):
        return F.expr(_planes_bucket_sql(emb, _CURVE_PLANESETS[t]))
    bits = [
        F.when(
            signed_projection(emb, _CURVE_PLANESETS[t][p]) >= 0, F.lit(1 << p)
        ).otherwise(0)
        for p in range(_CURVE_PLANES)
    ]
    return functools.reduce(lambda a, b: a + b, bits).cast("int")


def _curve_bucket_sql(col: str, t: int) -> str:
    terms = []
    for p in range(_CURVE_PLANES):
        arr = (
            "[" + ", ".join(f"{s}.0" for s in _CURVE_PLANESETS[t][p]) + "]::DOUBLE[]"
        )
        terms.append(
            f"(CASE WHEN list_dot_product({col}::DOUBLE[], {arr}) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return _null_guarded(col, "CAST(" + " + ".join(terms) + " AS INT)")


_CURVE_COS = (
    "round(list_dot_product(qe, ce) / "
    "(sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))), 4)"
)

_RECALL_CURVE_SQL = f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings),
    exact AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY {_CURVE_COS} DESC, cid) AS rnk
            FROM q CROSS JOIN c WHERE cid != qid
        ) WHERE rnk <= {TOP_K}
    ),
    b AS MATERIALIZED (
        -- MATERIALIZED: in the self-join below, DuckDB's optimizer can
        -- evaluate the bucket projection on PRE-contract-filter batches,
        -- where a whole-NULL embedding row makes the list_inner_product
        -- kernel raise even under the CASE null-guard (round-9 edge-sweep
        -- find; the same text runs clean standalone). Materializing pins
        -- the CTE to its standalone plan: filter, then project, once.
        SELECT vec_id, t.t,
               CASE t.t {' '.join(
                   f"WHEN {t} THEN {_curve_bucket_sql('embedding', t)}"
                   for t in range(_CURVE_MAX_T))} END AS bucket
        FROM embeddings, generate_series(0, {_CURVE_MAX_T - 1}) AS t(t)
    ),
    lpairs AS (
        SELECT lq.vec_id AS qid, lc.vec_id AS cid,
               CAST(MIN(lq.t) AS INT) AS min_t
        FROM b lq JOIN b lc ON lq.t = lc.t AND lq.bucket = lc.bucket
        WHERE lq.vec_id < {N_QUERIES} AND lc.vec_id != lq.vec_id
        GROUP BY 1, 2
    ),
    lscored AS (
        SELECT p.qid, p.cid, p.min_t, {_CURVE_COS} AS cos
        FROM lpairs p JOIN q USING (qid) JOIN c USING (cid)
    ),
    tcfg AS (SELECT unnest([{', '.join(str(t) for t in CURVE_TABLES)}]) AS param),
    ltop AS (
        SELECT param, qid, cid FROM (
            SELECT tcfg.param, s.qid, s.cid,
                   ROW_NUMBER() OVER (PARTITION BY tcfg.param, s.qid
                       ORDER BY s.cos DESC, s.cid) AS rnk
            FROM lscored s JOIN tcfg ON s.min_t < tcfg.param
        ) WHERE rnk <= {TOP_K}
    ),
    cent AS ({_CENT_SQL}),
    proberank AS (
        SELECT qid, label,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY {_QCENT_COS_SQL} DESC, label) AS pr
        FROM q CROSS JOIN cent
    ),
    icand AS (SELECT label, vec_id AS cid, embedding::DOUBLE[] AS ce2
              FROM embeddings),
    iscored AS (
        SELECT pb.qid, ic.cid, pb.pr, {_QCAND_COS_SQL} AS cos
        FROM proberank pb JOIN q USING (qid) JOIN icand ic USING (label)
        WHERE ic.cid != pb.qid
    ),
    pcfg AS (SELECT unnest([{', '.join(str(p) for p in CURVE_PROBES)}]) AS param),
    itop AS (
        SELECT param, qid, cid FROM (
            SELECT pcfg.param, s.qid, s.cid,
                   ROW_NUMBER() OVER (PARTITION BY pcfg.param, s.qid
                       ORDER BY s.cos DESC, s.cid) AS rnk
            FROM iscored s JOIN pcfg ON s.pr <= pcfg.param
        ) WHERE rnk <= {TOP_K}
    ),
    lrec AS (
        SELECT 'lsh_tables' AS method, tcfg.param,
               COUNT(*) AS n_exact, COUNT(l.cid) AS n_overlap
        FROM exact e CROSS JOIN tcfg
        LEFT JOIN ltop l
          ON l.param = tcfg.param AND l.qid = e.qid AND l.cid = e.cid
        GROUP BY tcfg.param
    ),
    irec AS (
        SELECT 'ivf_probes' AS method, pcfg.param,
               COUNT(*) AS n_exact, COUNT(i.cid) AS n_overlap
        FROM exact e CROSS JOIN pcfg
        LEFT JOIN itop i
          ON i.param = pcfg.param AND i.qid = e.qid AND i.cid = e.cid
        GROUP BY pcfg.param
    ),
    pbkt AS MATERIALIZED (
        -- MATERIALIZED for the same round-9 kernel-on-prefilter-batch
        -- reason as `b` above
        SELECT vec_id, {_bucket_sql('embedding')} AS bucket FROM embeddings
    ),
    pmasks AS (SELECT unnest([{', '.join(str(m) for m in _PROBE_MASKS)}])
               AS mask),
    mq AS (
        SELECT p.vec_id AS qid, xor(p.bucket, m.mask) AS bucket,
               bit_count(m.mask) AS r
        FROM pbkt p, pmasks m WHERE p.vec_id < {N_QUERIES}
    ),
    mpairs AS (
        -- no GROUP BY/MIN: each (qid, cid) matches exactly one mask
        -- (mask = bq XOR bc), so r IS min_r — unlike lpairs, where
        -- MIN(t) genuinely aggregates across tables
        SELECT mq.qid, pc.vec_id AS cid, CAST(mq.r AS INT) AS min_r
        FROM mq JOIN pbkt pc ON pc.bucket = mq.bucket
        WHERE pc.vec_id != mq.qid
    ),
    mscored AS (
        SELECT p.qid, p.cid, p.min_r, {_CURVE_COS} AS cos
        FROM mpairs p JOIN q USING (qid) JOIN c USING (cid)
    ),
    rcfg AS (SELECT unnest([{', '.join(str(r) for r in CURVE_RADII)}])
             AS param),
    mtop AS (
        SELECT param, qid, cid FROM (
            SELECT rcfg.param, s.qid, s.cid,
                   ROW_NUMBER() OVER (PARTITION BY rcfg.param, s.qid
                       ORDER BY s.cos DESC, s.cid) AS rnk
            FROM mscored s JOIN rcfg ON s.min_r <= rcfg.param
        ) WHERE rnk <= {TOP_K}
    ),
    mrec AS (
        SELECT 'lsh_probe_radius' AS method, rcfg.param,
               COUNT(*) AS n_exact, COUNT(m.cid) AS n_overlap
        FROM exact e CROSS JOIN rcfg
        LEFT JOIN mtop m
          ON m.param = rcfg.param AND m.qid = e.qid AND m.cid = e.cid
        GROUP BY rcfg.param
    )
    SELECT method, CAST(param AS INT) AS param,
           CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           CAST((1000 * n_overlap) // n_exact AS BIGINT) AS recall_permille
    FROM (SELECT * FROM lrec UNION ALL SELECT * FROM irec
          UNION ALL SELECT * FROM mrec)
    ORDER BY method, param
"""


def _curve_exact(e: DataFrame) -> DataFrame:
    return _prefix_ranking(e, None)  # (query_id, neighbor_id), top K


def _curve_configs(spark: SparkSession, params: tuple[int, ...]) -> DataFrame:
    return spark.createDataFrame([(p,) for p in params], "param int")


def _curve_recall_rows(
    exact: DataFrame, top: DataFrame, cfg: DataFrame, method: str
) -> DataFrame:
    j = (
        exact.crossJoin(F.broadcast(cfg))
        .join(
            top.withColumnRenamed("param", "p2").withColumn("hit", F.lit(1)),
            on=[
                F.col("param") == F.col("p2"),
                F.col("query_id") == F.col("qid2"),
                F.col("neighbor_id") == F.col("cid2"),
            ],
            how="left_outer",
        )
        .groupBy("param")
        .agg(F.count("*").alias("n_exact"), F.count("hit").alias("n_overlap"))
    )
    return j.select(
        F.lit(method).alias("method"),
        F.col("param").cast("int").alias("param"),
        F.col("n_exact").cast("long"),
        F.col("n_overlap").cast("long"),
        F.expr("(1000 * n_overlap) div n_exact").alias("recall_permille"),
    )


@register("sim_ann_recall_curve", oracle=_RECALL_CURVE_SQL)
def sim_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of every (method, cost-knob) grid point vs the exact
    ranking — the tuning artifact that names the production ANN config
    (see section comment; README records the chosen config)."""
    e = load_embeddings(spark, sf_dir)
    exact = _curve_exact(e)

    # --- multi-table LSH: collide in ANY of the first `param` tables
    b = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        _curve_bucket_expr("embedding", t).alias("bucket"),
                    )
                    for t in range(_CURVE_MAX_T)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "tb.t", "tb.bucket")
    lq = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid2"), "t", "bucket"
    )
    lc = b.select(F.col("vec_id").alias("cid2"), "t", "bucket")
    lpairs = (
        lc.join(F.broadcast(lq), ["t", "bucket"])
        .filter(F.col("cid2") != F.col("qid2"))
        .groupBy("qid2", "cid2")
        .agg(F.min("t").cast("int").alias("min_t"))
    )
    qv = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid2"),
        F.col("embedding").alias("qe"),
        norm("embedding").alias("qn"),
    )
    cv = e.select(
        F.col("vec_id").alias("cid2"),
        F.col("embedding").alias("ce"),
        norm("embedding").alias("cn"),
    )
    _cosp = lambda: F.round(  # noqa: E731 — the shared scoring expression
        cosine_prenormed("qe", "ce", F.col("qn"), F.col("cn")),
        4,
    )
    lscored = (
        lpairs.join(F.broadcast(qv), "qid2")
        .join(cv, "cid2")
        .select("qid2", "cid2", "min_t", _cosp().alias("cos"))
    )
    tcfg = _curve_configs(spark, CURVE_TABLES)
    lranked = lscored.join(
        F.broadcast(tcfg), F.col("min_t") < F.col("param")
    ).withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("param", "qid2").orderBy(
                F.col("cos").desc(), "cid2"
            )
        ),
    )
    ltop = lranked.filter(F.col("rnk") <= TOP_K).select("param", "qid2", "cid2")
    lrec = _curve_recall_rows(exact, ltop, tcfg, "lsh_tables")

    # --- IVF: scan the `param` nearest label lists per query
    cent = _label_centroid_arrays(e).withColumn(
        "cn", norm("ce")
    )
    proberank = (
        qv.crossJoin(F.broadcast(cent))
        .select("qid2", "label", _cosp().alias("ccos"))
        .withColumn(
            "pr",
            F.row_number().over(
                W.partitionBy("qid2").orderBy(F.col("ccos").desc(), "label")
            ),
        )
        .select("qid2", "label", "pr")
    )
    icand = e.select(
        "label",
        F.col("vec_id").alias("cid2"),
        F.col("embedding").alias("ce"),
        norm("embedding").alias("cn"),
    )
    iscored = (
        proberank.join(F.broadcast(qv), "qid2")
        .join(icand, "label")
        .filter(F.col("cid2") != F.col("qid2"))
        .select("qid2", "cid2", "pr", _cosp().alias("cos"))
    )
    pcfg = _curve_configs(spark, CURVE_PROBES)
    iranked = iscored.join(
        F.broadcast(pcfg), F.col("pr") <= F.col("param")
    ).withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("param", "qid2").orderBy(
                F.col("cos").desc(), "cid2"
            )
        ),
    )
    itop = iranked.filter(F.col("rnk") <= TOP_K).select("param", "qid2", "cid2")
    irec = _curve_recall_rows(exact, itop, pcfg, "ivf_probes")

    # --- single-table multiprobe: candidates within Hamming radius `param`
    # of the query's production 8-plane bucket (see CURVE_RADII comment)
    pb = e.select("vec_id", _bucket_expr("embedding").alias("bucket"))
    mq = (
        pb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("qid2"),
            F.explode(
                F.array(*[F.lit(m) for m in _PROBE_MASKS])
            ).alias("mask"),
            "bucket",
        )
        .select(
            "qid2",
            F.col("bucket").bitwiseXOR(F.col("mask")).alias("bucket"),
            F.bit_count("mask").cast("int").alias("r"),
        )
    )
    mc = pb.select(F.col("vec_id").alias("cid2"), "bucket")
    # no groupBy/min: each (qid2, cid2) matches exactly one mask (mask =
    # bq XOR bc), so r IS min_r — the aggregation would be a no-op costing
    # a full extra shuffle over the candidate pairs
    mpairs = (
        mc.join(F.broadcast(mq), "bucket")
        .filter(F.col("cid2") != F.col("qid2"))
        .select("qid2", "cid2", F.col("r").cast("int").alias("min_r"))
    )
    mscored = (
        mpairs.join(F.broadcast(qv), "qid2")
        .join(cv, "cid2")
        .select("qid2", "cid2", "min_r", _cosp().alias("cos"))
    )
    rcfg = _curve_configs(spark, CURVE_RADII)
    mranked = mscored.join(
        F.broadcast(rcfg), F.col("min_r") <= F.col("param")
    ).withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("param", "qid2").orderBy(
                F.col("cos").desc(), "cid2"
            )
        ),
    )
    mtop = mranked.filter(F.col("rnk") <= TOP_K).select("param", "qid2", "cid2")
    mrec = _curve_recall_rows(exact, mtop, rcfg, "lsh_probe_radius")

    return lrec.unionByName(irec).unionByName(mrec).orderBy("method", "param")


@register(
    "sim_kmeans_label_purity",
    oracle=f"""
    WITH assign AS ({_kmeans_oracle_sql()}),
    j AS (
        SELECT a.cluster, e.label
        FROM assign a JOIN embeddings e USING (vec_id)
    ),
    cl AS (SELECT cluster, label, COUNT(*) AS c FROM j GROUP BY 1, 2),
    top AS (
        SELECT cluster, label AS majority_label, c AS n_majority,
               ROW_NUMBER() OVER (PARTITION BY cluster
                                  ORDER BY c DESC, label) AS rn
        FROM cl
    ),
    n AS (SELECT cluster, CAST(SUM(c) AS BIGINT) AS n_vecs
          FROM cl GROUP BY 1)
    SELECT n.cluster, n.n_vecs, t.majority_label,
           CAST(t.n_majority AS BIGINT) AS n_majority,
           CAST((1000 * t.n_majority) // n.n_vecs AS BIGINT)
               AS purity_permille
    FROM n JOIN top t ON t.cluster = n.cluster AND t.rn = 1
    ORDER BY n.cluster
    """,
)
def sim_kmeans_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality readout: per k-means cluster, the majority ground-
    truth label and its exact permille share — the external-validation
    metric (purity) for the verified fixed-iteration Lloyd clustering.
    Composes the oracle-checked assignment with the labels column; two
    stacked aggregates and a min_by/max_by-style majority pick (ties to
    the smaller label in both engines)."""
    assign = sim_kmeans_clusters(spark, sf_dir)
    e = load_embeddings(spark, sf_dir).select(
        "vec_id", "label"
    )
    cl = (
        assign.join(e, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count("*").alias("c"))
    )
    # majority pick: min of (-c, label) == max count, ties to smaller label
    top = cl.groupBy("cluster").agg(
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias(
            "m"
        ),
        F.sum("c").alias("n_vecs"),
    )
    return top.select(
        "cluster",
        "n_vecs",
        F.col("m.label").alias("majority_label"),
        (-F.col("m.nc")).alias("n_majority"),
        F.expr("(1000 * -m.nc) div n_vecs").alias("purity_permille"),
    ).orderBy("cluster")
