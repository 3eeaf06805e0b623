"""Distributed linear algebra over the embedding column: the exact
covariance/Gram accumulation that PCA, whitening, and OOD scoring are built
on.

The distributed part of PCA is ONE thing: accumulating the D×D second-moment
(Gram) matrix and the D-vector of sums across all rows — a single scan with
map-side partial aggregation on at most D(D+1)/2 keys. The eigensolve that
follows operates on the tiny D×D result and belongs on the driver (same
boundary as k-means' K×D centroid collect in ``similarity.py``).

**Determinism / oracle strategy**: components are quantized to fixed-point
integers first (``floor(x * 2^16)`` — the multiply is exact because the
scale is a power of two, and floor is engine-independent; the
``KMEANS_Q_SCALE`` pattern from ``similarity.py``). Every aggregate after
that is an exact integer SUM — order-independent, so DuckDB hash-matches
bit for bit. Overflow headroom: |q| < 2^16 ⇒ |q_i·q_j| < 2^32 ⇒ the
n·sum_ij covariance numerator stays under 2^63 up to ~10^8 rows; past that,
aggregate in DECIMAL(38,0).

**Scale shape** (100 TB): the JVM path explodes each row into its
D(D+1)/2 upper-triangle pair terms and lets Catalyst's partial aggregation
combine map-side — shuffle volume is |partitions|·D² tiny integer rows, not
the data. The ``gram_partial_numpy`` variant collapses the per-partition
work into one Arrow-batched numpy outer-product accumulation (no explode) —
same contract, proven equal in tests — which is what you deploy when D is
large enough that the D² explode dominates the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_ad_etl_spark.operators.registry import register
from polars_ad_etl_spark.sources.star import (
    EMBEDDING_DIM,
    EMBEDDING_MAX_ABS,
    load_embeddings,
    read_star_parquet,
)

DIM = EMBEDDING_DIM
Q_SCALE = 1 << 16  # power of two: float*scale is exact in double arithmetic

_QUANT = f"transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {Q_SCALE}) AS BIGINT))"
_QUANT_DUCK = (
    f"list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {Q_SCALE}) AS BIGINT))"
)


def covariance_pairs(e: DataFrame) -> DataFrame:
    """Upper-triangle exact integer second-moment accumulation:
    (dim_i <= dim_j) -> n, sum_i, sum_j, sum_ij, cov_numerator where
    cov_numerator = n*sum_ij - sum_i*sum_j (= n² times the covariance,
    exact)."""
    pairs = e.select(F.col(_QUANT_ALIAS).alias("qv")).select(
        F.expr(
            f"""
            explode(flatten(transform(sequence(0, {DIM - 1}), i ->
                transform(sequence(i, {DIM - 1}), j ->
                    named_struct('i', i, 'j', j,
                                 'qi', qv[i], 'qj', qv[j]))))) AS s
            """
        )
    ).select(
        F.col("s.i").alias("dim_i"),
        F.col("s.j").alias("dim_j"),
        F.col("s.qi").alias("qi"),
        F.col("s.qj").alias("qj"),
    )
    agg = pairs.groupBy("dim_i", "dim_j").agg(
        F.count("*").alias("n"),
        F.sum("qi").alias("sum_i"),
        F.sum("qj").alias("sum_j"),
        F.sum(F.col("qi") * F.col("qj")).alias("sum_ij"),
    )
    return agg.select(
        "dim_i",
        "dim_j",
        "n",
        "sum_i",
        "sum_j",
        "sum_ij",
        (F.col("n") * F.col("sum_ij") - F.col("sum_i") * F.col("sum_j")).alias(
            "cov_numerator"
        ),
    )


# covariance_pairs consumes a frame that already carries the quantized
# vector under this alias (keeps the quantize expression in one place)
_QUANT_ALIAS = "qv"


def quantized(e: DataFrame) -> DataFrame:
    return e.select("vec_id", F.expr(_QUANT).alias(_QUANT_ALIAS))


@register(
    "embedding_covariance",
    oracle=f"""
    WITH q AS (SELECT {_QUANT_DUCK} AS qv FROM embeddings),
    p AS (
        SELECT a.i AS dim_i, b.i AS dim_j,
               q.qv[a.i + 1] AS qi, q.qv[b.i + 1] AS qj
        FROM q,
             generate_series(0, {DIM - 1}) a(i),
             generate_series(0, {DIM - 1}) b(i)
        WHERE a.i <= b.i
    ),
    agg AS (
        SELECT dim_i, dim_j,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(qi) AS BIGINT) AS sum_i,
               CAST(SUM(qj) AS BIGINT) AS sum_j,
               CAST(SUM(qi * qj) AS BIGINT) AS sum_ij
        FROM p GROUP BY 1, 2
    )
    SELECT dim_i, dim_j, n, sum_i, sum_j, sum_ij,
           n * sum_ij - sum_i * sum_j AS cov_numerator
    FROM agg
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer covariance accumulation over the embedding corpus —
    the distributed half of PCA (the D×D eigensolve on the result is a
    driver-side epilogue; see :func:`top_principal_component`)."""
    e = load_embeddings(spark, sf_dir)
    return covariance_pairs(quantized(e))


def gram_partial_numpy(e: DataFrame) -> DataFrame:
    """The large-D production variant: per-partition numpy outer-product
    accumulation over Arrow batches (``mapInPandas``), emitting ONE partial
    (n, sums[D], gram[D*D]) row per batch; the driver-side final combine is
    a tiny exact-integer reduction. Same integer contract as
    :func:`covariance_pairs` — equality is asserted in
    tests/test_properties.py."""
    import numpy as np
    import pandas as pd

    def op(batches):
        for pdf in batches:
            m = np.array([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
            if len(m) == 0:
                continue
            gram = m.T @ m  # int64-exact: |q|<2^16, n_batch bounded by Arrow
            yield pd.DataFrame(
                {
                    "n": [len(m)],
                    "sums": [m.sum(axis=0).tolist()],
                    "gram": [gram.reshape(-1).tolist()],
                }
            )

    return e.mapInPandas(
        op, schema="n long, sums array<long>, gram array<long>"
    )


def covariance_from_partials(partials: DataFrame) -> tuple[int, list, list]:
    """Final combine of :func:`gram_partial_numpy` output: exact integer
    (n, sums[D], gram[D][D]). The collect is bounded: one row per Arrow
    batch, each D + D² integers."""
    import numpy as np

    n_total = 0
    sums = np.zeros(DIM, dtype=object)
    gram = np.zeros((DIM, DIM), dtype=object)
    for row in partials.collect():
        n_total += row.n
        sums += np.array(row.sums, dtype=object)
        gram += np.array(row.gram, dtype=object).reshape(DIM, DIM)
    return n_total, sums.tolist(), gram.tolist()


def top_principal_component(
    n: int, sums: list, gram: list, n_iter: int = 50
) -> list[float]:
    """Driver-side epilogue: power iteration for the top eigenvector of the
    (exact-integer) covariance matrix. Deterministic — fixed start vector,
    fixed iteration count, and the D×D float math runs in one place (the
    driver), so there is no partition-order sensitivity anywhere."""
    cov = [
        [
            (n * gram[i][j] - sums[i] * sums[j]) / (n * n * Q_SCALE * Q_SCALE)
            for j in range(DIM)
        ]
        for i in range(DIM)
    ]
    v = [1.0] * DIM
    for _ in range(n_iter):
        w = [sum(cov[i][j] * v[j] for j in range(DIM)) for i in range(DIM)]
        norm = sum(x * x for x in w) ** 0.5
        if norm == 0.0:
            return w
        v = [x / norm for x in w]
    return v


# --------------------------------------- embedding QC: contract quarantine
@register(
    "embedding_contract_quarantine",
    oracle=f"""
    WITH probe AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(x))) AS amax
        FROM embeddings
    )
    SELECT vec_id,
           CASE WHEN embedding IS NULL THEN 'null_vector'
                WHEN amax IS NULL THEN 'empty_vector'
                WHEN len(embedding) <> {DIM} THEN 'wrong_dim'
                WHEN isnan(amax) OR amax = 'infinity'::DOUBLE
                    THEN 'non_finite'
                WHEN amax <= 0 THEN 'zero_vector'
                ELSE 'out_of_bound' END AS reason
    FROM probe
    WHERE embedding IS NULL OR amax IS NULL OR len(embedding) <> {DIM}
       OR NOT (amax > 0 AND amax <= {EMBEDDING_MAX_ABS:g})
    ORDER BY vec_id
    """,
    contracts=False,  # reads RAW: its purpose is to report the excluded rows
)
def embedding_contract_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector contract's quarantine report: every row
    ``load_embeddings`` excludes, with its reason (NULL vector / empty
    vector / ragged vector of other than ``DIM`` components / NaN-or-Inf
    component / zero vector / component magnitude past the envelope
    bound). The "dropped rows are never silent" side-channel
    for the contract — run it next to any vector pipeline to audit what a
    failed encoder batch shipped. Reads the RAW table (``contracts=False``
    opts the oracle out of the rewrite); uses no distance arithmetic, so
    it is safe on exactly the vectors the analytical operators cannot
    touch."""
    e = read_star_parquet(spark, f"{sf_dir}/embeddings.parquet")
    amax = F.array_max(F.transform(F.col("embedding"), F.abs))
    probe = e.select("vec_id", "embedding", amax.alias("amax"))
    reason = (
        F.when(F.col("embedding").isNull(), "null_vector")
        .when(F.col("amax").isNull(), "empty_vector")
        .when(F.size("embedding") != DIM, "wrong_dim")
        .when(
            F.isnan("amax") | (F.col("amax") == float("inf")), "non_finite"
        )
        .when(F.col("amax") <= 0, "zero_vector")
        .otherwise("out_of_bound")
    )
    return (
        probe.where(
            F.col("embedding").isNull()
            | F.col("amax").isNull()
            | (F.size("embedding") != DIM)
            | ~((F.col("amax") > 0) & (F.col("amax") <= EMBEDDING_MAX_ABS))
        )
        .select("vec_id", reason.alias("reason"))
        .orderBy("vec_id")
    )


# ------------------------------------------------- embedding QC: norms
@register(
    "embedding_norm_outliers",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               CAST(list_sum(list_transform({_QUANT_DUCK},
                    x -> x * x)) AS BIGINT) AS sqnorm_fp
        FROM embeddings
    ),
    m AS (SELECT CAST(SUM(sqnorm_fp) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n FROM q)
    SELECT vec_id, sqnorm_fp,
           (100 * sqnorm_fp * m.n) // m.total AS pct_of_mean,
           (sqnorm_fp * m.n > 2 * m.total
            OR 2 * sqnorm_fp * m.n < m.total) AS flagged
    FROM q, m
    """,
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus QC: exact fixed-point squared norm per vector and a
    flag for vectors whose norm is more than 2x (or less than half) the
    corpus mean — the cheap detector for corrupted/zeroed/unnormalized
    embeddings before they poison an ANN index. One projection + one
    broadcast 1-row mean; comparisons stay in integer cross-multiplied
    form (no division, no floats)."""
    e = load_embeddings(spark, sf_dir)
    q = e.select(
        "vec_id",
        F.expr(
            f"aggregate({_QUANT}, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
        ).alias("sqnorm_fp"),
    )
    m = q.agg(
        F.sum("sqnorm_fp").alias("total"), F.count("*").alias("n")
    )
    return q.crossJoin(F.broadcast(m)).select(
        "vec_id",
        "sqnorm_fp",
        F.expr("(100 * sqnorm_fp * n) div total").alias("pct_of_mean"),
        (
            (F.col("sqnorm_fp") * F.col("n") > 2 * F.col("total"))
            | (2 * F.col("sqnorm_fp") * F.col("n") < F.col("total"))
        ).alias("flagged"),
    )


# ------------------------------------------- per-dimension variance share
@register(
    "embedding_variance_by_dim",
    oracle=f"""
    WITH q AS (SELECT {_QUANT_DUCK} AS qv FROM embeddings),
    d AS (
        SELECT i.i AS dim, q.qv[i.i + 1] AS qx
        FROM q, generate_series(0, {DIM - 1}) i(i)
    ),
    agg AS (
        SELECT dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(qx) AS BIGINT) AS sum_x,
               CAST(SUM(qx * qx) AS BIGINT) AS sum_xx
        FROM d GROUP BY dim
    ),
    var AS (
        SELECT dim, n, n * sum_xx - sum_x * sum_x AS var_num FROM agg
    )
    SELECT dim, var_num,
           (1000 * var_num)
               // (SELECT CAST(SUM(var_num) AS BIGINT) FROM var)
               AS share_permille
    FROM var
    """,
)
def embedding_variance_by_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension exact variance (integer numerator n·Σx² − (Σx)²) and
    its permille share of total variance — the diagnostic that tells you
    which matryoshka prefix keeps how much signal and whether any
    dimension is dead (share 0) or dominant. One explode to (dim, value),
    map-side-combinable sums, a broadcast 1-row total."""
    e = load_embeddings(spark, sf_dir)
    d = e.select(
        F.posexplode(F.expr(_QUANT)).alias("dim", "qx")
    ).withColumn("dim", F.col("dim").cast("long"))
    agg = d.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("qx").alias("sum_x"),
        F.sum(F.col("qx") * F.col("qx")).alias("sum_xx"),
    )
    var = agg.select(
        "dim",
        (F.col("n") * F.col("sum_xx") - F.col("sum_x") * F.col("sum_x")).alias(
            "var_num"
        ),
    )
    tot = var.agg(F.sum("var_num").alias("total"))
    return var.crossJoin(F.broadcast(tot)).select(
        "dim",
        "var_num",
        # nullif: a 1-vector corpus has zero total variance -> NULL shares
        # (DuckDB's // 0), not an ANSI error
        F.expr("(1000 * var_num) div nullif(total, 0)").alias(
            "share_permille"
        ),
    )


# ------------------------------------------- pairwise dot histogram
#
# Corpus-geometry QC: the distribution of dot products between embedding
# pairs (tight around a positive mode → collapsed/anisotropic space, the
# known failure mode of contrastive encoders). Computing ALL pairs is
# O(n²); the diagnostic only needs a representative sample, so pairs come
# from a deterministic modular derangement (partner(id) = (7·id+3) mod n —
# coprime multiplier, so the pairing is a permutation and reproducible at
# any scale, no RNG). One equi-join on the partner id + a JVM zip_with
# fold per pair; the histogram buckets the exact fixed-point dot.
_DOT_BUCKET = 1 << 28


@register(
    "embedding_dot_histogram",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
    q AS (SELECT vec_id, {_QUANT_DUCK} AS qv FROM embeddings),
    pairs AS (
        SELECT a.vec_id AS id_a, a.qv AS qa, b.qv AS qb
        FROM q a
        JOIN n ON TRUE
        JOIN q b ON b.vec_id = (a.vec_id * 7 + 3) % n.n
        WHERE b.vec_id <> a.vec_id
    ), dots AS (
        SELECT id_a, CAST(SUM(ea * eb) AS BIGINT) AS dot_fp
        FROM (SELECT id_a, UNNEST(qa) AS ea, UNNEST(qb) AS eb FROM pairs)
        GROUP BY id_a
    )
    SELECT dot_fp // {_DOT_BUCKET} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM dots GROUP BY bucket ORDER BY bucket
    """,
)
def embedding_dot_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of exact fixed-point dot products over a deterministic
    modular-derangement pair sample — the anisotropy diagnostic. See the
    section comment; the join key is the computed partner id (hash-join
    shuffle on a uniform key), the fold is JVM-side zip_with/aggregate."""
    e = load_embeddings(spark, sf_dir)
    # the modulus enters as a broadcast 1-row aggregate, not a collected
    # literal (the scalar-subquery rule from the TPC-H family)
    n_row = e.agg(F.count("*").alias("n"))
    q = e.select("vec_id", F.expr(_QUANT).alias("qv"))
    a = q.crossJoin(F.broadcast(n_row)).select(
        F.col("vec_id").alias("id_a"),
        F.col("qv").alias("qa"),
        ((F.col("vec_id") * 7 + 3) % F.col("n")).alias("partner"),
    )
    b = q.select(F.col("vec_id").alias("id_b"), F.col("qv").alias("qb"))
    dots = (
        a.join(b, a.partner == b.id_b)
        .filter(F.col("id_b") != F.col("id_a"))
        .select(
            F.expr(
                "aggregate(zip_with(qa, qb, (x, y) -> x * y),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("dot_fp")
        )
    )
    return (
        dots.groupBy(F.expr(f"dot_fp div {_DOT_BUCKET}").alias("bucket"))
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("bucket")
    )


@register(
    "embedding_participation_ratio",
    oracle=f"""
    WITH q AS (SELECT {_QUANT_DUCK} AS qv FROM embeddings),
    d AS (
        SELECT i.i AS dim, q.qv[i.i + 1] AS qx
        FROM q, generate_series(0, {DIM - 1}) i(i)
    ),
    agg AS (
        SELECT dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(qx) AS BIGINT) AS sum_x,
               CAST(SUM(qx * qx) AS BIGINT) AS sum_xx
        FROM d GROUP BY dim
    ),
    var AS (
        SELECT dim, n * sum_xx - sum_x * sum_x AS var_num FROM agg
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
               SUM(CAST(var_num AS HUGEINT)) AS sv,
               SUM(CAST(var_num AS HUGEINT) * var_num) AS sv2
        FROM var
    )
    SELECT n_dims,
           CAST((1000 * sv * sv) // sv2 AS BIGINT) AS pr_permille
    FROM tot
    """,
)
def embedding_participation_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Participation ratio of the per-dimension variance spectrum —
    PR = (Σλ)²/Σλ² in [1, D] — the one-number intrinsic-dimension proxy
    (PR ≈ D: isotropic, healthy; PR ≪ D: variance collapsed into few
    directions). Emitted as exact integer permille (so 64000 = all {D}
    dims participate) on the same integer variance numerators as
    [[embedding_variance_by_dim]]; squares ride DECIMAL(38,0)/HUGEINT
    (int64 would overflow), output stays BIGINT.""".replace("{D}", str(DIM))
    e = load_embeddings(spark, sf_dir)
    d = e.select(
        F.posexplode(F.expr(_QUANT)).alias("dim", "qx")
    )
    agg = d.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("qx").alias("sum_x"),
        F.sum(F.col("qx") * F.col("qx")).alias("sum_xx"),
    )
    var = agg.select(
        (
            F.col("n") * F.col("sum_xx") - F.col("sum_x") * F.col("sum_x")
        ).alias("var_num")
    )
    tot = var.agg(
        F.count("*").alias("n_dims"),
        F.sum(F.col("var_num").cast("decimal(38,0)")).alias("sv"),
        F.sum(
            F.col("var_num").cast("decimal(38,0)") * F.col("var_num")
        ).alias("sv2"),
    )
    return tot.select(
        "n_dims",
        # nullif: zero variance spectrum (single vector) -> NULL, matching
        # DuckDB's // 0, instead of an ANSI divide-by-zero error
        F.expr("CAST((1000 * sv * sv) div nullif(sv2, 0) AS BIGINT)").alias(
            "pr_permille"
        ),
    )


@register(
    "embedding_label_confusion",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label, {_QUANT_DUCK} AS qv FROM embeddings
    ), d AS (
        SELECT vec_id, label, i.i AS dim, qv[i.i + 1] AS qx
        FROM q, generate_series(0, {DIM - 1}) i(i)
    ), cent AS (
        SELECT label AS clabel, dim,
               CAST(SUM(qx) AS BIGINT) // COUNT(*) AS c
        FROM d GROUP BY 1, 2
    ), dist AS (
        SELECT d.vec_id, d.label, cent.clabel,
               CAST(SUM((d.qx - cent.c) * (d.qx - cent.c)) AS BIGINT)
                   AS dist
        FROM d JOIN cent ON cent.dim = d.dim
        GROUP BY 1, 2, 3
    ), nearest AS (
        SELECT vec_id, label, clabel AS nearest_label, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, clabel) AS rn
        FROM dist
    )
    SELECT vec_id, label AS own_label, nearest_label,
           CAST(dist AS BIGINT) AS nearest_dist
    FROM nearest
    WHERE rn = 1 AND nearest_label <> label
    ORDER BY vec_id
    """,
)
def embedding_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise mining, geometric version: vectors that sit closer to
    ANOTHER label's centroid than to their own — the shortlist a labeling
    QA queue reviews first. Centroids are floor-quantized to integers
    (s div n per dimension), so every vector-to-centroid distance is a
    plain int64 sum directly comparable across labels — no ratio
    arithmetic, no floats, and argmin ties break on the smaller label in
    both engines. The |labels|-wide expansion makes this the exact
    verifier; at corpus scale the same question routes through the
    verified k-means/ANN ladder."""
    e = load_embeddings(spark, sf_dir)
    d = e.select(
        "vec_id", "label", F.posexplode(F.expr(_QUANT)).alias("dim", "qx")
    )
    cent = d.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.expr("sum(qx) div count(*)").alias("c")
    )
    dist = (
        d.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                (F.col("qx") - F.col("c")) * (F.col("qx") - F.col("c"))
            ).alias("dist")
        )
    )
    nearest = dist.groupBy("vec_id", "label").agg(
        F.min(F.struct("dist", "clabel")).alias("m")
    )
    return (
        nearest.filter(F.col("m.clabel") != F.col("label"))
        .select(
            "vec_id",
            F.col("label").alias("own_label"),
            F.col("m.clabel").alias("nearest_label"),
            F.col("m.dist").alias("nearest_dist"),
        )
        .orderBy("vec_id")
    )


# ------------------------------------------- k-center greedy coreset
#
# Diverse-subset selection (the coreset every data-selection paper
# benchmarks against): greedily pick the point FARTHEST from everything
# chosen so far. The selection is inherently sequential in k, but each
# step is one distributed max over a running min-distance column — k
# bounded driver rounds, each collecting exactly one (id, qv) row (the
# kmeans K×D-collect precedent). Distances are exact integers on the
# shared fixed-point quantization, ties break to the smaller vec_id, so
# the DuckDB oracle replays the identical unrolled selection.
CORESET_K = 5


def _coreset_oracle() -> str:
    dist = (
        "list_sum(list_transform(list_zip(v.qv, c{i}.qv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    sql = f"""
    WITH q AS (SELECT vec_id, {_QUANT_DUCK} AS qv FROM embeddings),
    c0 AS (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1),
    d0 AS (
        SELECT v.vec_id, v.qv,
               CAST({dist.format(i=0)} AS BIGINT) AS mind
        FROM q v, c0
    )"""
    prev_d = "d0"
    for k in range(1, CORESET_K):
        sql += f""",
    c{k} AS (
        SELECT vec_id, qv, mind FROM {prev_d}
        ORDER BY mind DESC, vec_id LIMIT 1
    ),
    d{k} AS (
        SELECT v.vec_id, v.qv,
               LEAST(v.mind, CAST({dist.format(i=k)} AS BIGINT)) AS mind
        FROM {prev_d} v, c{k}
    )"""
        prev_d = f"d{k}"
    picks = ["SELECT 0 AS pick_idx, vec_id, CAST(0 AS BIGINT) AS radius FROM c0"]
    for k in range(1, CORESET_K):
        picks.append(
            f"SELECT {k}, vec_id, CAST(mind AS BIGINT) FROM c{k}"
        )
    sql += "\n" + " UNION ALL ".join(picks) + " ORDER BY pick_idx"
    return sql


@register("sim_kcenter_coreset", oracle=_coreset_oracle())
def sim_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset of the embedding corpus: the {K} maximally
    spread vectors, each with the max-min distance ("radius") at the
    moment it was chosen — a monotone non-increasing sequence whose last
    value bounds how well {K} exemplars cover the space. See the section
    comment for the sequential-step/driver-round structure; the oracle
    unrolls the same selection.""".replace("{K}", str(CORESET_K))
    e = load_embeddings(spark, sf_dir)
    q = e.select("vec_id", F.expr(_QUANT).alias("qv"))
    picks, _ = kcenter_greedy(q, CORESET_K)
    return spark.createDataFrame(
        picks, "pick_idx int, vec_id long, radius long"
    ).orderBy("pick_idx")


def kcenter_greedy(
    q: DataFrame, k: int, checkpoint_every: int | None = 8
) -> tuple[list[tuple[int, int, int]], DataFrame]:
    """Greedy k-center over a (vec_id, qv:array<bigint>) frame. Each round
    chains one ``withColumn`` (running min-distance) onto the frame, so the
    logical plan grows linearly in k; ``checkpoint_every`` truncates the
    lineage with an eager ``localCheckpoint`` every R rounds (the
    connected-components pattern, dedup.py) — without it, large k makes
    analysis/optimization time itself the bottleneck long before the data
    does. Returns (picks, final frame with the converged min-distances)."""

    def dist_to(qv_literal: list) -> F.Column:
        c = F.array(*[F.lit(int(x)) for x in qv_literal])
        return F.aggregate(
            F.zip_with(F.col("qv"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    seeds = q.orderBy("vec_id").limit(1).collect()
    if not seeds:  # empty corpus: nothing to pick, nothing to iterate
        return [], q.withColumn("mind", F.lit(None).cast("bigint"))
    seed = seeds[0]
    picks = [(0, seed.vec_id, 0)]
    cur = q.withColumn("mind", dist_to(seed.qv))
    for i in range(1, k):
        far = cur.orderBy(F.desc("mind"), "vec_id").limit(1).collect()[0]
        picks.append((i, far.vec_id, far.mind))
        cur = cur.withColumn("mind", F.least(F.col("mind"), dist_to(far.qv)))
        if checkpoint_every and i % checkpoint_every == 0:
            cur = cur.localCheckpoint(eager=True)
    return picks, cur


@register(
    "embedding_triplet_accuracy",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label, {_QUANT_DUCK} AS qv FROM embeddings
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
    anchors AS (
        SELECT vec_id, label, qv,
               LEAD(vec_id) OVER (PARTITION BY label ORDER BY vec_id)
                   AS pos_id
        FROM q
    ), trip AS (
        SELECT a.vec_id, a.label, a.qv,
               p.qv AS pos_qv,
               g.label AS neg_label, g.qv AS neg_qv
        FROM anchors a
        JOIN q p ON p.vec_id = a.pos_id
        JOIN n ON TRUE
        JOIN q g ON g.vec_id = (a.vec_id * 7 + 3) % n.n
        WHERE g.label <> a.label
    ), scored AS (
        SELECT CASE WHEN
            list_sum(list_transform(list_zip(qv, pos_qv),
                x -> (x[1] - x[2]) * (x[1] - x[2])))
            <
            list_sum(list_transform(list_zip(qv, neg_qv),
                x -> (x[1] - x[2]) * (x[1] - x[2])))
            THEN 1 ELSE 0 END AS ok
        FROM trip
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triplets,
           CAST(SUM(ok) AS BIGINT) AS n_satisfied,
           CAST((1000 * SUM(ok)) // COUNT(*) AS BIGINT)
               AS accuracy_permille
    FROM scored
    """,
)
def embedding_triplet_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-learning sanity check: over deterministic triplets (anchor;
    positive = next same-label vector by id; negative = the modular
    derangement partner when its label differs), the share where the
    anchor sits closer to its positive than its negative — exact
    fixed-point distances, integer permille accuracy. Near 1000 means the
    space respects the labels; near 500 means it's no better than chance.
    One label-partitioned window + two id joins, negatives deterministic
    with no RNG."""
    e = load_embeddings(spark, sf_dir)
    q = e.select("vec_id", "label", F.expr(_QUANT).alias("qv"))
    from pyspark.sql import Window as W

    anchors = q.withColumn(
        "pos_id",
        F.lead("vec_id").over(W.partitionBy("label").orderBy("vec_id")),
    )
    n_row = q.agg(F.count("*").alias("n"))
    p = q.select(
        F.col("vec_id").alias("pid"), F.col("qv").alias("pos_qv")
    )
    g = q.select(
        F.col("vec_id").alias("gid"),
        F.col("label").alias("neg_label"),
        F.col("qv").alias("neg_qv"),
    )
    trip = (
        anchors.join(p, anchors.pos_id == F.col("pid"))
        .crossJoin(F.broadcast(n_row))
        .join(g, F.expr("gid = (vec_id * 7 + 3) % n"))
        .filter(F.col("neg_label") != F.col("label"))
    )
    dist = (
        "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    scored = trip.select(
        F.expr(
            f"CASE WHEN {dist.format(a='qv', b='pos_qv')}"
            f" < {dist.format(a='qv', b='neg_qv')} THEN 1 ELSE 0 END"
        ).alias("ok")
    )
    return scored.agg(
        F.count("*").alias("n_triplets"),
        F.sum("ok").alias("n_satisfied"),
        F.expr("(1000 * sum(ok)) div count(*)").alias(
            "accuracy_permille"
        ),
    )
