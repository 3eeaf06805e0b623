"""Graph analytics over the near-dup candidate graph: fixed-point PageRank.

The dedup pipeline's pair graph (``dedup.py``) already supports connected
components (propagation + large-star/small-star) and a triangle census; this
module adds the other classic iterative graph algorithm a curation pipeline
wants — PageRank as a duplicate-cluster "centrality" score (which documents
sit at the center of a template family vs. on its fringe).

Reference parity note: the reference repo (pepsi-monster/polars-ad-etl) has
no graph surface at all; this extends the training-data-pipeline layer the
brief adds on top.

**Determinism / oracle strategy** (same trick as ``sim_kmeans_clusters``'s
integer Lloyd): floats in an iterative algorithm are partition-order-
dependent, so the whole iteration runs in fixed-point INTEGER arithmetic —
``pr/outdeg`` and the damping multiply use integer division, and the only
cross-row reduction is an exact integer SUM (order-independent). A fixed
iteration count (no convergence epsilon) makes the result a pure function of
the graph, so DuckDB can replay the identical unrolled iterations and
hash-match.

**Scale shape**: per iteration — one join (edges ⋈ ranks, both pre-hashed on
the same key) and one groupBy(dst) SUM with map-side partial aggregation.
That is the canonical BSP PageRank data layout; the edge list never
materializes more than once (localCheckpoint after construction), and the
driver holds nothing but loop control: every iterative operator here runs
its rounds on ``dedup._iterate``, the loop connected components uses. At
100 TB the edge table would be bucketed by ``src`` so the per-iteration
join is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_ad_etl_spark.operators.dedup import (
    _canonical_edges,
    _iterate,
    _lsh_pairs_oracle,
    _symmetric,
    dedup_minhash_lsh_pairs,
)
from polars_ad_etl_spark.operators.registry import register

SCALE = 10**12          # fixed-point unit: pr values sum to ~SCALE
DAMP_NUM, DAMP_DEN = 85, 100
N_ITER = 3


def pagerank_fixed_point(edges: DataFrame, n_iter: int = N_ITER) -> DataFrame:
    """Fixed-iteration integer PageRank over an undirected edge list
    (columns ``a``, ``b``) → (node, pagerank_fp).

    Both directions of every pair contribute, so every node has out-degree
    ≥ 1 and there is no dangling-mass term. All arithmetic is exact integer
    (div / multiply / SUM), so the result is independent of partitioning —
    the property the DuckDB oracle relies on."""
    sym = _symmetric(edges.filter(F.col("a") != F.col("b"))).toDF("src", "dst")
    deg = sym.groupBy("src").agg(F.count("*").alias("outdeg"))
    # attach outdeg once so the loop joins a single prepared edge table
    edges_deg = sym.join(deg, "src").localCheckpoint(eager=True)
    n_row = deg.agg(F.count("*").alias("n"))
    pr = (
        deg.select(F.col("src").alias("id"))
        .crossJoin(F.broadcast(n_row))
        .select("id", F.expr(f"{SCALE} div n").alias("pr"))
        .localCheckpoint(eager=True)
    )

    def step(pr: DataFrame) -> DataFrame:
        contrib = edges_deg.join(pr, edges_deg.src == pr.id).select(
            "dst", F.expr("pr div outdeg").alias("c")
        )
        return (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(n_row))
            .select(
                F.col("dst").alias("id"),
                F.expr(
                    f"({100 - DAMP_NUM} * {SCALE}) div ({DAMP_DEN} * n)"
                    f" + ({DAMP_NUM} * s) div {DAMP_DEN}"
                ).alias("pr"),
            )
        )

    pr = _iterate(pr, step, rounds=n_iter)
    return pr.select(F.col("id").alias("node"), F.col("pr").alias("pagerank_fp"))


def _pagerank_oracle() -> str:
    base = f"(SELECT ({100 - DAMP_NUM} * {SCALE}) // ({DAMP_DEN} * n) FROM n)"
    its = []
    prev = "pr0"
    for k in range(1, N_ITER + 1):
        its.append(f"""
    it{k} AS (
        SELECT e.dst AS id,
               {base} + ({DAMP_NUM} * CAST(SUM(p.pr // d.outdeg) AS BIGINT))
                          // {DAMP_DEN} AS pr
        FROM edges e
        JOIN {prev} p ON p.id = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    )""")
        prev = f"it{k}"
    return f"""
    WITH pairs AS ({_lsh_pairs_oracle()}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE doc_a <> doc_b
        UNION ALL
        SELECT doc_b, doc_a FROM pairs WHERE doc_a <> doc_b
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
    pr0 AS (SELECT src AS id, {SCALE} // n.n AS pr FROM deg, n),
    {",".join(its)}
    SELECT id AS doc_id, pr AS pagerank_fp FROM {prev}
    """


@register("graph_pagerank_dedup", oracle=_pagerank_oracle())
def graph_pagerank_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash-LSH near-dup pair graph: high
    scores mark template/boilerplate hubs whose text matches many other
    documents — a ranking signal for which cluster exemplar to KEEP (the
    most central copy) versus ``dedup_near_dup_keep_list``'s min-id rule.
    {N_ITER} fixed iterations of integer fixed-point PageRank, replayed
    identically by the unrolled DuckDB oracle."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).localCheckpoint(eager=True)
    return pagerank_fixed_point(
        pairs.selectExpr("doc_a AS a", "doc_b AS b")
    ).select(F.col("node").alias("doc_id"), "pagerank_fp")


# ------------------------------------------------- degree distribution
@register(
    "graph_degree_distribution",
    oracle=f"""
    WITH pairs AS ({_lsh_pairs_oracle()}),
    edges AS (
        SELECT doc_a AS src FROM pairs WHERE doc_a <> doc_b
        UNION ALL
        SELECT doc_b FROM pairs WHERE doc_a <> doc_b
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY src)
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup candidate graph — the structural
    QC companion to the triangle census and PageRank: a power-law tail
    here means template hubs (salt candidates for the CC contraction), a
    flat spectrum means well-separated duplicate pairs. Two stacked
    map-side-combinable aggregates over the pair list."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).filter(
        F.col("doc_a") != F.col("doc_b")
    )
    edges = pairs.select(F.col("doc_a").alias("src")).unionByName(
        pairs.select(F.col("doc_b").alias("src"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


# ---------------------------------------------------- k-core peeling
#
# The k-core (maximal subgraph where every node keeps degree ≥ k) is the
# third iterative-graph tool a curation pipeline wants: dense template
# families survive 2-core peeling, incidental pairwise matches do not —
# a sharper spam/boilerplate signal than raw degree. Same oracle strategy
# as PageRank: a FIXED number of peeling rounds (not a convergence test)
# makes the result a pure function of the graph, so DuckDB replays the
# identical unrolled rounds; a pytest asserts an extra round is a no-op at
# test scale, i.e. the fixed count reaches the true fixpoint there. Each
# round is one degree aggregation + two semi-joins, checkpointed by
# ``dedup._iterate`` (the connected-components loop); at 100 TB the edge
# list is bucketed by src so rounds reuse the partitioning.
K_CORE = 2
CORE_ROUNDS = 3


def kcore_edges(edges: DataFrame, k: int = K_CORE, rounds: int = CORE_ROUNDS) -> DataFrame:
    """Peel an undirected edge list (columns ``a``, ``b``) for ``rounds``
    iterations; returns the surviving symmetric edge list (src, dst)."""
    sym = _symmetric(edges.filter(F.col("a") != F.col("b"))).toDF("src", "dst")

    def peel(e: DataFrame) -> DataFrame:
        deg = e.groupBy("src").agg(F.count("*").alias("c"))
        keep = deg.filter(F.col("c") >= k).select("src")
        return e.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )

    return _iterate(sym.localCheckpoint(eager=True), peel, rounds=rounds)


def _kcore_oracle() -> str:
    rounds = []
    prev = "e0"
    for r in range(1, CORE_ROUNDS + 1):
        rounds.append(f"""
    d{r} AS (SELECT src, COUNT(*) AS c FROM {prev} GROUP BY src),
    k{r} AS (SELECT src FROM d{r} WHERE c >= {K_CORE}),
    e{r} AS (SELECT e.src, e.dst FROM {prev} e
             JOIN k{r} a ON a.src = e.src
             JOIN k{r} b ON b.src = e.dst)""")
        prev = f"e{r}"
    return f"""
    WITH pairs AS ({_lsh_pairs_oracle()}),
    e0 AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE doc_a <> doc_b
        UNION ALL
        SELECT doc_b, doc_a FROM pairs WHERE doc_a <> doc_b
    ),
    {",".join(rounds)}
    SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM {prev} GROUP BY src ORDER BY doc_id
    """


@register("graph_kcore_members", oracle=_kcore_oracle())
def graph_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents surviving 2-core peeling of the near-dup pair graph, with
    their within-core degree — the dense-template-family membership list.
    See the section comment for the fixed-rounds oracle strategy."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).localCheckpoint(eager=True)
    core = kcore_edges(pairs.selectExpr("doc_a AS a", "doc_b AS b"))
    return (
        core.groupBy("src")
        .agg(F.count("*").alias("core_degree"))
        .select(F.col("src").alias("doc_id"), "core_degree")
        .orderBy("doc_id")
    )


@register(
    "graph_clustering_coefficients",
    oracle=f"""
    WITH pairs AS ({_lsh_pairs_oracle()}),
    e AS (
        SELECT DISTINCT LEAST(doc_a, doc_b) AS a,
               GREATEST(doc_a, doc_b) AS b
        FROM pairs WHERE doc_a <> doc_b
    ),
    sym AS (
        SELECT a AS src, b AS dst FROM e
        UNION ALL SELECT b, a FROM e
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree
            FROM sym GROUP BY src),
    tri AS (
        SELECT w1.src AS node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM sym w1
        JOIN sym w2 ON w2.src = w1.src AND w1.dst < w2.dst
        JOIN e ON e.a = w1.dst AND e.b = w2.dst
        GROUP BY w1.src
    )
    SELECT d.src AS doc_id, d.degree,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST((2000 * COALESCE(t.n_triangles, 0))
                // (d.degree * (d.degree - 1)) AS BIGINT)
               AS clustering_permille
    FROM deg d LEFT JOIN tri t ON t.node = d.src
    WHERE d.degree >= 2
    ORDER BY doc_id
    """,
)
def graph_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the near-dup graph —
    2·T_v / deg_v(deg_v − 1) in exact permille — separating tight template
    CLIQUES (coefficient → 1000) from hub-and-spoke false-positive stars
    (→ 0), the structural signal the global triangle census can't localize.
    Wedges centered at each node join against the canonical edge set; the
    wedge fan-out is Σ deg², the quantity [[profile_key_skew]]-style
    diagnostics bound before running at scale."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    e = _canonical_edges(
        pairs.selectExpr("doc_a AS a", "doc_b AS b")
    ).localCheckpoint(eager=True)
    sym = _symmetric(e).toDF("src", "dst")
    deg = sym.groupBy("src").agg(F.count("*").alias("degree"))
    w1 = sym.select(F.col("src").alias("node"), F.col("dst").alias("u"))
    w2 = sym.select(F.col("src").alias("node2"), F.col("dst").alias("w"))
    wedges = w1.join(
        w2, (F.col("node2") == F.col("node")) & (F.col("u") < F.col("w"))
    )
    tri = wedges.join(
        e,
        (F.col("a") == F.col("u")) & (F.col("b") == F.col("w")),
        "left_semi",
    ).groupBy("node").agg(F.count("*").alias("n_triangles"))
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, deg.src == tri.node, "left_outer")
        .select(
            F.col("src").alias("doc_id"),
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.expr(
                "(2000 * coalesce(n_triangles, 0))"
                " div (degree * (degree - 1))"
            ).alias("clustering_permille"),
        )
        .orderBy("doc_id")
    )
