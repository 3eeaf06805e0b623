"""Property-based spot checks (SURVEY §5.2-5, hypothesis):

- standardize is total on any frame whose mapped columns parse — the union of
  standardized frames always matches the declared schema exactly;
- A1 range math round-trips for arbitrary shapes;
- the portable hash32 is always in [0, 2^32).
"""

import string

from hypothesis import HealthCheck, given, settings, strategies as st

from polars_ad_etl_spark.plans import MultiSourceAdETL, PipelineConfig
from polars_ad_etl_spark.plans.schema import Float64, Int64, String
from polars_ad_etl_spark.utils import column_letter, shape_to_a1

name_st = st.text(string.ascii_letters, min_size=1, max_size=8)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(-(2**31), 2**31),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
            name_st,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_standardize_union_always_matches_schema(spark_session_holder, rows):
    spark = spark_session_holder
    cfg = PipelineConfig(
        rename_config={
            "A": {"k": "Key", "v": "Val", "s": "Name"},
            "B": {"key": "Key", "val": "Val"},
        },
        standard_schema={
            "Source": String,
            "Key": Int64,
            "Val": Float64,
            "Name": String,
        },
        source_config={"A": ["k", "v"], "B": ["key"]},
    )
    a = spark.createDataFrame(rows, ["k", "v", "s"])
    b = spark.createDataFrame([(r[0], r[1]) for r in rows], ["key", "val"])
    out = (
        MultiSourceAdETL(spark, cfg)
        .with_frames([(None, a), (None, b)])
        .assign_source()
        .clean_dataframes()
        .standardize_dataframes()
        .merge()
    )
    assert out.columns == ["Source", "Key", "Val", "Name"]
    assert dict(out.dtypes) == {
        "Source": "string",
        "Key": "bigint",
        "Val": "double",
        "Name": "string",
    }
    collected = out.collect()
    assert len(collected) == 2 * len(rows)
    assert {r.Source for r in collected} == {"A", "B"}


@settings(max_examples=200, deadline=None)
@given(
    n_rows=st.integers(0, 10**7),
    n_cols=st.integers(1, 1000),
    row_off=st.integers(0, 100),
    col_off=st.integers(0, 100),
)
def test_a1_math_properties(n_rows, n_cols, row_off, col_off):
    full = shape_to_a1(n_rows, n_cols, "full_range", row_offset=row_off, col_offset=col_off)
    top_left, bottom_right = full.split(":")
    assert top_left.endswith(str(1 + row_off))
    assert bottom_right.endswith(str(n_rows + 1 + row_off))
    cols = shape_to_a1(n_rows, n_cols, "column_range", col_offset=col_off)
    first, last = cols.split(":")
    assert first == column_letter(1 + col_off)
    assert last == column_letter(n_cols + col_off)


def test_column_letter_round_trip():
    def letter_to_num(s: str) -> int:
        n = 0
        for ch in s:
            n = n * 26 + (ord(ch) - ord("A") + 1)
        return n

    for n in list(range(1, 500)) + [702, 703, 18278]:
        assert letter_to_num(column_letter(n)) == n


# hypothesis can't take a pytest fixture directly in @given; bridge it.
import pytest  # noqa: E402


@pytest.fixture()
def spark_session_holder(spark):
    return spark


def test_hash_split_invariant_under_repartition(spark):
    """The curation split must be a pure function of the data: repartitioning
    the input cannot move any document across splits (split leakage ==
    train/test contamination)."""
    from polars_ad_etl_spark.operators.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    base = {
        r.doc_id: r.split
        for r in QUERIES["curation_hash_split"](spark, sf).collect()
    }
    repart = spark.read.parquet(f"{sf}/documents.parquet").repartition(17)
    repart.createOrReplaceTempView("documents_repart")
    # same expression over the repartitioned frame
    from polars_ad_etl_spark.operators.curation import _bucket
    from pyspark.sql import functions as F

    b = _bucket(F.col("doc_id"), "split42")
    split = (
        F.when(b < 9000, F.lit("train"))
        .when(b < 9500, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    got = {r.doc_id: r.split for r in repart.select("doc_id", split.alias("split")).collect()}
    assert got == base


def test_two_phase_topk_equals_single_window(spark):
    """The salted two-phase ranking must produce exactly the rows a naive
    single window would."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from polars_ad_etl_spark.functions.exact import dsum
    from polars_ad_etl_spark.operators.registry import QUERIES
    from polars_ad_etl_spark.operators.relational import _revenue

    sf = "/root/testdata/sf0.01"
    got = sorted(
        tuple(r) for r in QUERIES["window_rank_parts_by_revenue"](spark, sf).collect()
    )
    l = spark.read.parquet(f"{sf}/lineitem.parquet")
    by_part = l.groupBy("l_returnflag", "l_partkey").agg(
        dsum(_revenue()).alias("revenue")
    )
    w = W.partitionBy("l_returnflag").orderBy(F.col("revenue").desc(), "l_partkey")
    naive = sorted(
        tuple(r)
        for r in by_part.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 5)
        .collect()
    )
    assert got == naive


def test_kmeans_sse_monotone_and_deterministic(spark):
    """Lloyd's algorithm must not increase SSE between iterations, and the
    hash-deterministic init must make the final assignment identical under
    a different partitioning."""
    from polars_ad_etl_spark.operators.similarity import (
        kmeans_assign,
        kmeans_train,
    )

    sf = "/root/testdata/sf0.001"
    centroids, history = kmeans_train(spark, sf)
    assert len(history) >= 2
    assert all(a >= b - 1e-9 for a, b in zip(history, history[1:]))

    e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = {r.vec_id: r.cluster for r in kmeans_assign(e, centroids).collect()}
    repart = {
        r.vec_id: r.cluster
        for r in kmeans_assign(e.repartition(13), centroids).collect()
    }
    assert base == repart

    centroids2, history2 = kmeans_train(spark, sf)
    assert centroids2 == centroids and history2 == history


def _union_find(n_edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in n_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_star_cc_high_diameter_chain(spark):
    """The large-star/small-star path must solve a deliberately chain-shaped
    (diameter-100) graph — the exact case where min-label propagation needs
    100 rounds — and agree with the propagate path label for label."""
    import pyspark.sql.functions as F

    from polars_ad_etl_spark.operators.dedup import (
        connected_components_propagate,
        connected_components_star,
    )

    # one long chain (high diameter), a triangle, and an isolated edge;
    # ids deliberately non-contiguous and interleaved
    edges = [(i * 3 + 7, (i + 1) * 3 + 7) for i in range(100)]
    edges += [(1000, 1001), (1001, 1002), (1002, 1000), (2000, 2001)]
    df = spark.createDataFrame(edges, "a long, b long")
    want = _union_find(edges)
    star = {
        r.node: r.component_id
        for r in connected_components_star(df, max_iter=12).collect()
    }
    assert star == want  # O(log d) rounds suffice on a diameter-100 chain
    prop = {
        r.node: r.component_id for r in connected_components_propagate(df).collect()
    }
    assert prop == want and prop == star


def test_star_cc_random_graphs_agree(spark):
    """Star contraction == union-find ground truth on random graphs of mixed
    shape (fixed seeds -> reproducible)."""
    import random

    from polars_ad_etl_spark.operators.dedup import connected_components_star

    for seed in (11, 29):
        rng = random.Random(seed)
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(140)
        ]  # includes self-loops and duplicates on purpose
        df = spark.createDataFrame(edges, "a long, b long")
        got = {
            r.node: r.component_id
            for r in connected_components_star(df).collect()
        }
        want = _union_find(edges)
        assert got == want, f"seed={seed}"


def test_graph_loop_barrier_counts(spark):
    """Each checkpointed graph loop runs a fixed number of Spark jobs on a
    short chain plus a triangle. The counts pin every barrier (checkpoint
    and convergence test) so a refactor of the loops cannot add or drop
    one unnoticed; the results are checked against union-find as well.
    AQE is off for the count: its query-stage jobs race each other (the
    same propagate call ran 28 to 30 jobs with it on), so only without it
    is a job count a function of the plans alone."""
    from test_ad_path import _job_group, _jobs

    from polars_ad_etl_spark.operators.dedup import (
        connected_components_propagate,
        connected_components_star,
    )
    from polars_ad_etl_spark.operators.graph import (
        kcore_edges,
        pagerank_fixed_point,
    )

    # a 6-edge chain, a triangle and a duplicated reversed edge: 10 edges
    edges = [(i * 3 + 7, (i + 1) * 3 + 7) for i in range(6)]
    edges += [(1000, 1001), (1001, 1002), (1002, 1000), (1001, 1000)]
    df = spark.createDataFrame(edges, "a long, b long").localCheckpoint(
        eager=True
    )
    # one partition: propagate takes its coalesce(1) path
    one = df.coalesce(1).localCheckpoint(eager=True)
    loops = {
        "propagate": lambda: connected_components_propagate(df),
        "propagate_1part": lambda: connected_components_propagate(one),
        "star": lambda: connected_components_star(df),
        "kcore": lambda: kcore_edges(df),
        "pagerank": lambda: pagerank_fixed_point(df),
    }
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    out = {}
    try:
        for name, build in loops.items():
            with _job_group(sc, f"test-graph-loop-{name}"):
                out[name] = build()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    counts = {name: _jobs(sc, f"test-graph-loop-{name}") for name in loops}
    assert counts == {
        "propagate": 7,
        "propagate_1part": 7,
        "star": 17,
        "kcore": 4,
        "pagerank": 9,
    }
    want = _union_find(edges)
    for name in ("propagate", "propagate_1part", "star"):
        got = {r.node: r.component_id for r in out[name].collect()}
        assert got == want, name
    # the chain peels away in 3 rounds; the triangle keeps both directions
    # of every input edge, the duplicated one twice
    tri = edges[6:] + [(b, a) for a, b in edges[6:]]
    assert sorted(map(tuple, out["kcore"].collect())) == sorted(tri)


def test_semdedup_keep_rule_invariants(spark):
    """SemDeDup keep decisions follow the smaller-id pairwise reduction:
    the minimum vec_id of every cluster is always kept, is_kept is exactly
    n_smaller_dups == 0, and every removal has a within-cluster witness."""
    from polars_ad_etl_spark.operators.registry import QUERIES

    sf = "/root/testdata/sf0.01"
    out = QUERIES["dedup_semdedup_keep_list"](spark, sf).toPandas()
    assert len(out) == out.vec_id.nunique()
    mins = out.groupby("cluster").vec_id.transform("min")
    assert out.loc[out.vec_id == mins, "is_kept"].all()
    assert ((out.n_smaller_dups == 0) == out.is_kept).all()
    assert (~out.is_kept).sum() > 0, "threshold should remove something at sf0.01"


def test_packed_sequences_gapless(spark):
    """Packing invariant: sorted by start_offset, every document begins
    exactly where the previous one ended — the concatenated token stream
    has no gaps or overlaps, so sequence boundaries are well-defined."""
    from polars_ad_etl_spark.operators.registry import QUERIES

    sf = "/root/testdata/sf0.01"
    out = (
        QUERIES["curation_packed_sequences"](spark, sf)
        .toPandas()
        .sort_values("start_offset", ignore_index=True)
    )
    assert out.start_offset[0] == 0
    ends = out.start_offset + out.n_tokens
    assert (out.start_offset[1:].to_numpy() == ends[:-1].to_numpy()).all()
    assert (out.first_seq == out.start_offset // 512).all()
    assert out.spans_boundary.any() and (~out.spans_boundary).any()


def test_ann_recall_vs_exact_baseline(spark):
    """Recall@10 of every approximate search path against the brute-force
    baseline at sf0.01 (fixed data, so these are deterministic). Floors sit
    below the measured values (IVF .41, multi-table LSH .48, PQ-ADC .14,
    IVF-PQ .12 — random would be ~.02) to catch structural regressions, not
    noise. Multi-table LSH must also strictly beat the sparse single-table
    variant (measured 0.0) — the reason it exists."""
    from polars_ad_etl_spark.operators.registry import QUERIES

    sf = "/root/testdata/sf0.01"

    def nbrs(name):
        out = {}
        for r in QUERIES[name](spark, sf).collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = nbrs("sim_bruteforce_topk")
    total = sum(len(e) for e in exact.values())

    def recall(name):
        a = nbrs(name)
        return sum(len(a.get(q, set()) & e) for q, e in exact.items()) / total

    mt = recall("sim_lsh_multitable_topk")
    assert recall("sim_ivf_probe_topk") >= 0.30
    assert mt >= 0.15
    assert mt > recall("sim_lsh_bucketed_topk")
    assert recall("sim_pq_adc_topk") >= 0.08
    assert recall("sim_ivfpq_topk") >= 0.08
    # Hamming-1 multiprobe widens the single-table candidate set (measured
    # .075 vs the single bucket's .0) at zero extra signature cost. >= not
    # >: the superset property only guarantees no-worse, and on regenerated
    # testdata the extra buckets could contribute no exact-top-10 neighbor;
    # the floor above is the structural-regression catch.
    assert recall("sim_lsh_topk_multiprobe") >= 0.05
    assert recall("sim_lsh_topk_multiprobe") >= recall("sim_lsh_bucketed_topk")


def test_multiprobe_topk_dominates_single_bucket(spark):
    """The multiprobe candidate set is a strict superset of the query's own
    bucket (flip=0 is in the probe set), so per query the multiprobe top-k
    must (a) have at least as many rows and (b) rank-for-rank dominate the
    single-bucket top-k on (cosine, -neighbor_id) — a top-k over a superset
    can only improve. This is the structural invariant behind the recall
    floor above, checkable without the exact baseline."""
    from polars_ad_etl_spark.operators.registry import QUERIES

    sf = "/root/testdata/sf0.01"

    def ranked(name):
        out: dict = {}
        for r in QUERIES[name](spark, sf).collect():
            out.setdefault(r.query_id, []).append((r.rnk, r.cosine, r.neighbor_id))
        return {q: sorted(v) for q, v in out.items()}

    single = ranked("sim_lsh_bucketed_topk")
    multi = ranked("sim_lsh_topk_multiprobe")
    for q, rows in single.items():
        assert q in multi and len(multi[q]) >= len(rows)
        for (_, s_cos, s_nb), (_, m_cos, m_nb) in zip(rows, multi[q]):
            assert (m_cos, -m_nb) >= (s_cos, -s_nb), (q, rows, multi[q])


def test_ann_recall_curve_shape(spark):
    """The round-9 tuning artifact (sim_ann_recall_curve) must stay a
    usable curve: recall is monotone non-decreasing in the cost knob for
    BOTH methods (more tables / more probes can only add candidates — the
    top-k over a superset can only improve overlap with the exact set),
    and at least one grid point clears the 0.9 production bar (measured:
    ivf_probes=8 -> permille 900 at sf0.01; floor set AT the bar, since
    the README names that config). A regression in either method's
    candidate generation breaks monotonicity or drops the ceiling."""
    from polars_ad_etl_spark.operators.registry import QUERIES

    rows = QUERIES["sim_ann_recall_curve"](spark, "/root/testdata/sf0.01").collect()
    by_method: dict = {}
    for r in rows:
        by_method.setdefault(r.method, []).append((r.param, r.recall_permille))
    assert set(by_method) == {"lsh_tables", "ivf_probes", "lsh_probe_radius"}
    for method, pts in by_method.items():
        pts.sort()
        vals = [v for _, v in pts]
        assert vals == sorted(vals), (method, pts)
    assert max(v for _, v in by_method["ivf_probes"]) >= 900
    # multi-table LSH at T=4 must agree with the standalone registry query
    # (same planesets/seeds 0..15): the curve is a measurement, not a model.
    # Recomputed here rather than hardcoded so testdata regeneration can't
    # stale the pin.
    sf = "/root/testdata/sf0.01"

    def nbrs(name):
        out: dict = {}
        for r in QUERIES[name](spark, sf).collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = nbrs("sim_bruteforce_topk")
    mt = nbrs("sim_lsh_multitable_topk")
    n_exact = sum(len(e) for e in exact.values())
    n_overlap = sum(len(mt.get(q, set()) & e) for q, e in exact.items())
    assert dict(by_method["lsh_tables"])[4] == (1000 * n_overlap) // n_exact
    # same-measurement pin for the radius knob: radius=1 IS the standalone
    # multiprobe registry query (same single 8-plane table)
    mp = nbrs("sim_lsh_topk_multiprobe")
    n_mp = sum(len(mp.get(q, set()) & e) for q, e in exact.items())
    assert dict(by_method["lsh_probe_radius"])[1] == (1000 * n_mp) // n_exact


def test_containment_dominates_jaccard(spark):
    """For any pair, containment = |A∩B|/|A| >= |A∩B|/|A∪B| = Jaccard —
    the algebraic link between the two operators; also max-containment
    pairs must be a superset of Jaccard pairs at the same intersection
    (subset dups are exactly what Jaccard under-scores)."""
    from polars_ad_etl_spark.operators.registry import QUERIES

    sf = "/root/testdata/sf0.01"
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_ngram_jaccard_pairs"](spark, sf).collect()
    }
    cont = {
        (r.doc_a, r.doc_b): max(r.containment_a_in_b, r.containment_b_in_a)
        for r in QUERIES["dedup_ngram_containment_pairs"](spark, sf).collect()
    }
    shared = set(jac) & set(cont)
    assert shared, "expected overlapping pairs at sf0.01"
    for pair in shared:
        assert cont[pair] >= jac[pair] - 1e-12


def test_pagerank_matches_hand_computation(spark):
    """Integer fixed-point PageRank on a tiny path graph a-b-c equals the
    same recurrence replayed by hand in pure Python."""
    from polars_ad_etl_spark.operators.graph import (
        DAMP_DEN,
        DAMP_NUM,
        N_ITER,
        SCALE,
        pagerank_fixed_point,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    got = {
        r.node: r.pagerank_fp
        for r in pagerank_fixed_point(edges).collect()
    }

    adj = {1: [2], 2: [1, 3], 3: [2]}
    n = 3
    pr = {v: SCALE // n for v in adj}
    base = ((DAMP_DEN - DAMP_NUM) * SCALE) // (DAMP_DEN * n)
    for _ in range(N_ITER):
        contrib = {v: pr[v] // len(adj[v]) for v in adj}
        pr = {
            v: base + (DAMP_NUM * sum(contrib[u] for u in adj[v])) // DAMP_DEN
            for v in adj
        }
    assert got == pr
    # the middle node of a path is the most central
    assert got[2] > got[1] == got[3]


def test_pagerank_mass_conservation(spark):
    """Total fixed-point mass stays within integer-division dust of SCALE
    on an arbitrary graph (damping redistributes, never creates)."""
    import random

    from polars_ad_etl_spark.operators.graph import SCALE, pagerank_fixed_point

    rnd = random.Random(11)
    pairs = list({(rnd.randrange(30), rnd.randrange(30)) for _ in range(60)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "a long, b long")
    rows = pagerank_fixed_point(edges).collect()
    total = sum(r.pagerank_fp for r in rows)
    n = len(rows)
    # each division floors away < 1 unit per node per term per iteration
    assert SCALE >= total > SCALE - 10 * n * len(pairs)
    assert all(r.pagerank_fp > 0 for r in rows)


def test_gram_numpy_partials_equal_jvm_covariance(spark):
    """The Arrow/numpy partial-Gram path and the JVM explode path are the
    same exact-integer function of the data."""
    from polars_ad_etl_spark.operators.linalg import (
        DIM,
        covariance_from_partials,
        covariance_pairs,
        gram_partial_numpy,
        quantized,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = quantized(e)
    n, sums, gram = covariance_from_partials(gram_partial_numpy(q))
    jvm = {
        (r.dim_i, r.dim_j): (r.n, r.sum_i, r.sum_j, r.sum_ij)
        for r in covariance_pairs(q).collect()
    }
    assert len(jvm) == DIM * (DIM + 1) // 2
    for (i, j), (nn, si, sj, sij) in jvm.items():
        assert nn == n
        assert si == sums[i] and sj == sums[j]
        assert sij == gram[i][j]


def test_power_iteration_recovers_dominant_direction():
    """Driver-side epilogue sanity: for a rank-1-dominant integer Gram
    matrix, power iteration recovers the planted direction."""
    from polars_ad_etl_spark.operators.linalg import (
        DIM,
        Q_SCALE,
        top_principal_component,
    )

    # plant variance along axis 0 with a touch of isotropic noise
    n = 1000
    sums = [0] * DIM
    gram = [[0] * DIM for _ in range(DIM)]
    for d in range(DIM):
        gram[d][d] = n * Q_SCALE  # small isotropic term
    gram[0][0] = n * Q_SCALE * Q_SCALE  # dominant axis
    v = top_principal_component(n, sums, gram)
    assert abs(abs(v[0]) - 1.0) < 1e-6
    assert all(abs(x) < 1e-3 for x in v[1:])


def test_bpe_merges_match_reference_algorithm(spark):
    """The unrolled Spark BPE trainer equals a direct Python implementation
    of Sennrich-style BPE (greedy left-to-right merge, freq-then-lex
    tie-break) on a tiny corpus."""
    import collections

    import pandas as pd

    from polars_ad_etl_spark.operators.textstats import (
        N_BPE_MERGES,
        _bpe_top_pair,
    )
    from pyspark.sql import functions as F

    words = {"low": 5, "lowest": 2, "newer": 6, "wider": 3, "new": 2}

    # ---- reference implementation
    seqs = {w: list(w) for w in words}
    expected = []
    for _ in range(N_BPE_MERGES):
        stats = collections.Counter()
        for w, s in seqs.items():
            for a, b in zip(s, s[1:]):
                stats[(a, b)] += words[w]
        (l, r), f = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((l, r, f))
        for w, s in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) == (l, r):
                    out.append(s[i] + s[i + 1])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out

    # ---- engine, driven over the same tiny frame
    df = spark.createDataFrame(
        pd.DataFrame({"w": list(words), "freq": list(words.values())})
    ).select("freq", F.expr("array_join(split(w, ''), '  ')").alias("seq"))
    got = []
    for _ in range(N_BPE_MERGES):
        top = _bpe_top_pair(df).collect()[0]
        got.append((top.l, top.r, top.pair_freq))
        df = df.select(
            "freq",
            F.expr(
                f"replace(seq, '{top.l}  {top.r}', '{top.l}{top.r}')"
            ).alias("seq"),
        )
    assert got == expected


def test_range_join_bucketing_exact_across_dst(spark):
    """The bucketed range join must equal the naive inequality join even for
    event times straddling a DST transition in a non-UTC session — the case
    a session-tz-coerced bucket key silently gets wrong (the 01:59->03:01
    wall gap is 62 minutes of wall-clock time but 2 minutes of instant
    time in America/New_York)."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F

    from polars_ad_etl_spark.operators.intervals import (
        WINDOW_S,
        bucketed_range_join_counts,
    )

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        base = dt.datetime(2024, 3, 10, 1, 55)  # 5 min before spring-forward
        stamps = [base + dt.timedelta(minutes=m) for m in range(0, 130, 3)]
        pdf = pd.DataFrame(
            {
                "purchase_id": range(len(stamps)),
                "p_ts": pd.Series(stamps, dtype="datetime64[us]"),
            }
        )
        cdf = pd.DataFrame(
            {
                "c_ts": pd.Series(stamps, dtype="datetime64[us]"),
                "c_value": [1.0] * len(stamps),
            }
        )
        p = spark.createDataFrame(pdf).withColumn(
            "p_ts", F.col("p_ts").cast("timestamp_ntz")
        )
        c = spark.createDataFrame(cdf).withColumn(
            "c_ts", F.col("c_ts").cast("timestamp_ntz")
        )
        got = {
            r.purchase_id: r.n_clicks_5min
            for r in bucketed_range_join_counts(p, c, "p_ts", "c_ts").collect()
        }
        naive = {
            r.purchase_id: r.n
            for r in p.join(
                c,
                (F.col("c_ts") >= F.expr(f"p_ts - INTERVAL {WINDOW_S} SECOND"))
                & (F.col("c_ts") <= F.col("p_ts")),
                "left_outer",
            )
            .groupBy("purchase_id")
            .agg(F.count("c_ts").alias("n"))
            .collect()
        }
        assert got == naive
        assert sum(got.values()) > 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_oracle_compare_harness_detects_differences(spark):
    """Meta-test of the differential harness itself: compare() must flag
    value, row-count, and column differences — a harness that can't fail
    proves nothing."""
    import duckdb

    from tests.oracle_util import compare

    con = duckdb.connect()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert compare(df, con, "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, v)") is None
    assert "differs" in compare(
        df, con, "SELECT * FROM (VALUES (1, 'a'), (2, 'X')) t(k, v)"
    )
    assert "row counts" in compare(
        df, con, "SELECT * FROM (VALUES (1, 'a')) t(k, v)"
    )
    assert "columns differ" in compare(
        df, con, "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, w)"
    )


def test_cep_greedy_nonoverlapping_semantics(spark):
    """CEP fold semantics on a hand-built sequence: greedy leftmost
    matching anchors each match at the FIRST view, intermediate repeats
    are absorbed, and matches never overlap."""
    import pandas as pd

    from pyspark.sql import functions as F

    from polars_ad_etl_spark.operators.cep import _FOLD

    events = [  # (ts_us, event_id, event_type)
        (10, 1, "view"),
        (20, 2, "view"),      # absorbed: already in state 1
        (30, 3, "click"),
        (40, 4, "purchase"),  # match 1: 10 -> 40 (anchored at FIRST view)
        (50, 5, "purchase"),  # ignored: state 0
        (60, 6, "view"),
        (70, 7, "click"),
        (80, 8, "click"),     # absorbed: already in state 2
        (90, 9, "purchase"),  # match 2: 60 -> 90
    ]
    seq = [
        {"ts_us": t, "event_id": i, "event_type": ty} for t, i, ty in events
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"user_id": [1], "seq": [seq]}),
        schema="user_id long, seq array<struct<ts_us:bigint,event_id:bigint,event_type:string>>",
    )
    got = sorted(
        (r.m.s, r.m.e)
        for r in df.select(F.explode(F.expr(_FOLD)).alias("m")).collect()
    )
    assert got == [(10, 40), (60, 90)]


def test_kcore_fixed_rounds_reach_fixpoint(spark):
    """graph_kcore_members runs CORE_ROUNDS peeling rounds and its oracle
    unrolls the same count — valid only if that count reaches the true
    fixpoint on the actual graph. Assert one EXTRA round changes nothing,
    and that peeling did remove something (the test has teeth)."""
    import os

    from polars_ad_etl_spark.operators.dedup import dedup_minhash_lsh_pairs
    from polars_ad_etl_spark.operators.graph import (
        CORE_ROUNDS,
        kcore_edges,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    pairs = dedup_minhash_lsh_pairs(spark, sf).selectExpr(
        "doc_a AS a", "doc_b AS b"
    )
    base = kcore_edges(pairs, rounds=CORE_ROUNDS)
    extra = kcore_edges(pairs, rounds=CORE_ROUNDS + 1)
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, extra.collect()))
    assert a == b, "CORE_ROUNDS does not reach the fixpoint on test data"
    n_sym = pairs.filter("a <> b").count() * 2
    assert len(a) < n_sym, "peeling removed nothing — trivial graph?"


def test_distributed_rank_cumsum_matches_naive_window(spark):
    """with_global_rank_cumsum must equal the naive global-sort window on
    arbitrary (skewed) data — ranks dense from 1, cumsum inclusive."""
    from pyspark.sql import functions as F

    from polars_ad_etl_spark.functions.distributed_rank import (
        with_global_rank_cumsum,
    )

    df = (
        spark.range(999)
        .select(
            F.col("id"),
            (F.col("id") % 13).alias("k"),
            ((F.col("id") * 37) % 101).alias("v"),
        )
    )
    got = {
        (r.k, r.id): (r.rank, r.cumsum)
        for r in with_global_rank_cumsum(
            df, ["k", "id"], value_col="v"
        ).collect()
    }
    rows = sorted(df.collect(), key=lambda r: (r.k, r.id))
    cum = 0
    for i, r in enumerate(rows, start=1):
        cum += r.v
        assert got[(r.k, r.id)] == (i, cum), (r.k, r.id)


def test_table_diff_classifies_all_cases(spark):
    """table_diff: added/removed/changed/unchanged, including the null
    transitions a naive equality compare misclassifies."""
    from polars_ad_etl_spark.operators.diffing import table_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k int, v string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "now-set"), (4, None), (5, "e")], "k int, v string"
    )
    got = {
        r.k: r.change_type
        for r in table_diff(old, new, ["k"]).collect()
    }
    assert got == {
        1: "removed",
        2: "unchanged",
        3: "changed",   # NULL -> value
        4: "changed",   # value -> NULL
        5: "added",
    }


def test_business_day_closed_form_matches_naive_loop(spark):
    """The 5·weeks + remainder-scan closed form must equal a plain python
    day loop for every (start dow, length) combination."""
    import datetime as dt

    rows = []
    base = dt.date(2024, 1, 1)  # a Monday
    for start_off in range(7):
        for n in range(0, 25):
            a = base + dt.timedelta(days=start_off)
            b = a + dt.timedelta(days=n)
            naive = sum(
                1
                for i in range(1, n + 1)
                if (a + dt.timedelta(days=i)).isoweekday() <= 5
            )
            rows.append((a, b, n, naive))
    df = spark.createDataFrame(
        rows, "a date, b date, n int, expected int"
    )
    got = df.selectExpr(
        "expected",
        "5 * (n div 7) + aggregate(sequence(0, n % 7),"
        " 0, (acc, i) -> acc + IF(i >= 1 AND"
        " (extract(dayofweek_iso FROM a) - 1 + i) % 7 < 5, 1, 0))"
        " AS closed_form",
    ).collect()
    assert all(r.expected == r.closed_form for r in got)


def test_duplicate_spans_exact_islands(spark, tmp_path):
    """dedup_duplicate_spans on a crafted corpus: a 12-token block shared
    by three documents must come back as ONE maximal span per occurrence
    (5 consecutive 8-token windows merged), with exact token offsets —
    including the doc that carries the block twice (two islands, never
    merged across the 4-token gap, and the gap-crossing windows are unique
    to that doc so they cannot bridge). A short doc (< one window) and the
    DuckDB oracle parity are checked on the same corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from oracle_util import compare, duckdb_conn
    from polars_ad_etl_spark.operators.registry import ORACLES, QUERIES

    shared = " ".join(f"dup{i}" for i in range(12))  # 12 shared tokens
    docs = {
        1: " ".join(f"apre{i}" for i in range(5)) + " " + shared + " "
           + " ".join(f"asuf{i}" for i in range(5)),
        2: " ".join(f"bpre{i}" for i in range(3)) + " " + shared + " "
           + " ".join(f"bsuf{i}" for i in range(7)),
        3: shared + " " + " ".join(f"cgap{i}" for i in range(4)) + " " + shared,
        4: "too short for one window",
    }
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(sorted(docs), pa.int64()),
                "text": [docs[k] for k in sorted(docs)],
                "lang": ["en"] * len(docs),
                "source": ["synthetic"] * len(docs),
                "n_chars": pa.array(
                    [len(docs[k]) for k in sorted(docs)], pa.int64()
                ),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    rows = QUERIES["dedup_duplicate_spans"](spark, str(tmp_path)).collect()
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_windows)
        for r in rows
    )
    assert got == [
        (1, 5, 16, 12, 5),
        (2, 3, 14, 12, 5),
        (3, 0, 11, 12, 5),
        (3, 16, 27, 12, 5),
    ]
    diff = compare(
        QUERIES["dedup_duplicate_spans"](spark, str(tmp_path)),
        duckdb_conn(str(tmp_path)),
        ORACLES["dedup_duplicate_spans"],
    )
    assert diff is None, diff


def test_cdc_chunks_reassemble_to_original(spark):
    """Content-defined chunks must partition the document exactly: in
    order, their concatenation is the original text for EVERY document."""
    import os

    from pyspark.sql import functions as F

    from polars_ad_etl_spark.functions.hashing import portable_hash32
    from polars_ad_etl_spark.operators.dedup import CDC_MODULUS, CDC_WINDOW

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    pos = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.length("text") - F.lit(CDC_WINDOW - 1), F.lit(1)),
            )
        ).alias("i"),
    )
    interior = pos.filter(
        (F.col("i") > 1)
        & (
            portable_hash32(F.expr(f"substr(text, i, {CDC_WINDOW})"))
            % CDC_MODULUS
            == 0
        )
    ).select("doc_id", "text", F.col("i").cast("long").alias("b"))
    sentinels = docs.select(
        "doc_id", "text", F.lit(1).cast("long").alias("b")
    ).unionByName(
        docs.select(
            "doc_id", "text", (F.length("text") + 1).cast("long").alias("b")
        )
    )
    chunks = interior.unionByName(sentinels).select(
        "doc_id",
        "b",
        F.expr(
            "substr(text, CAST(b AS INT),"
            " CAST(lead(b) OVER (PARTITION BY doc_id ORDER BY b) - b AS INT))"
        ).alias("chunk"),
    )
    rebuilt = (
        chunks.filter(F.col("chunk").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("b", "chunk"))
                    ),
                    lambda s: s["chunk"],
                ),
                "",
            ).alias("rebuilt")
        )
    )
    diff = (
        docs.join(rebuilt, "doc_id")
        .filter(F.col("text") != F.col("rebuilt"))
        .count()
    )
    assert diff == 0


def test_lsh_bucket_cap(spark, tmp_path):
    """A planted hot bucket (20 identical docs -> every band collides) must
    be dropped by ``bucket_cap`` BEFORE pair expansion, while small buckets
    still emit their pairs — and the dropped pairs must be accounted for in
    the ``lsh_bucket_overflow`` side-channel, never silently lost."""
    from polars_ad_etl_spark.operators.dedup import (
        BANDS,
        dedup_minhash_lsh_pairs,
        lsh_bucket_overflow,
    )

    hot = "the quick brown fox jumps over the lazy dog again and again"
    small = "completely different pair of twin documents right here okay"
    rows = (
        [(i, hot, "en", "synthetic", len(hot)) for i in range(1, 21)]
        + [(i, small, "en", "synthetic", len(small)) for i in (100, 101)]
        + [(200, "one singleton document with no duplicate partner at all",
            "en", "synthetic", 55)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)

    uncapped = {
        (r.doc_a, r.doc_b) for r in dedup_minhash_lsh_pairs(spark, sf).collect()
    }
    hot_pairs = {(a, b) for a in range(1, 21) for b in range(a + 1, 21)}
    assert hot_pairs <= uncapped  # 190 hot pairs present uncapped
    assert (100, 101) in uncapped

    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_lsh_pairs(spark, sf, bucket_cap=10).collect()
    }
    assert capped & hot_pairs == set()  # hot bucket fully suppressed
    assert (100, 101) in capped  # small buckets untouched

    over = lsh_bucket_overflow(spark, sf, bucket_cap=10).collect()
    # identical docs collide in every band: BANDS buckets of size 20
    assert len(over) == BANDS
    assert all(r.bucket_size == 20 and r.dropped_pairs == 190 for r in over)
    assert sum(r.dropped_pairs for r in over) == BANDS * len(hot_pairs)


def test_summary_report_surfaces_bucket_overflow(spark, tmp_path):
    """``dedup_summary_report(bucket_cap=...)`` must surface the hot-bucket
    suppression at the report level: dropped-bucket count and the cross-band
    dropped-pairs upper bound, with the pair count coming from the capped
    path. Uncapped, both overflow columns are exactly 0 (the oracle-checked
    registry shape)."""
    from polars_ad_etl_spark.operators.dedup import BANDS, dedup_summary_report

    hot = "the quick brown fox jumps over the lazy dog again and again"
    small = "completely different pair of twin documents right here okay"
    rows = (
        [(i, hot, "en", "synthetic", len(hot)) for i in range(1, 21)]
        + [(i, small, "en", "synthetic", len(small)) for i in (100, 101)]
        + [(200, "one singleton document with no duplicate partner at all",
            "en", "synthetic", 55)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)

    plain = dedup_summary_report(spark, sf).collect()[0]
    assert plain.n_dropped_buckets == 0
    assert plain.dropped_pairs_upper_bound == 0

    capped = dedup_summary_report(spark, sf, bucket_cap=10).collect()[0]
    assert capped.n_dropped_buckets == BANDS  # identical docs: every band hot
    assert capped.dropped_pairs_upper_bound == BANDS * 190
    # the pair count itself reflects the capped path: hot pairs gone,
    # small-bucket pair still present
    assert capped.n_lsh_pairs < plain.n_lsh_pairs
    assert capped.n_lsh_pairs >= 1


def test_sql_built_argmin_matches_column_built(spark):
    """The SQL-string expression builders (_nearest_sql / kmeans_assign —
    adopted because Column-by-Column construction of K x D literal trees
    cost seconds of py4j round-trips per query) must be bit-identical to
    the Column-composed originals they replaced, including the
    lowest-index argmin tie-break and double arithmetic."""
    from pyspark.sql import functions as F

    from polars_ad_etl_spark.operators.similarity import (
        _assign_quantized,
        kmeans_assign,
    )

    # integer path: includes an exact tie (vec equidistant to c0 and c1)
    rows = [(1, [0, 0]), (2, [10, 10]), (3, [5, 5]), (4, [3, 7])]
    q = spark.createDataFrame(rows, "vec_id long, qe array<bigint>")
    cents = [[0, 0], [10, 10], [20, 0]]
    got = {r.vec_id: r.cluster for r in _assign_quantized(q, cents).collect()}

    def col_dist(c):
        carr = F.array(*[F.lit(int(v)) for v in c])
        return F.aggregate(
            F.zip_with(F.col("qe"), carr, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    dists = F.array(*[col_dist(c) for c in cents])
    ref = {
        r.vec_id: r.cluster
        for r in q.select(
            "vec_id",
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias("cluster"),
        ).collect()
    }
    assert got == ref
    assert got[3] == 0  # (5,5) ties c0/c1 at 50 -> lowest index wins

    # double path: awkward reprs (1/3, 1e-9, negative zero) must round-trip
    e = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [1 / 3, -0.0]), (3, [1e-9, 2.5])],
        "vec_id long, embedding array<double>",
    )
    dcents = [[1 / 3, -0.0], [0.1, 0.2000000001]]
    got_d = {
        r.vec_id: (r.cluster, r.sse)
        for r in kmeans_assign(e, dcents).collect()
    }

    def col_l2(c):
        carr = F.array(*[F.lit(float(v)) for v in c])
        return F.aggregate(
            F.zip_with(
                F.col("embedding"),
                carr,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    ddists = F.array(*[col_l2(c) for c in dcents])
    ref_d = {
        r.vec_id: (r.cluster, r.sse)
        for r in e.select(
            "vec_id",
            (F.array_position(ddists, F.array_min(ddists)) - 1)
            .cast("int")
            .alias("cluster"),
            F.array_min(ddists).alias("sse"),
        ).collect()
    }
    assert got_d == ref_d  # exact float equality on sse, by design


def test_production_bucket_cap_defaults(spark, tmp_path):
    """The production entry points default to the documented hot-bucket cap
    (PRODUCTION_BUCKET_CAP) rather than the uncapped quadratic shape, the
    cap genuinely engages on a bucket larger than the cap, and the
    suppression is never silent (overflow columns / side-channel account
    for it)."""
    import inspect

    from polars_ad_etl_spark.operators.dedup import (
        BANDS,
        PRODUCTION_BUCKET_CAP,
        dedup_near_dup_keep_list,
        dedup_summary_report,
        lsh_bucket_overflow,
    )

    # the documented default is pinned on both entry points
    for fn in (dedup_near_dup_keep_list, dedup_summary_report):
        sig = inspect.signature(fn)
        assert sig.parameters["bucket_cap"].default == PRODUCTION_BUCKET_CAP
    assert PRODUCTION_BUCKET_CAP == 1000

    # a bucket above the production cap: 1001 identical docs + 2 near-dup
    # docs in a small bucket + 1 singleton
    hot = "the quick brown fox jumps over the lazy dog again and again"
    small = "completely different pair of twin documents right here okay"
    rows = (
        [(i, hot, "en", "synthetic", len(hot)) for i in range(1, 1002)]
        + [(i, small, "en", "synthetic", len(small)) for i in (2000, 2001)]
        + [(3000, "one singleton document with no duplicate partner at all",
            "en", "synthetic", 55)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)

    # default summary report: hot bucket suppressed AND accounted
    rep = dedup_summary_report(spark, sf).collect()[0]
    assert rep.n_dropped_buckets == BANDS
    assert rep.dropped_pairs_upper_bound == BANDS * (1001 * 1000 // 2)
    assert rep.n_lsh_pairs >= 1  # the small bucket still pairs up

    # default keep list: the hot cluster is NOT collapsed (its bucket was
    # suppressed -> each hot doc keeps itself), the small cluster IS
    keep = {r.doc_id: r.keep for r in dedup_near_dup_keep_list(spark, sf).collect()}
    assert keep[1] and keep[2] and keep[1001]  # uncollapsed hot docs all kept
    assert keep[2000] and not keep[2001]  # small cluster deduped to min id
    assert keep[3000]
    # and the side-channel documents exactly what the default run skipped
    over = lsh_bucket_overflow(spark, sf, PRODUCTION_BUCKET_CAP).collect()
    assert len(over) == BANDS
    assert all(r.bucket_size == 1001 for r in over)

    # explicit opt-out restores the exhaustive shape: hot cluster collapses
    unc = {
        r.doc_id: r.keep
        for r in dedup_near_dup_keep_list(spark, sf, bucket_cap=None).collect()
    }
    assert unc[1] and not unc[2] and not unc[1001]


def test_incremental_dedup_all_layers(spark, tmp_path):
    """dedup_incremental_keep_list must label every drop layer correctly on
    a planted corpus/batch: exact_corpus, exact_batch, near_corpus (tokens
    identical to a corpus doc but raw text differs — doubled space — so ALL
    LSH bands collide while the md5 content key does not), near_batch (CC
    min-id keep among surviving batch docs), kept, and the documented
    precedence. bucket_cap=0 disables the batch-batch pair stage, flipping
    the near_batch drop to kept while leaving corpus-driven layers alone."""
    import hashlib

    from polars_ad_etl_spark.operators.dedup import (
        INCR_SPLIT_PERMILLE,
        _INCR_SALT,
        dedup_incremental_keep_list,
        dedup_incremental_report,
    )

    def is_batch(doc_id: int) -> bool:
        h = int(
            hashlib.md5(f"{_INCR_SALT}{doc_id}".encode()).hexdigest()[:8], 16
        )
        return h % 1000 >= INCR_SPLIT_PERMILLE

    corpus_ids = [i for i in range(1, 200) if not is_batch(i)]
    batch_ids = [i for i in range(1, 200) if is_batch(i)]
    assert len(corpus_ids) >= 2 and len(batch_ids) >= 8

    t_shared = "the quick brown fox jumps over the lazy sleeping dog today"
    t_twin = "an entirely different batch story about seven silver ships sailing"
    t_near = "another separate batch tale of nine golden gates standing tall"
    c1, c2 = corpus_ids[:2]
    b = batch_ids
    rows = [
        (c1, t_shared, "en"),
        (c2, "a corpus only story never repeated anywhere else at all", "en"),
        (b[0], t_shared, "en"),                      # exact_corpus
        (b[1], t_shared.replace(" fox ", "  fox "), "en"),  # near_corpus
        (b[2], t_twin, "en"),                        # kept (min of exact pair)
        (b[3], t_twin, "en"),                        # exact_batch
        (b[4], t_near, "en"),                        # kept (min of near pair)
        (b[5], t_near.replace(" nine ", "  nine "), "en"),  # near_batch
        (b[6], "a wholly unique batch document with no twin at all", "en"),
        (b[7], None, "en"),  # NULL text: ck NULL joins nothing -> kept
    ]
    docs = spark.createDataFrame(
        [(i, t, l, "synthetic", len(t) if t else 0) for i, t, l in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)

    got = {
        r.doc_id: (r.reason, r.keep)
        for r in dedup_incremental_keep_list(spark, sf).collect()
    }
    assert got == {
        b[0]: ("exact_corpus", False),
        b[1]: ("near_corpus", False),
        b[2]: ("kept", True),
        b[3]: ("exact_batch", False),
        b[4]: ("kept", True),
        b[5]: ("near_batch", False),
        b[6]: ("kept", True),
        b[7]: ("kept", True),  # NULL text survives every layer (no silent drop)
    }

    rep = dedup_incremental_report(spark, sf).collect()[0]
    assert rep.n_corpus == 2 and rep.n_batch == 8
    assert (rep.n_exact_corpus, rep.n_exact_batch) == (1, 1)
    assert (rep.n_near_corpus, rep.n_near_batch) == (1, 1)
    assert rep.n_kept == 4
    assert rep.n_batch == (
        rep.n_exact_corpus + rep.n_exact_batch + rep.n_near_corpus
        + rep.n_near_batch + rep.n_kept
    )

    # cap=0 removes the batch-batch pair stage only
    capped = {
        r.doc_id: r.reason
        for r in dedup_incremental_keep_list(spark, sf, bucket_cap=0).collect()
    }
    assert capped[b[5]] == "kept"
    assert {k: v for k, v in capped.items() if k != b[5]} == {
        k: v for k, (v, _) in got.items() if k != b[5]
    }


def test_incremental_dedup_random_differential(spark, tmp_path):
    """Adversarial randomized differential: generate corpora from a tiny
    vocabulary (forcing heavy shingle collisions, exact dups, doubled-space
    near dups, short docs, NULLs), and hash-compare the full incremental
    keep-list + report against the DuckDB oracle — the independent
    implementation of all four layers. Seeded, so failures reproduce."""
    import random

    import duckdb

    from oracle_util import compare
    from polars_ad_etl_spark.operators.dedup import (
        dedup_incremental_keep_list,
        dedup_incremental_report,
    )
    from polars_ad_etl_spark.operators.registry import ORACLES, QUERIES

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    for seed in (11, 42):
        rng = random.Random(seed)
        rows = []
        texts = []
        for doc_id in range(1, 61):
            roll = rng.random()
            if roll < 0.08:
                text = None
            elif roll < 0.25 and texts:
                text = rng.choice(texts)  # exact dup of an earlier doc
            elif roll < 0.40 and texts:
                # near dup: same tokens, different raw text
                text = rng.choice(texts).replace(" ", "  ", 1)
            else:
                n = rng.randint(1, 10)  # includes <3-token shingle-less docs
                text = " ".join(rng.choice(vocab) for _ in range(n))
            if text:
                texts.append(text)
            rows.append(
                (doc_id, text, "en", "synthetic", len(text) if text else 0)
            )
        d = f"{tmp_path}/rand{seed}"
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        for name in (
            "dedup_incremental_keep_list",
            "dedup_incremental_report",
            "dedup_incremental_ingest_admitted",
        ):
            diff = compare(QUERIES[name](spark, d), con, ORACLES[name])
            assert diff is None, f"seed={seed} {name}: {diff}"
        # structural invariants on the same corpus
        kl = dedup_incremental_keep_list(spark, d).collect()
        rep = dedup_incremental_report(spark, d).collect()[0]
        assert rep.n_batch == len(kl)
        assert rep.n_batch == (
            rep.n_exact_corpus + rep.n_exact_batch + rep.n_near_corpus
            + rep.n_near_batch + rep.n_kept
        )
        for r in kl:
            assert r.keep == (r.reason == "kept")
        con.close()


def test_incremental_embedding_dedup_layers(spark, tmp_path):
    """dedup_incremental_embedding_keep must label the vector drop layers on
    a planted corpus/batch: near_corpus (cosine 1.0 with a corpus vector),
    near_batch (identical batch twins collapse to the min vec_id via CC),
    and kept for vectors below the duplicate threshold against everything."""
    import hashlib

    from polars_ad_etl_spark.operators.dedup import (
        INCR_SPLIT_PERMILLE,
        _VEC_INCR_SALT,
        dedup_incremental_embedding_keep,
    )

    def is_batch(vec_id):
        h = int(
            hashlib.md5(f"{_VEC_INCR_SALT}{vec_id}".encode()).hexdigest()[:8],
            16,
        )
        return h % 1000 >= INCR_SPLIT_PERMILLE

    import math

    cids = [i for i in range(1, 300) if not is_batch(i)]
    bids = [i for i in range(1, 300) if is_batch(i)]
    # FULL 64-dim vectors: the sign-LSH hyperplanes are 64-dim, and
    # shorter vectors NULL-pad every projection into bucket 0, which
    # would degenerate the test to all-pairs and hide bucketing bugs
    dim = 64
    v1 = [math.sin(1.0 + 0.37 * i) for i in range(dim)]
    v2 = [math.cos(2.0 + 0.53 * i) * (1 if i % 3 else -1) for i in range(dim)]
    # exact-zero dot product by pairwise rotation of v1
    v3 = []
    for i in range(0, dim, 2):
        v3 += [v1[i + 1], -v1[i]]
    assert abs(sum(a * b for a, b in zip(v1, v3))) < 1e-9

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b)) / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    # preconditions the labels below rely on (signed threshold 0.35)
    assert cos(v1, v2) < 0.35 and cos(v1, v3) < 0.35 and cos(v2, v3) < 0.35
    rows = [
        (cids[0], v1, 0),
        (bids[0], v1, 0),   # near_corpus (cosine 1.0)
        (bids[1], v2, 0),   # kept (min of the identical pair)
        (bids[2], v2, 0),   # near_batch
        (bids[3], v3, 0),   # kept (orthogonal to v1; cosine vs v2 < 0.35)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    got = {
        r.vec_id: (r.reason, r.keep)
        for r in dedup_incremental_embedding_keep(spark, str(tmp_path)).collect()
    }
    assert got == {
        bids[0]: ("near_corpus", False),
        bids[1]: ("kept", True),
        bids[2]: ("near_batch", False),
        bids[3]: ("kept", True),
    }

    # bucket_cap=0 suppresses ALL candidate generation but every batch
    # vector must remain in the output (as kept) — cap bounds work, never
    # silently shrinks the answer's row set
    capped = {
        r.vec_id: (r.reason, r.keep)
        for r in dedup_incremental_embedding_keep(
            spark, str(tmp_path), bucket_cap=0
        ).collect()
    }
    assert capped == {b: ("kept", True) for b in (bids[0], bids[1], bids[2], bids[3])}


def test_kcenter_lineage_stays_flat_at_k25(spark):
    """kcenter_greedy chains one withColumn per round; the periodic
    localCheckpoint must keep the optimized-plan size bounded at K=25
    (vs linear growth without it), and must not change the selection."""
    from pyspark.sql import functions as F

    from polars_ad_etl_spark.operators.linalg import _QUANT, kcenter_greedy

    q = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.expr(_QUANT).alias("qv"))
        .limit(200)
        .localCheckpoint(eager=True)
    )

    def plan_size(df):
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    picks_ck, cur_ck = kcenter_greedy(q, 25, checkpoint_every=8)
    picks_raw, cur_raw = kcenter_greedy(q, 25, checkpoint_every=None)
    assert picks_ck == picks_raw  # checkpointing is invisible to results
    assert [p[0] for p in picks_ck] == list(range(25))
    radii = [p[2] for p in picks_ck[1:]]
    assert radii == sorted(radii, reverse=True)  # greedy max-min monotone
    # lineage hygiene: checkpointed plan is a small constant; raw plan grew
    assert plan_size(cur_ck) < plan_size(cur_raw) / 3


def test_kcenter_production_k100_stays_flat(spark):
    """k-center at production K: with lineage truncation every 8 rounds the
    per-round cost is constant, so (a) the optimized plan at the END of a
    K=100 run is no bigger than just after a single truncation cycle, and
    (b) doubling K from 50 to 100 costs ~2x wall, not the superlinear blowup
    an unbounded lineage chain produces. The wall bound is deliberately
    loose (4x) to stay robust to machine variance; the plan-size bound is
    exact evidence."""
    import time

    from pyspark.sql import functions as F

    from polars_ad_etl_spark.operators.linalg import _QUANT, kcenter_greedy

    q = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select("vec_id", F.expr(_QUANT).alias("qv"))
        .localCheckpoint(eager=True)
    )

    def plan_size(df):
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    t0 = time.perf_counter()
    picks50, _ = kcenter_greedy(q, 50, checkpoint_every=8)
    t50 = time.perf_counter() - t0
    t0 = time.perf_counter()
    picks100, cur100 = kcenter_greedy(q, 100, checkpoint_every=8)
    t100 = time.perf_counter() - t0

    assert len(picks100) == 100
    assert picks100[:50] == picks50  # greedy is prefix-stable
    radii = [p[2] for p in picks100[1:]]
    assert radii == sorted(radii, reverse=True)
    # (a) lineage stays flat: plan size depends only on rounds-since-last-
    # checkpoint (K mod 8), not on K — so a K=12 run (same cycle phase, 4
    # rounds past its checkpoint) must have essentially the SAME plan size
    # as the K=100 end state.
    _, cur12 = kcenter_greedy(q, 12, checkpoint_every=8)
    assert plan_size(cur100) <= plan_size(cur12) * 1.25
    # (b) per-round cost is constant: 2x the rounds, <=4x the wall. The
    # bound is loose, but a GC pause on a heavily loaded machine can still
    # flake it — so the wall-clock assertion (unlike the exact plan-size
    # one above) only runs when the machine looks idle and isn't opted out.
    import os

    load1 = os.getloadavg()[0]
    busy = load1 >= 0.5 * (os.cpu_count() or 1)
    if busy or os.environ.get("SPARK_GRAFT_SKIP_PERF_ASSERTS"):
        pytest.skip(
            f"timing assertion skipped (load1={load1:.1f} or opted out); "
            "plan-size lineage evidence above already ran"
        )
    assert t100 < 4 * t50, f"K=100 took {t100:.1f}s vs K=50 {t50:.1f}s"


def test_pq_combined_trainer_matches_per_subspace(spark):
    """The single-pass multi-subspace PQ trainer must produce codebooks
    bit-identical to running the reference per-subspace Lloyd loop
    (_kmeans_fixed_on on each slice) — same init rows, same distances,
    same lowest-index argmin tie-break, same floor-divided update."""
    from pyspark.sql import functions as F

    from polars_ad_etl_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        _kmeans_fixed_on,
        _pq_train,
        _quantized,
    )

    sf = "/root/testdata/sf0.001"
    _, combined = _pq_train(spark, sf)
    q_full = _quantized(
        spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
    )
    per_subspace = [
        _kmeans_fixed_on(
            q_full.select(
                "vec_id",
                F.slice("qe", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("qe"),
            ),
            PQ_K,
            iters=2,
        )
        for m in range(PQ_M)
    ]
    assert combined == per_subspace


def test_embedding_cosine_bucket_cap(spark, tmp_path):
    """A planted cluster of near-identical vectors (one hot sign-LSH
    bucket) must be suppressed by ``bucket_cap`` BEFORE the self-join
    while distinct-direction buckets keep their pairs, and every dropped
    candidate must be accounted by ``embedding_bucket_overflow``."""
    import math

    from pyspark.sql import functions as F

    from polars_ad_etl_spark.operators.dedup import (
        dedup_embedding_cosine_pairs,
        embedding_bucket_overflow,
    )

    dim = 64
    hot = [1.0] * dim  # 20 near-identical vectors -> one hot bucket
    rows = [(i, [v + 1e-4 * i for v in hot], 0) for i in range(1, 21)]
    # a duplicate pair in a very different direction (alternating signs)
    other = [(1.0 if j % 2 == 0 else -1.0) for j in range(dim)]
    rows += [(100, other, 1), (101, [v * 1.001 for v in other], 1)]
    docs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    sf = str(tmp_path)

    uncapped = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_cosine_pairs(spark, sf).collect()
    }
    hot_pairs = {(a, b) for a in range(1, 21) for b in range(a + 1, 21)}
    assert hot_pairs <= uncapped
    assert (100, 101) in uncapped

    capped = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_cosine_pairs(spark, sf, bucket_cap=10).collect()
    }
    assert capped & hot_pairs == set()
    assert (100, 101) in capped  # small bucket untouched

    over = embedding_bucket_overflow(spark, sf, bucket_cap=10).collect()
    assert len(over) == 1
    assert over[0].bucket_size == 20
    assert over[0].dropped_candidates == 190


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.data())
def test_lsh_cap_accounting_invariant(spark_session_holder, tmp_path_factory, data):
    """The never-silent guarantee, as a property over random corpora: for
    ANY documents table and ANY cap, every pair emitted uncapped is either
    still emitted capped or lives in a bucket reported by
    lsh_bucket_overflow — no pair vanishes unaccounted."""
    from pyspark.sql import functions as F

    from polars_ad_etl_spark.operators.dedup import (
        _lsh_buckets,
        dedup_minhash_lsh_pairs,
        lsh_bucket_overflow,
    )

    spark = spark_session_holder
    words = ["alpha", "beta", "gamma", "delta", "red", "blue", "fox", "dog"]
    n_docs = data.draw(st.integers(4, 14))
    cap = data.draw(st.integers(1, 6))
    rows = []
    for i in range(n_docs):
        toks = data.draw(
            st.lists(st.sampled_from(words), min_size=3, max_size=10)
        )
        text = " ".join(toks)
        rows.append((i, text, "en", "prop", len(text)))
    tmp = tmp_path_factory.mktemp("lshprop")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    sf = str(tmp)

    uncapped = {
        (r.doc_a, r.doc_b) for r in dedup_minhash_lsh_pairs(spark, sf).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_lsh_pairs(spark, sf, bucket_cap=cap).collect()
    }
    assert capped <= uncapped  # the cap only ever removes pairs
    # reconstruct the pairs coverable by reported dropped buckets
    over_keys = {
        (r.band, r.h0, r.h1, r.h2, r.h3)
        for r in lsh_bucket_overflow(spark, sf, cap).collect()
    }
    dropped_pairs = set()
    for b in _lsh_buckets(spark, sf).collect():
        if (b.band, b.h0, b.h1, b.h2, b.h3) in over_keys:
            ids = sorted(b.ids)
            dropped_pairs |= {
                (a, c) for i, a in enumerate(ids) for c in ids[i + 1 :]
            }
    assert uncapped <= capped | dropped_pairs  # nothing vanishes silently


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2**40),
            st.one_of(st.none(), st.text(max_size=60)),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    )
)
def test_jsonl_round_trip_is_lossless(spark, tmp_path_factory, rows):
    """JSONL sink/source must be a lossless pair on arbitrary unicode
    (controls, quotes, backslashes, astral chars — everything JSON
    escaping can mangle) and on NULL texts (omitted on write, NULL on
    read). This is the property behind the source_jsonl_roundtrip
    oracle: if it ever fails, the digest comparison would too."""
    from pyspark.sql import types as T

    from polars_ad_etl_spark.sinks.jsonl import write_jsonl
    from polars_ad_etl_spark.sources.tabular import read_jsonl

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    out = str(tmp_path_factory.mktemp("jsonl_prop") / "corpus")
    write_jsonl(spark.createDataFrame(rows, schema), out, n_shards=2)
    back = read_jsonl(spark, out, schema)
    assert sorted(
        (r.doc_id, r.text) for r in back.collect()
    ) == sorted(rows)
