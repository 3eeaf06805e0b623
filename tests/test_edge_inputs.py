"""Edge-input robustness: registry queries on empty and single-row tables.

A 100-TB pipeline hits these shapes constantly — a day-partition with no
events, a delta batch with nothing in it, a source that shipped one row.
The sf* gates never exercise them, and the first empty-input sweep found
20 real defects in 5 classes:

1. ROLLUP/CUBE/GROUPING SETS on empty input: Spark's Expand emits no
   rows, silently dropping the grand-total row the SQL standard (and
   DuckDB/Postgres) require — fixed by
   ``functions/grouping.py::with_empty_grand_total``.
2. ANSI DIVIDE_BY_ZERO crashes: integer ``div`` by a zero count (empty
   corpus permilles) — fixed with ``nullif(denom, 0)``, matching DuckDB's
   ``x // 0 -> NULL``.
3. SUM-over-empty NULL where the oracle counts 0 (``sum(CASE...)`` vs
   ``COUNT(*) FILTER``) — fixed with ``coalesce(sum(...), 0)``.
4. Empty-trainer crashes: kmeans/PQ/k-center collect 0 seed rows and
   built un-analyzable empty ``array()`` literals or indexed ``rows[0]``
   — fixed with typed-NULL assignment expressions and early returns.
5. A global aggregate that manufactures a row of NULLs where the oracle's
   grouped aggregate yields no row (events_pareto_8020) — fixed by
   mirroring the oracle's GROUP BY.

The NULL-heavy sweep (``nulls`` variant: payload columns nulled on
deterministic strides — NULL text, NULL timestamps, NULL embeddings,
NULL measures) found 45 more, resolved by four declared data contracts
plus four genuine engine bugs:

6. Event-time contract: a row without a timestamp cannot be placed on
   the timeline — filtered ONCE in ``sources/star.py::load_events`` and
   mirrored into every events oracle by
   ``operators/registry.py::_apply_events_contract`` (fixed ~20 window/
   session/rollup divergences, since Spark sorts NULLs first and DuckDB
   last).
7. NULL-vector contract: embedding operators exclude rows without a
   vector (failed encoder batch), uniformly on both engines.
8. Rank-statistic contract: percentile/trimmed-mean rankings exclude
   NULL measures (standard percentile-family semantics); remaining
   order-sensitive windows spell NULLS FIRST on both engines.
9. Engine bugs: ``asof_join`` carried value columns individually with
   ``last(ignorenulls=True)``, skipping legitimate NULL-valued matches
   and tearing columns across different right rows (now ONE struct
   carry); the EWMA fold's zero accumulator used a non-nullable literal
   0, silently coercing NULL-poisoned state to 0; ``concat_ws`` in
   feature hashing silently dropped NULL features (aliasing distinct
   crosses — now an explicit '~null~' token both sides); rolling-median
   crashed on an all-NULL window frame (element_at index 0).

The full-registry sweep lives in ``scripts/edge_sweep.py`` (283/283 on
all three variants); this file pins the once-broken queries plus one
representative per family so the property is guarded in CI time budget.
"""

from __future__ import annotations

import pytest

import sys
from pathlib import Path

from oracle_util import compare, duckdb_conn
from polars_ad_etl_spark.operators import ORACLES, QUERIES

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
from gen_edge_data import generate  # noqa: E402

# Every query the first empty-input sweep broke (classes 1-5 above) ...
ONCE_BROKEN = [
    "agg_rollup_revenue",
    "agg_cube_quantity",
    "grouping_sets_revenue",
    "agg_rollup_grouping_id",
    "sim_kmeans_clusters",
    "dedup_semdedup_keep_list",
    "embedding_pq_codes",
    "sim_pq_adc_topk",
    "sim_ivfpq_topk",
    "sim_kmeans_label_purity",
    "sim_kcenter_coreset",
    "dedup_blocking_reduction",
    "events_conversion_cdf",
    "corpus_health_scorecard",
    "events_pareto_8020",
    "curation_gate_funnel",
    "events_ab_srm_check",
    "dq_orders_rules",
    "dq_linenumber_density",
    "privacy_suppression_impact",
]
# ... plus one never-broken representative per major family, so a future
# regression in shared plumbing is caught even if it skips the fixed set.
REPRESENTATIVES = [
    "q1_pricing_summary",
    "dedup_exact_documents",
    "dedup_incremental_keep_list",
    "sim_bruteforce_topk",
    "text_quality_scores",
    "curation_training_set",
    "events_session_windows",
    "multimodal_metadata",
    "search_ranked_retrieval",
    "window_running_customer_spend",
]


# Queries the NULL-heavy sweep broke (classes 6-9 above): the asof struct
# carry, the EWMA fold state, the feature-hash missing token, the rolling
# median frame guard, the NULL-ordering spellings, the rank-statistic and
# fertility exclusions, plus one representative of each declared contract.
NULLS_ONCE_BROKEN = [
    "asof_purchase_last_click",
    "events_value_ewma",
    "events_feature_crosses",
    "window_rolling_median_value",
    "agg_modern_event_stats",
    "window_running_customer_spend",
    "window_family_customer_balance",
    "stats_trimmed_mean_prices",
    "stats_percentile_disc_prices",
    "orders_quarter_end_loading",
    "orders_yoy_growth",
    "text_token_fertility",
    # regressed once during the fuzz fixes (COALESCE conflated NULL-text
    # docs with empty docs) — pinned on this variant too
    "text_collapse_repeats",
    "events_session_windows",  # event-time contract representative
    "sim_bruteforce_topk",  # NULL-vector contract representative
    "dedup_embedding_cosine_pairs",
    "dedup_incremental_keep_list",  # NULL-text handling (pre-existing)
    "embedding_contract_quarantine",  # must label NULL vectors here
]


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    return str(generate("empty", tmp_path_factory.mktemp("edge_empty")))


@pytest.fixture(scope="module")
def nulls_dir(tmp_path_factory):
    return str(generate("nulls", tmp_path_factory.mktemp("edge_nulls")))


# Queries the value-domain fuzz sweep broke (28 failures): the vector
# domain contract (zero/1e6-component vectors overflowing the exact-
# integer envelope -- now excluded by the bounded embeddings contract),
# exact-moment arithmetic width (1e8-magnitude values), the malformed-JSON
# policy (try_cast / json_valid on both engines), the srcN-scheme default
# group, and two engine-dialect artifacts (DuckDB array_to_string([]) is
# NULL; string_split('','') is ['']).
FUZZ_ONCE_BROKEN = [
    "sim_bruteforce_topk",
    "sim_kmeans_clusters",
    "embedding_covariance",
    "embedding_participation_ratio",
    "dedup_embedding_cosine_pairs",
    "events_value_anomalies",
    "events_time_weighted_value",
    "events_json_props",
    "events_json_kv_counts",
    "events_props_variant",
    "curation_dataset_mix",
    "text_collapse_repeats",
    "text_char_simpson",
    # the contract's quarantine report: labels every excluded vector
    # (zero / out-of-bound / NaN / empty) on this variant
    "embedding_contract_quarantine",
]


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    return str(generate("fuzz", tmp_path_factory.mktemp("edge_fuzz")))


@pytest.fixture(scope="module")
def tiny_dir(tmp_path_factory):
    return str(generate("tiny", tmp_path_factory.mktemp("edge_tiny")))


def _check(spark, sf_dir: str, name: str) -> None:
    df = QUERIES[name](spark, sf_dir)
    con = duckdb_conn(sf_dir)
    try:
        diff = compare(df, con, ORACLES[name])
    finally:
        con.close()
    assert diff is None, f"{name} on {sf_dir}: {diff}"


@pytest.mark.parametrize("name", ONCE_BROKEN + REPRESENTATIVES)
def test_empty_input_matches_oracle(spark, empty_dir, name):
    _check(spark, empty_dir, name)


@pytest.mark.parametrize("name", ONCE_BROKEN + REPRESENTATIVES)
def test_tiny_input_matches_oracle(spark, tiny_dir, name):
    _check(spark, tiny_dir, name)


@pytest.mark.parametrize("name", NULLS_ONCE_BROKEN)
def test_null_heavy_input_matches_oracle(spark, nulls_dir, name):
    _check(spark, nulls_dir, name)


@pytest.mark.parametrize("name", FUZZ_ONCE_BROKEN)
def test_fuzz_input_matches_oracle(spark, fuzz_dir, name):
    _check(spark, fuzz_dir, name)


def test_table_contract_rewrite():
    """The oracle-side data-contract rewrite must catch any reference
    form (case-insensitive, aliased, joined) and leave non-references
    (column names containing the table name) alone — a silently skipped
    rewrite would diverge the engines only on NULL-carrying data."""
    from polars_ad_etl_spark.operators.registry import _apply_table_contracts

    out = _apply_table_contracts(
        "select count(*) from events e join embeddings on true"
    )
    assert "__events e" in out and "__embeddings" in out
    assert "__events AS (SELECT * FROM events WHERE ts IS NOT NULL)" in out
    assert "__embeddings AS (SELECT * FROM embeddings" in out
    assert "embedding IS NOT NULL" in out
    # the vector domain bound (finite, non-zero, max |x| <= 16) rides the
    # same contract
    assert "list_max(list_transform(embedding, x -> abs(x))) <= 16" in out
    assert out.lstrip().startswith("WITH ")
    # a WITH-query gets the contract CTEs prepended to its list
    w = _apply_table_contracts("WITH x AS (SELECT 1) SELECT * FROM events")
    assert w.startswith("WITH __events AS") and ", x AS (SELECT 1)" in w
    # column names that merely contain the table name are not references
    sql = "SELECT n_events FROM documents"
    assert _apply_table_contracts(sql) == sql
    # WITH RECURSIVE splice is whitespace-flexible (WITH<newline>RECURSIVE)
    r = _apply_table_contracts(
        "WITH\n  RECURSIVE x AS (SELECT 1) SELECT * FROM events"
    )
    assert r.startswith("WITH RECURSIVE __events AS")
    assert ", x AS (SELECT 1)" in r
    # a reference form the rewrite can't handle must FAIL registration,
    # not silently read the raw (contract-free) table
    with pytest.raises(ValueError, match="unrewritten"):
        _apply_table_contracts("SELECT * FROM documents, events")
    with pytest.raises(ValueError, match="unrewritten"):
        # an oracle-local CTE shadowing a contracted table name
        _apply_table_contracts(
            "WITH events AS (SELECT 1 AS ts) SELECT * FROM events"
        )


@pytest.mark.parametrize("variant_fixture", ["nulls_dir", "fuzz_dir"])
def test_streaming_contract_matches_batch_on_edge_inputs(
    spark, variant_fixture, request
):
    """The streaming reader carries the same event-time contract as the
    batch loader: on NULL-timestamp / fuzzed input the streamed hourly
    rollup must agree with its batch twin (itself oracle-checked on these
    variants), not crash in the watermark/window machinery."""
    from polars_ad_etl_spark.streaming import (
        hourly_rollup_stream,
        read_events_stream,
    )

    sf_dir = request.getfixturevalue(variant_fixture)
    name = f"edge_hourly_{variant_fixture}"
    q = (
        hourly_rollup_stream(read_events_stream(spark, sf_dir))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    def _key(t):  # rows carry NULL event_type on these variants
        return tuple((v is None, v) for v in t)

    got = sorted(
        (tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()),
        key=_key,
    )
    want = sorted(
        (
            tuple(r)
            for r in QUERIES["events_hourly_rollup"](spark, sf_dir).collect()
        ),
        key=_key,
    )
    assert got == want and len(got) > 0


def test_pk_uniqueness_detector_catches_double_load(spark, tmp_path):
    """The key-uniqueness precondition's detector must (a) oracle-match on
    a double-loaded dataset, and (b) report the exact planted duplicate
    counts — the gate a pipeline runs before trusting key-equi-joins
    (deduping at load would shuffle every query at scale; the detector is
    the declared alternative)."""
    d = str(generate("dupkeys", tmp_path / "dup"))
    _check(spark, d, "dq_pk_uniqueness")
    rows = {
        r.table_name: r
        for r in QUERIES["dq_pk_uniqueness"](spark, d).collect()
    }
    # every 13th of 500 docs re-appended -> ceil(500/13) = 39 duplicates
    assert rows["documents"].n_duplicate_rows == 39
    assert rows["events"].n_duplicate_rows == 77
    assert rows["region"].n_duplicate_rows == 1
    # and on pristine data the report is all-zero
    clean = {
        r.table_name: r.n_duplicate_rows
        for r in QUERIES["dq_pk_uniqueness"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(clean.values()) == {0}


def test_pk_uniqueness_detector_null_keys(spark, tmp_path):
    """NULL primary keys: the declared semantics (a NULL key violates
    the PK on its own — counted in n_null_key_rows, excluded from
    n_keys/n_duplicate_rows) must hold IDENTICALLY on both engines.
    Spark's count_distinct(struct(k)) counts a NULL-bearing tuple as a
    key while SQL's COUNT(DISTINCT k) skips it, so without the explicit
    split the two engines diverge precisely when keys go bad."""
    from gen_edge_data import PK_COLS

    from polars_ad_etl_spark.operators.dq import _PK_MAP

    # the generator's literal key map must not drift from the detector's
    assert PK_COLS == _PK_MAP

    d = str(generate("nullkeys", tmp_path / "nk"))
    _check(spark, d, "dq_pk_uniqueness")
    rows = {
        r.table_name: r
        for r in QUERIES["dq_pk_uniqueness"](spark, d).collect()
    }
    for t, r in rows.items():
        # nulls planted on stride 17 -> present in every table
        assert r.n_null_key_rows > 0, t
        # declared identity: fully-keyed duplicates only
        assert (
            r.n_duplicate_rows == r.n_rows - r.n_null_key_rows - r.n_keys
        ), t
    # documents: 500 rows + 39 dups = 539; every 17th (i%17==5) nulled
    assert rows["documents"].n_null_key_rows == len(
        [i for i in range(539) if i % 17 == 5]
    )


def test_embedding_bound_envelope():
    """The shared vector-domain bound must keep every quantized distance
    computation inside int64 — the invariant that justifies the contract's
    magnitude cut. Asserted from the live constants so raising any of
    them without the others fails here, not in a fuzz run."""
    from polars_ad_etl_spark.operators.linalg import DIM, Q_SCALE
    from polars_ad_etl_spark.operators.similarity import (
        KMEANS_Q_OFFSET,
        KMEANS_Q_SCALE,
    )
    from polars_ad_etl_spark.sources.star import EMBEDDING_MAX_ABS

    # integer-Lloyd path: q <= |x|*scale + offset; a 64-dim squared
    # distance sums DIM terms of (2q)^2
    q = EMBEDDING_MAX_ABS * KMEANS_Q_SCALE + KMEANS_Q_OFFSET
    assert DIM * (2 * q) ** 2 < 2**63
    # linalg fixed-point path: pairwise products q_i*q_j
    q2 = EMBEDDING_MAX_ABS * Q_SCALE
    assert q2 * q2 < 2**63
    # the oracle predicate interpolates the same constant
    from polars_ad_etl_spark.operators.registry import _TABLE_CONTRACTS

    assert f"<= {EMBEDDING_MAX_ABS:g}" in _TABLE_CONTRACTS["embeddings"]


def test_case_folding_dialect_boundary(spark):
    """Record the known lower() dialect boundary between the engines (JVM
    full case mapping vs DuckDB simple mapping) so a change in either is
    noticed. Everything outside these two contexts agreed in the probe
    battery (fullwidth, Cherokee, Deseret, ligatures, digraphs, dotless
    i, sharp s)."""
    import duckdb

    chars = ["İ", "ΒΑΣ", "I", "ı", "ß", "ẞ", "Ａ", "Ꭰ", "𐐀", "Ĳ", "ǅ"]
    rows = (
        spark.createDataFrame([(c,) for c in chars], "s string")
        .selectExpr("s", "lower(s) AS l")
        .collect()
    )
    sp = {r.s: r.l for r in rows}
    du = {c: duckdb.sql("select lower(?)", params=[c]).fetchone()[0] for c in chars}
    # the two known divergences: full mapping adds the combining dot /
    # contextual final sigma; simple mapping does not
    assert sp["İ"] == "i̇" and du["İ"] == "i"
    assert sp["ΒΑΣ"] == "βας" and du["ΒΑΣ"] == "βασ"
    # everything else agrees
    for c in chars[2:]:
        assert sp[c] == du[c], f"lower({c!r}) newly diverged"


def test_whitespace_dialect_agreement(spark):
    """The tokenizer contract (functions/hashing.py::tokens): separators
    are exactly Java's \\s = [ \\t\\n\\x0B\\f\\r]. The Spark side says \\s+;
    the DuckDB mirror spells the class out because RE2's \\s excludes VT.
    This pin runs BOTH tokenizers over every separator candidate — the
    five shared ASCII separators, VT (the dialect divergence the explicit
    class closes), and the Unicode spaces that are separators in NEITHER
    engine — and asserts identical token arrays."""
    import duckdb

    from polars_ad_etl_spark.functions.hashing import tokens, tokens_sql

    seps = ["\t", "\n", "\x0b", "\f", "\r", " ",
            "\x1f", "\xa0", " ", "　", "​", " ",
            " ", "\x85"]
    docs = [f"alpha{ch}beta" for ch in seps] + [
        " \t\n\x0b\f\r ",          # whitespace-only doc -> zero tokens
        "\x0bleading and trailing\x0b",
        "a\x0b\x0b\t b",           # runs of mixed separators collapse
    ]
    from pyspark.sql import functions as F

    sp = [
        r.t
        for r in spark.createDataFrame([(d,) for d in docs], "s string")
        .select(tokens(F.col("s")).alias("t"))
        .collect()
    ]
    du = [
        duckdb.sql(
            f"SELECT {tokens_sql('?')} AS t", params=[d]
        ).fetchone()[0]
        for d in docs
    ]
    for d, a, b in zip(docs, sp, du):
        assert a == b, f"tokenizers diverge on {d!r}: spark={a} duckdb={b}"
    # VT is a separator (the class the contract pins), Unicode spaces not
    assert sp[seps.index("\x0b")] == ["alpha", "beta"]
    assert sp[seps.index("\xa0")] == ["alpha\xa0beta"]


def test_grand_total_guard_is_limit1_not_rescan(spark, empty_dir):
    """The empty-input grand-total guard must probe the source via
    limit(1) — a near-free early-terminating scan — not re-aggregate the
    rolled frame (which Catalyst prunes into a DIFFERENT exchange and
    therefore a second full fact scan)."""
    df = QUERIES["agg_rollup_revenue"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Limit" in plan
    assert plan.count("FileScan") == 2  # main rollup + the limit(1) probe

    rows = QUERIES["agg_rollup_revenue"](spark, empty_dir).collect()
    assert len(rows) == 1  # exactly the standard grand-total row
    (r,) = rows
    assert r.l_returnflag is None and r.l_linestatus is None
    assert r.revenue is None and r.n_rows == 0


def test_ragged_vector_is_outside_the_contract(spark, tmp_path):
    """A vector of other than ``EMBEDDING_DIM`` components is excluded by
    the contract on both engines: the label centroids equal those of the
    full vectors alone (a kept ragged row would count in its label's
    mean without adding to its tail dimensions), and the quarantine report
    labels the row ``wrong_dim``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from polars_ad_etl_spark.operators.similarity import _label_centroid_arrays
    from polars_ad_etl_spark.sources.star import EMBEDDING_DIM, load_embeddings

    # 8 vectors over two labels; components are multiples of 1/64, exact
    # in float32
    rows = [
        {"vec_id": i, "label": i % 2,
         "embedding": [((i + j) % 9 + 1) / 64 for j in range(EMBEDDING_DIM)]}
        for i in range(8)
    ]
    ragged = 3
    rows[ragged]["embedding"] = rows[ragged]["embedding"][: EMBEDDING_DIM // 2]
    schema = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema), tmp_path / "embeddings.parquet"
    )
    d = str(tmp_path)

    def centroids(e):
        return {r.label: r.ce for r in _label_centroid_arrays(e).collect()}

    raw = spark.read.parquet(f"{d}/embeddings.parquet")
    full = raw.where(F.size("embedding") == EMBEDDING_DIM)
    assert load_embeddings(spark, d).count() == len(rows) - 1
    assert centroids(load_embeddings(spark, d)) == centroids(full)
    for name in ("embedding_label_centroids", "embedding_contract_quarantine"):
        _check(spark, d, name)
    report = QUERIES["embedding_contract_quarantine"](spark, d).collect()
    assert [(r.vec_id, r.reason) for r in report] == [(ragged, "wrong_dim")]
