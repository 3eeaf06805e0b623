"""Deduplication operators over the ``documents`` table — the LLM-training-
data surface: exact (hash-groupBy), MinHash signatures + banded LSH candidate
pairs, SimHash fingerprints, and n-gram Jaccard similarity. Every operator
here is oracle-checked: the hashing is engine-portable (functions/hashing.py),
so DuckDB computes bit-identical signatures.

Scale design (100 TB):
- exact dedup is a hash-aggregate on md5(text) — one shuffle on a 16-byte key,
  never on the full text;
- MinHash/LSH is the canonical near-dup path: 3-gram shingle -> k permutations
  -> min-aggregate (map-side combinable!) -> band -> bucket group. Shingles
  (not unigrams) are load-bearing: unigram token sets of same-vocabulary
  corpora overlap so heavily that banded LSH degenerates toward all-pairs
  (measured: 7M candidate pairs from 5k near-unique docs at sf0.1 with
  unigrams vs 253 with 3-gram shingles);
- signatures are a PURE PROJECTION (round 7): the shingle array is hashed
  element-wise (one md5 per shingle) and each permutation is an
  array_min(transform(...)) over the bound hash array — no explode, no
  aggregation hash map, no shuffle; measured 1.6x faster than the previous
  explode -> project -> map-side-combinable MIN shape (itself 6x faster
  than perm-in-aggregate);
- candidate pairs come from a single groupBy on the band key + intra-bucket
  pair expansion — the signature subplan is built once (a self-join would
  execute it twice) and nothing ever goes O(n^2);
- n-gram Jaccard all-pairs is intentionally the *small-scale verifier* for
  LSH candidates; its docstring marks it as not-the-scale-path.
"""

from __future__ import annotations

import functools
import itertools
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_ad_etl_spark.functions.hashing import (
    MERSENNE_P,
    minhash_perm_sql,
    perm_constants,
    portable_hash32,
    portable_hash32_sql,
    portable_hash60,
    portable_hash60_sql,
    tokens,
    tokens_sql,
)
from polars_ad_etl_spark.operators.registry import ORACLES, register
from polars_ad_etl_spark.sources.star import (
    load_embeddings,
    read_docs_spread,
    read_star_parquet,
)

K = 16  # MinHash signature length
BANDS = 4  # 4 bands x 4 rows
ROWS_PER_BAND = K // BANDS
PERMS = perm_constants(K)


# ------------------------------------------------------------- exact dedup
@register(
    "dedup_exact_documents",
    oracle="""
    SELECT md5(lower(trim(text))) AS text_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on a 16-byte content hash of normalized text, keep
    the smallest doc_id. The shuffle key is the hash, not the document."""
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    return (
        d.groupBy(F.md5(F.lower(F.trim("text"))).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# --------------------------------------------------------------- MinHash
# Word-3-gram shingles (shared with the Jaccard verifier below). MinHash over
# *shingle* sets, not unigram sets — see module docstring for why.
# ``toks`` is LET-BOUND via the single-element-transform trick: the outer
# transform binds the token array to lambda variable ``t`` exactly once per
# row, so even if Catalyst's CollapseProject inlines the tokenizer
# expression into this one (it does: lambdas hide the reference count from
# the "cheap to duplicate" heuristic), the split/filter chain is evaluated
# once per ROW — not once per shingle ELEMENT via ``toks[i]``. Measured on
# sf0.1 documents: the un-bound form cost 12.2s in a broadcast build
# (regex re-tokenizing the doc ~3x per shingle); this form 1.4s.
_SHINGLES_SPARK = """
    transform(array(toks), t ->
        CASE WHEN size(t) >= 3 THEN
            transform(sequence(0, size(t) - 3),
                      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
        ELSE array() END)[0]
"""

# Direct element indexing, NOT `array_to_string(toks[i:i+2], ' ')`: DuckDB
# evaluates a list SLICE inside a comprehension in time proportional to the
# slice offset, which makes the slice form quadratic in document length —
# measured 221s for ONE 100k-token document (the textfuzz edge corpus)
# vs 0.02s for this indexed form, byte-identical output.
_SHINGLES_DUCK = (
    "[concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])"
    " for i in generate_series(1, len(toks) - 2)]"
)


def _tokens_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_docs_spread(spark, sf_dir, key="doc_id")
    return d.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    )


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id -> exploded 3-gram shingles (docs under 3 tokens drop out; the
    min-aggregate absorbs duplicate shingles, so no distinct is needed)."""
    d = read_docs_spread(spark, sf_dir, key="doc_id")
    return d.select("doc_id", tokens(F.col("text")).alias("toks")).select(
        "doc_id", F.explode(F.expr(_SHINGLES_SPARK)).alias("sh")
    )


_TOKENS_CTE = f"""
    toks AS (
        SELECT doc_id, unnest(list_distinct({tokens_sql('text')})) AS tok
        FROM documents
    ),
    hashed AS (
        SELECT doc_id, {portable_hash32_sql('tok')} AS h FROM toks
    )
"""

_SHINGLE_CTE = f"""
    tokarr AS (
        SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    shingled AS (
        SELECT doc_id, unnest({_SHINGLES_DUCK}) AS sh FROM tokarr
    ),
    hashed AS (
        SELECT doc_id, {portable_hash32_sql('sh')} AS h FROM shingled
    )
"""

_SIG_SELECT = ", ".join(
    f"MIN({minhash_perm_sql('h', a, b)}) AS mh{i}" for i, (a, b) in enumerate(PERMS)
)

MINHASH_SIG_SQL = f"""
    WITH {_SHINGLE_CTE}
    SELECT doc_id, {_SIG_SELECT}
    FROM hashed
    GROUP BY doc_id
"""


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id -> K-column MinHash signature over 3-gram shingles.

    Round 13 shape (guide §1.2 "per-task work", §2.4 "share one exchange"):
    explode the shingles to rows and take the K permutation minima in ONE
    whole-stage-codegen HashAggregate. The round-5 "pure projection" form
    (K ``array_min(transform(...))`` passes over a bound hash array) kept
    everything in one row expression but higher-order-function lambdas are
    evaluated INTERPRETED, outside codegen — profiled at ~2.4 ms CPU per
    document at sf0.1 (stage CPU 8.5 s for 5000 docs), ~6x the exploded
    aggregate's cost. The round-5 measurement that the exploded form was
    1.6x slower predates keyed spread: it paid a SECOND exchange for
    ``groupBy(doc_id)`` after the round-robin scan spread. Hashing the
    spread exchange by ``doc_id`` instead (``read_docs_spread(key=
    "doc_id")``) satisfies the aggregate's required distribution, so the
    plan has exactly the same single exchange as the projection form and
    every arithmetic step (md5, the K ``(a*h+b) % P`` perms, ``MIN``) runs
    in generated code. A side effect of exploding is that the old
    pre-exchange ``filter(size(shingles) > 0)`` disappears — Catalyst had
    pushed it below the spread exchange, evaluating the whole
    tokenize+shingle pipeline a second time on the unspread scan side;
    docs under 3 tokens now simply produce no rows (identical semantics,
    same as the GROUP BY oracle).

    At 100 TB this is embarrassingly parallel scan work either way: only
    the K-long signature rows reach the banded-LSH shuffle downstream.
    ``spread_scan`` inside ``read_docs_spread`` is a metadata-gated no-op
    when the scan already plans >= cores tasks."""
    d = read_docs_spread(spark, sf_dir, key="doc_id")
    sh = d.select("doc_id", tokens(F.col("text")).alias("toks")).select(
        "doc_id", F.explode(F.expr(_SHINGLES_SPARK)).alias("sh")
    )
    h = sh.select(
        "doc_id",
        F.expr(
            "cast(conv(substring(md5(sh), 1, 8), 16, 10) as bigint)"
        ).alias("h"),
    )
    return h.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"({a}L * h + {b}L) % {MERSENNE_P}L")).alias(f"mh{i}")
            for i, (a, b) in enumerate(PERMS)
        ]
    )


register("dedup_minhash_signatures", oracle=MINHASH_SIG_SQL)(minhash_signatures)


# Named so layout_twins.py can compose it (pair-payload twin); the registry
# entry below uses the identical text.
LSH_PAIRS_SQL = f"""
    WITH sigs AS ({MINHASH_SIG_SQL})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM ({' UNION ALL '.join(
        'SELECT doc_id, ' + str(j) + ' AS band, '
        + ', '.join(f'mh{j * ROWS_PER_BAND + r} AS h{r}' for r in range(ROWS_PER_BAND))
        + ' FROM sigs'
        for j in range(BANDS)
    )}) a
    JOIN ({' UNION ALL '.join(
        'SELECT doc_id, ' + str(j) + ' AS band, '
        + ', '.join(f'mh{j * ROWS_PER_BAND + r} AS h{r}' for r in range(ROWS_PER_BAND))
        + ' FROM sigs'
        for j in range(BANDS)
    )}) b
    ON a.band = b.band
       AND {' AND '.join(f'a.h{r} = b.h{r}' for r in range(ROWS_PER_BAND))}
       AND a.doc_id < b.doc_id
    """


@register("dedup_minhash_lsh_pairs", oracle=LSH_PAIRS_SQL)
def dedup_minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Banded LSH: docs agreeing on all rows of any band become candidate
    pairs. One groupBy on the (band, h0..h3) bucket key collects each bucket's
    doc ids, and pairs are expanded *inside* the bucket with higher-order
    array functions — the signature subplan executes once (a self-join would
    run it twice) and the only shuffles are the bucket groupBy and the final
    cross-band DISTINCT. Hot buckets (a bucket of b docs emits b*(b-1)/2
    pairs) are the quadratic risk at 100 TB: ``bucket_cap`` drops any bucket
    with more than that many docs *before* the pair expansion, so the worst
    bucket costs O(cap^2) instead of O(b^2). Dropped buckets are never
    silent — ``lsh_bucket_overflow`` reports each one with its forgone pair
    count from the same bucket subplan. Default ``None`` expands everything
    (the oracle-exact registry behavior).

    ``buckets``: optional precomputed (ideally checkpointed) bucket frame
    from :func:`_lsh_buckets` — lets a multi-consumer job (the summary
    report) execute the signature/bucket subplan once for pairs, overflow,
    and components alike."""
    if buckets is None:
        buckets = _lsh_buckets(spark, sf_dir)
    if bucket_cap is not None:
        buckets = buckets.filter(F.size("ids") <= int(bucket_cap))
    return _expand_bucket_pairs(buckets)


def lsh_bucket_overflow(
    spark: SparkSession, sf_dir: str, bucket_cap: int,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Side-channel for the capped LSH path: one row per dropped hot bucket
    with its size and the number of candidate pairs (b*(b-1)/2) it would have
    emitted. Tiny by construction (only buckets above the cap survive the
    filter), so it is safe to collect/report at any scale.

    ``dropped_pairs`` is computed with pure integer arithmetic (``DIV 2`` on
    the even product b*(b-1)), exact for any bucket size a long can hold.
    Note the cross-band SUM of ``dropped_pairs`` is an *upper bound* on
    distinct pairs lost: the same doc pair can collide in several bands (and
    a pair dropped in one band may still surface via another, uncapped
    band), so per-band counts over-count at the pair level.

    ``buckets``: optional precomputed bucket frame, same contract as in
    :func:`dedup_minhash_lsh_pairs`."""
    if buckets is None:
        buckets = _lsh_buckets(spark, sf_dir)
    return (
        buckets
        .withColumn("bucket_size", F.size("ids"))
        .filter(F.col("bucket_size") > int(bucket_cap))
        .select(
            "band",
            *[f"h{r}" for r in range(ROWS_PER_BAND)],
            "bucket_size",
            F.expr(
                "CAST(bucket_size AS BIGINT) * (bucket_size - 1) DIV 2"
            ).alias("dropped_pairs"),
        )
    )


def _banded_keys(sigs: DataFrame) -> DataFrame:
    """Signature frame -> one row per (doc_id, band, h0..h3) bucket key —
    the 16-byte handle everything downstream (bucket grouping, corpus
    index matching) joins on instead of document content."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        *[
                            F.col(f"mh{j * ROWS_PER_BAND + r}").alias(f"h{r}")
                            for r in range(ROWS_PER_BAND)
                        ],
                    )
                    for j in range(BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.*")


def _group_buckets(bands: DataFrame) -> DataFrame:
    """Banded keys -> (band, h0..h3, sorted doc_id list) for buckets >1."""
    return (
        bands.groupBy("band", *[f"h{r}" for r in range(ROWS_PER_BAND)])
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def _lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(band, h0..h3) -> sorted doc_id list for buckets holding >1 doc."""
    return _group_buckets(_banded_keys(minhash_signatures(spark, sf_dir)))


def _expand_bucket_pairs(buckets: DataFrame) -> DataFrame:
    """Intra-bucket pair expansion + cross-band DISTINCT."""
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )


# ------------------------------------------- capped LSH, oracle-checked
# The PRODUCTION shape (hot buckets suppressed + accounted) as registry
# queries with full DuckDB oracles — so the driver's differential gate
# covers the 100-TB path itself, not only the uncapped small-scale
# default. LSH_CAP_DEMO is sized to BITE on the driver's sf0.01 corpus
# (max natural bucket = 3 docs): the capped pair set genuinely differs
# from the uncapped one and the overflow report is non-empty.
LSH_CAP_DEMO = 2
COSINE_CAP_DEMO = 5

# Production default for the hot-bucket cap on the LSH candidate generator.
# Measured basis (ROUND5_lsh_cap.json + BENCH_r5_sf3.json): uncapped pair
# expansion grows quadratically on duplication-heavy corpora (2.1s -> 7.2s
# as a planted cluster grows 500 -> 2000 docs; the embedding-cosine analog
# hit 33.2s at sf3.0 vs 2.1s capped), while a capped run stays flat and
# accounts every dropped bucket in the overflow side-channel. A cap of 1000
# bounds the worst bucket at ~500k intra-bucket pairs (milliseconds of
# expansion work per bucket) and is far above any bucket a genuinely
# near-duplicate cluster produces at test scale, so small-SF results are
# bit-identical to uncapped — the capped oracles below verify exactly that
# semantics. Production entry points (``dedup_near_dup_keep_list``,
# ``dedup_summary_report``) default to this cap; pass ``bucket_cap=None``
# explicitly for an exhaustive (potentially quadratic) run.
PRODUCTION_BUCKET_CAP = 1000

# Deterministic corpus/new-batch hash split shared by the incremental
# (delta) dedup paths — documents (salt `_INCR_SALT`, see the incremental
# section) and embeddings (`_VEC_INCR_SALT`). 80% corpus / 20% batch.
INCR_SPLIT_PERMILLE = 800


def _capped_pairs_oracle(cap: int) -> str:
    """DuckDB SQL for the capped LSH pair set at an arbitrary ``cap`` —
    the identical bucket-size filter applied before pair expansion."""
    return f"""
    WITH sigs AS ({MINHASH_SIG_SQL}),
    banded AS ({_BANDED_SQL}),
    bsize AS (
        SELECT {_BUCKET_KEY}, COUNT(*) AS n FROM banded GROUP BY {_BUCKET_KEY}
    ),
    keep AS (
        SELECT banded.* FROM banded
        JOIN bsize USING ({_BUCKET_KEY})
        WHERE n <= {cap}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM keep a JOIN keep b
      ON a.band = b.band AND {_BUCKET_EQ} AND a.doc_id < b.doc_id
    """


def _overflow_oracle(cap: int) -> str:
    """DuckDB SQL for the hot-bucket overflow report at ``cap``."""
    return f"""
    WITH sigs AS ({MINHASH_SIG_SQL}),
    banded AS ({_BANDED_SQL})
    SELECT {_BUCKET_KEY},
           CAST(COUNT(*) AS BIGINT) AS bucket_size,
           CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS dropped_pairs
    FROM banded
    GROUP BY {_BUCKET_KEY}
    HAVING COUNT(*) > {cap}
    """


# The min-label connected-components derivation (edges -> nodes -> reach ->
# comp) over a CTE named `pairs`, shared by every oracle that needs
# components — defined ONCE so the component semantics can't drift between
# the plain, capped, summary, and incremental variants.
_CC_CTES = """
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(r) AS component_id FROM reach GROUP BY node
    )
"""


def _capped_components_oracle(cap: int) -> str:
    """Recursive-CTE component derivation over the ``cap``-ped pair set."""
    return f"""
    WITH RECURSIVE pairs AS ({_capped_pairs_oracle(cap)}),
    {_CC_CTES}
    SELECT doc_id, component_id FROM comp
    """


def _capped_summary_oracle(cap: int) -> str:
    """Full one-row dedup summary (pairs + components + overflow) with the
    hot-bucket cap at ``cap`` applied consistently to every input number."""
    return f"""
    WITH RECURSIVE pairs AS ({_capped_pairs_oracle(cap)}),
    {_CC_CTES},
    docs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) - COUNT(DISTINCT md5(lower(trim(text))))
                    AS BIGINT) AS n_exact_dup_docs
        FROM documents
    ),
    p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh_pairs FROM pairs),
    c AS (SELECT CAST(COUNT(DISTINCT component_id) AS BIGINT) AS n_clusters,
                 CAST(COUNT(*) AS BIGINT) AS n_clustered_docs FROM comp),
    o AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_dropped_buckets,
               CAST(COALESCE(SUM(dropped_pairs), 0) AS BIGINT)
                   AS dropped_pairs_upper_bound
        FROM ({_overflow_oracle(cap)})
    )
    SELECT n_docs, n_exact_dup_docs, n_lsh_pairs, n_clusters,
           n_clustered_docs,
           n_docs - n_clustered_docs + n_clusters AS n_keep,
           n_dropped_buckets, dropped_pairs_upper_bound
    FROM docs, p, c, o
    """

_BANDED_SQL = " UNION ALL ".join(
    "SELECT doc_id, " + str(j) + " AS band, "
    + ", ".join(f"mh{j * ROWS_PER_BAND + r} AS h{r}" for r in range(ROWS_PER_BAND))
    + " FROM sigs"
    for j in range(BANDS)
)
_BUCKET_KEY = "band, " + ", ".join(f"h{r}" for r in range(ROWS_PER_BAND))
_BUCKET_EQ = " AND ".join(f"a.h{r} = b.h{r}" for r in range(ROWS_PER_BAND))


@register("dedup_lsh_pairs_capped", oracle=_capped_pairs_oracle(LSH_CAP_DEMO))
def dedup_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_minhash_lsh_pairs` with the hot-bucket cap ENGAGED
    (cap={LSH_CAP_DEMO}) — the corpus-scale production shape, verified
    against an oracle that applies the identical bucket-size filter
    before pair expansion."""
    return dedup_minhash_lsh_pairs(spark, sf_dir, bucket_cap=LSH_CAP_DEMO)


@register("dedup_lsh_overflow_report", oracle=_overflow_oracle(LSH_CAP_DEMO))
def dedup_lsh_overflow_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped run's never-silent side-channel as a registry query:
    every bucket :func:`dedup_lsh_pairs_capped` suppressed, with its size
    and forgone pair count — oracle-checked bucket for bucket (the bucket
    keys are the engine's own portable-hash MinHash values, so a match
    proves the full signature pipeline AND the accounting)."""
    return lsh_bucket_overflow(spark, sf_dir, LSH_CAP_DEMO)


# --------------------------------------------------------------- SimHash
_SIMHASH_BITS = 32

_SIMHASH_BIT_SUMS = ", ".join(
    f"SUM(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(_SIMHASH_BITS)
)
_SIMHASH_COMBINE = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
)

SIMHASH_SQL = f"""
    WITH {_TOKENS_CTE},
    bitsums AS (
        SELECT doc_id, {_SIMHASH_BIT_SUMS}
        FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({_SIMHASH_COMBINE} AS BIGINT) AS simhash
    FROM bitsums
"""


@register("dedup_simhash_documents", oracle=SIMHASH_SQL)
def dedup_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: for each bit, sum +1/-1 over the token
    hashes; bit set where the sum is positive. Near-dups differ in few bits
    (pairing by Hamming distance is then a band join like MinHash-LSH).
    The md5 hash and the 32 ±1 bit contributions are projected before the
    group-by (one md5 per token), leaving plain SUMs — map-side combinable."""
    toks = _tokens_df(spark, sf_dir)
    hashed = toks.select("doc_id", portable_hash32(F.col("tok")).alias("h"))
    bits = hashed.select(
        "doc_id",
        *[
            F.when(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
            )
            .otherwise(-1)
            .alias(f"b{b}")
            for b in range(_SIMHASH_BITS)
        ],
    )
    bitsums = bits.groupBy("doc_id").agg(
        *[F.sum(f"b{b}").alias(f"s{b}") for b in range(_SIMHASH_BITS)]
    )
    combined = functools.reduce(
        lambda x, y: x + y,
        [
            F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(0)
            for b in range(_SIMHASH_BITS)
        ],
    )
    return bitsums.select("doc_id", combined.cast("long").alias("simhash"))


# --------------------------------------------------------- n-gram Jaccard
NGRAM_JACCARD_SQL = f"""
    WITH tokarr AS (
        SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    shingle AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS sh FROM tokarr
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shingle GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingle a JOIN shingle b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jaccard
    FROM inter
    JOIN cnt ca ON doc_a = ca.doc_id
    JOIN cnt cb ON doc_b = cb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.1
"""


@register("dedup_ngram_jaccard_pairs", oracle=NGRAM_JACCARD_SQL)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard similarity via shingle equi-join. NOTE: this is the
    *verifier* semantics — at 100 TB the candidate generation must come from
    MinHash-LSH (above); joining on raw shingles explodes on common n-grams.
    Shingles (not unigrams) keep the join fan-out tolerable here."""
    d = read_docs_spread(spark, sf_dir, key="doc_id")
    shingle = (
        d.select("doc_id", tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(F.expr(_SHINGLES_SPARK)).alias("sh"))
        .distinct()
    )
    cnt = shingle.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = shingle.alias("a"), shingle.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    jac = F.col("n_common").cast("double") / (
        F.col("ca.n") + F.col("cb.n") - F.col("n_common")
    )
    return (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select("doc_a", "doc_b", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.1)
    )


@register(
    "dedup_ngram_jaccard_on_candidates",
    oracle=f"""
    WITH pairs0 AS ({{LSH}}),
    cand AS (SELECT DISTINCT doc_a, doc_b FROM pairs0),
    tokarr AS (
        SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    shingle AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS sh FROM tokarr
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shingle GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN shingle sa ON sa.doc_id = c.doc_a
        JOIN shingle sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN cnt ca ON i.doc_a = ca.doc_id
    JOIN cnt cb ON i.doc_b = cb.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= 0.1
    """.replace("{LSH}", ORACLES["dedup_minhash_lsh_pairs"]),
)
def dedup_ngram_jaccard_on_candidates(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = None
) -> DataFrame:
    """Scale-safe exact-Jaccard verifier: exact word-3-gram Jaccard computed
    ONLY on the MinHash-LSH candidate pairs, with the intersection taken via
    ``array_intersect`` over per-document shingle-set arrays — there is NO
    shingle-shingle join anywhere in the plan. Cost is O(candidates x
    doc-shingles), i.e. linear in the LSH output, versus the raw verifier's
    O(sum-over-shingles fan-out^2) self-join (``dedup_ngram_jaccard_pairs``,
    kept as the small-scale ground-truth). This is the shape to run at
    100 TB: candidates from banded LSH (optionally ``bucket_cap``-ped —
    the cap is forwarded to :func:`dedup_minhash_lsh_pairs`; the default
    ``None`` stays oracle-exact), then two doc_id equi-joins to pull each
    side's shingle array."""
    cand = dedup_minhash_lsh_pairs(spark, sf_dir, bucket_cap=bucket_cap)
    d = read_docs_spread(spark, sf_dir, key="doc_id")
    shsets = (
        d.select("doc_id", tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.array_distinct(F.expr(_SHINGLES_SPARK)).alias("shs"))
        .filter(F.size("shs") > 0)
    )
    sa = shsets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("sa"),
        F.size("shs").alias("na"),
    )
    sb = shsets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("sb"),
        F.size("shs").alias("nb"),
    )
    n_common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", n_common.alias("n_common"), "na", "nb")
        .filter(F.col("n_common") >= 1)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.1)
    )


# ----------------------------------------------- embedding-cosine near-dup
from polars_ad_etl_spark.functions.vectors import (  # noqa: E402
    cosine_prenormed,
    norm as _vnorm,
)
from polars_ad_etl_spark.operators.similarity import (  # noqa: E402
    _bucket_expr,
    _bucket_sql,
)

COSINE_DUP_THRESHOLD = 0.35


@register(
    "dedup_embedding_cosine_pairs",
    oracle=f"""
    WITH bucketed AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               {_bucket_sql('embedding')} AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.e, b.e) /
                 (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                 4) AS cosine
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.e, b.e) /
                (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                4) >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = None
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed: candidates are
    same-sign-bucket pairs only (the all-pairs O(n^2) never happens), then
    exact cosine filters at the threshold. The miss probability for a true
    near-dup pair falls with its cosine (sign-LSH collision probability is
    1 - theta/pi per plane); multi-table LSH would push recall higher.

    A hot bucket of b vectors still emits b*(b-1)/2 candidates from the
    self-join — quadratic in the duplication factor of the corpus (the 30x
    stretch sweep measured a 7,880x pair blow-up on a duplication-heavy
    corpus). ``bucket_cap`` drops all vectors in buckets larger than the
    cap BEFORE the self-join (the sign-bucket universe is small, so the
    size table broadcasts); dropped buckets are never silent —
    :func:`embedding_bucket_overflow` reports each with its forgone
    candidate count. Default ``None`` keeps the oracle-exact behavior."""
    e = load_embeddings(spark, sf_dir)
    b = e.select(
        "vec_id",
        "embedding",
        _bucket_expr("embedding").alias("bucket"),
        # per-vector norm computed once per side, not once per pair
        _vnorm("embedding").alias("en"),
    )
    if bucket_cap is not None:
        keep = (
            b.groupBy("bucket")
            .agg(F.count("*").alias("bucket_size"))
            .filter(F.col("bucket_size") <= int(bucket_cap))
            .select("bucket")
        )
        b = b.join(F.broadcast(keep), "bucket")
    a_side, b_side = b.alias("a"), b.alias("b")
    cos = F.round(
        cosine_prenormed(
            "a.embedding", "b.embedding",
            F.col("a.en"), F.col("b.en")
        ),
        4,
    )
    return (
        a_side.join(
            b_side,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )


def embedding_bucket_overflow(
    spark: SparkSession, sf_dir: str, bucket_cap: int
) -> DataFrame:
    """Side-channel for the capped cosine-pair path: one row per dropped
    sign-LSH bucket with its size and the b*(b-1)/2 candidate pairs it
    would have fed to the exact-cosine filter (an upper bound on lost
    DUPLICATE pairs — candidates below the cosine threshold were never
    duplicates). Tiny by construction: the sign-bucket universe is at most
    2^planes rows before the cap filter."""
    e = load_embeddings(spark, sf_dir)
    return (
        e.select(_bucket_expr("embedding").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > int(bucket_cap))
        .select(
            "bucket",
            "bucket_size",
            F.expr(
                "CAST(bucket_size AS BIGINT) * (bucket_size - 1) DIV 2"
            ).alias("dropped_candidates"),
        )
    )


@register(
    "dedup_cosine_pairs_capped",
    oracle=f"""
    WITH bucketed AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               {_bucket_sql('embedding')} AS bucket
        FROM embeddings
    ),
    bsize AS (SELECT bucket, COUNT(*) AS n FROM bucketed GROUP BY bucket),
    keep AS (
        SELECT bucketed.* FROM bucketed
        JOIN bsize USING (bucket) WHERE n <= {COSINE_CAP_DEMO}
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.e, b.e) /
                 (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                 4) AS cosine
    FROM keep a JOIN keep b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.e, b.e) /
                (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                4) >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_cosine_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_embedding_cosine_pairs` with the sign-bucket cap
    ENGAGED (cap={COSINE_CAP_DEMO}, sized to bite on the driver corpus) —
    the duplication-heavy-corpus production shape, oracle-verified with
    the identical pre-join bucket-size filter."""
    return dedup_embedding_cosine_pairs(
        spark, sf_dir, bucket_cap=COSINE_CAP_DEMO
    )


@register(
    "dedup_cosine_overflow_report",
    oracle=f"""
    WITH bucketed AS (
        SELECT {_bucket_sql('embedding')} AS bucket FROM embeddings
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS bucket_size,
           CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT)
               AS dropped_candidates
    FROM bucketed
    GROUP BY bucket
    HAVING COUNT(*) > {COSINE_CAP_DEMO}
    """,
)
def dedup_cosine_overflow_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Never-silent side-channel for the capped cosine path as a registry
    query: every sign-LSH bucket :func:`dedup_cosine_pairs_capped`
    suppressed, with size and forgone candidate count, oracle-checked."""
    return embedding_bucket_overflow(spark, sf_dir, COSINE_CAP_DEMO)


# ------------------------------------ incremental embedding-level near-dup
# The vector analog of the incremental document dedup below: a NEW BATCH of
# embeddings (deterministic hash split on vec_id) is deduplicated against
# the established corpus. Candidates come from sign-LSH bucket collisions
# only — the batch-vs-corpus join is bucket-equi, bounded per batch vector
# by the corpus bucket size, never all-pairs — and exact cosine confirms at
# the duplicate threshold. Survivors then dedup among themselves the same
# way (bucketed pairs -> connected components -> keep the min vec_id).
_VEC_INCR_SALT = "vincr3"

_COS_SQL_AB = (
    "round(list_dot_product(a.e, b.e) / "
    "(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4)"
)
_COS_SQL_AC = _COS_SQL_AB.replace("b.e", "c.e")


def _vec_is_batch(col: Column) -> Column:
    from polars_ad_etl_spark.functions.hashing import portable_hash32

    h = portable_hash32(F.concat(F.lit(_VEC_INCR_SALT), col.cast("string")))
    return (h % 1000) >= INCR_SPLIT_PERMILLE


def _vec_incr_oracle(cap: int | None = None) -> str:
    """Cap-parameterized oracle for the incremental embedding keep list:
    with ``cap`` set, candidate generation (both layers) reads only from
    the bucket-size-filtered frame while the labeled output still covers
    EVERY batch vector — the identical semantics as the Spark path."""
    cand = "bucketed" if cap is None else "capped"
    capped_ctes = "" if cap is None else f"""
    bsz AS (SELECT bucket, COUNT(*) AS n FROM bucketed GROUP BY bucket),
    capped AS (
        SELECT bucketed.* FROM bucketed JOIN bsz USING (bucket)
        WHERE n <= {cap}
    ),"""
    return f"""
    WITH RECURSIVE bucketed AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               {_bucket_sql('embedding')} AS bucket,
               ({portable_hash32_sql(f"'{_VEC_INCR_SALT}' || CAST(vec_id AS VARCHAR)")}
                % 1000) >= {INCR_SPLIT_PERMILLE} AS is_batch
        FROM embeddings
    ),{capped_ctes}
    nc AS (
        SELECT DISTINCT a.vec_id
        FROM {cand} a JOIN {cand} c
          ON a.bucket = c.bucket AND a.is_batch AND NOT c.is_batch
        WHERE {_COS_SQL_AC} >= {COSINE_DUP_THRESHOLD}
    ),
    surv AS (
        SELECT * FROM {cand}
        WHERE is_batch AND vec_id NOT IN (SELECT vec_id FROM nc)
    ),
    pairs AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM surv a JOIN surv b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_COS_SQL_AB} >= {COSINE_DUP_THRESHOLD}
    ),
    {_CC_CTES}
    SELECT vec_id, reason, reason = 'kept' AS keep FROM (
        SELECT v.vec_id,
               CASE WHEN nc.vec_id IS NOT NULL THEN 'near_corpus'
                    WHEN cp.component_id IS NOT NULL
                         AND cp.component_id < v.vec_id THEN 'near_batch'
                    ELSE 'kept' END AS reason
        FROM bucketed v
        LEFT JOIN nc ON v.vec_id = nc.vec_id
        LEFT JOIN comp cp ON v.vec_id = cp.doc_id
        WHERE v.is_batch
    )
    """


@register("dedup_incremental_embedding_keep", oracle=_vec_incr_oracle())
def dedup_incremental_embedding_keep(
    spark: SparkSession,
    sf_dir: str,
    bucket_cap: int | None = None,
) -> DataFrame:
    """One keep/drop decision + reason per new-batch embedding, deduplicated
    against the corpus (see the section comment). Scale shape: both layers
    join on the sign bucket only — the corpus side ships (bucket, vector)
    for collision candidates, cosine confirms exactly, and the batch-batch
    survivor graph collapses via the same checkpointed min-label CC as the
    document path.

    ``bucket_cap`` drops ALL vectors in sign buckets larger than the cap
    before either join (the same pre-join filter as
    :func:`dedup_embedding_cosine_pairs`), bounding both the per-vector
    corpus fan-out and the survivor self-join on duplication-heavy
    corpora; run :func:`embedding_bucket_overflow` alongside a capped job
    for the never-silent accounting. Unlike the document path there is no
    universal production default: the sign-bucket universe is only
    2^planes wide, so the right cap scales with corpus size per bucket —
    size it from the overflow report (or add planes) rather than a fixed
    constant. Default ``None`` is the oracle-checked registry behavior."""
    e = load_embeddings(spark, sf_dir)
    b_full = e.select(
        "vec_id",
        "embedding",
        _bucket_expr("embedding").alias("bucket"),
        _vec_is_batch(F.col("vec_id")).alias("is_batch"),
        _vnorm("embedding").alias("en"),
    )
    batch_all = b_full.filter("is_batch").select("vec_id")
    b = b_full
    if bucket_cap is not None:
        # cap bounds CANDIDATE GENERATION only — every batch vector stays
        # in the output (vectors in suppressed buckets surface as kept,
        # with the overflow report accounting for the skipped candidates),
        # mirroring the document path's suppressed-bucket semantics
        keep_buckets = (
            b.groupBy("bucket")
            .agg(F.count("*").alias("bucket_size"))
            .filter(F.col("bucket_size") <= int(bucket_cap))
            .select("bucket")
        )
        b = b.join(F.broadcast(keep_buckets), "bucket")
    corpus = b.filter(~F.col("is_batch")).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("en").alias("cen"),
        "bucket",
    )
    batch = b.filter("is_batch").select("vec_id", "embedding", "bucket", "en")
    near_corpus = (
        batch.join(corpus, "bucket")
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
    )
    surv = batch.join(near_corpus, "vec_id", "left_anti")
    a_side, b_side = surv.alias("a"), surv.alias("b")
    pairs = (
        a_side.join(
            b_side,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            F.round(
                cosine_prenormed(
                    "a.embedding", "b.embedding",
                    F.col("a.en"), F.col("b.en")
                ),
                4,
            )
            >= COSINE_DUP_THRESHOLD
        )
        .select(
            F.col("a.vec_id").alias("doc_a"), F.col("b.vec_id").alias("doc_b")
        )
        .localCheckpoint(eager=True)
    )
    comp = connected_components_propagate(
        pairs.selectExpr("doc_a AS a", "doc_b AS b")
    ).select(F.col("node").alias("vec_id"), "component_id")
    reason = (
        F.when(F.col("near_c").isNotNull(), F.lit("near_corpus"))
        .when(
            F.col("component_id").isNotNull()
            & (F.col("component_id") < F.col("vec_id")),
            F.lit("near_batch"),
        )
        .otherwise(F.lit("kept"))
    )
    return (
        batch_all.join(
            near_corpus.select("vec_id", F.lit(1).alias("near_c")),
            "vec_id",
            "left_outer",
        )
        .join(comp, "vec_id", "left_outer")
        .select(
            "vec_id", reason.alias("reason"), (reason == "kept").alias("keep")
        )
    )


# cap sized to BITE on the driver's sf0.01 corpus (largest natural sign
# bucket there holds 8 vectors), so the capped answer genuinely differs
# from uncapped and the oracle proves the cap semantics, not a no-op
VEC_INCR_CAP_DEMO = 4


@register(
    "dedup_incremental_embedding_keep_capped",
    oracle=_vec_incr_oracle(VEC_INCR_CAP_DEMO),
)
def dedup_incremental_embedding_keep_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`dedup_incremental_embedding_keep` with the sign-bucket cap
    ENGAGED (cap={VEC_INCR_CAP_DEMO}) — the duplication-heavy-corpus
    production shape, oracle-verified with the identical pre-join filter
    on candidate generation while the labeled output still covers every
    batch vector."""
    return dedup_incremental_embedding_keep(
        spark, sf_dir, bucket_cap=VEC_INCR_CAP_DEMO
    )


# ------------------------------------------------------ curation pipeline
@register(
    "curation_training_set",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, text,
               len({tokens_sql('text')}) AS n_tokens,
               md5(lower(trim(text))) AS text_hash
        FROM documents
    ),
    deduped AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
        FROM scored
    )
    SELECT doc_id, lang, n_tokens
    FROM deduped
    WHERE rn = 1 AND n_tokens >= 5 AND lang IN ('en', 'de', 'fr', 'es')
    """,
)
def curation_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: language allowlist -> minimum-length filter ->
    exact dedup keeping the smallest doc_id — the standard shape of a
    training-set selection job, composed entirely from engine operators.
    One scan, one shuffle (the dedup window on the 16-byte hash)."""
    return _training_set_impl(
        read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    )


def _training_set_impl(d: DataFrame) -> DataFrame:
    """The curation pipeline body over any documents frame — shared by the
    full-corpus query above and the source-pruned partitioned twin below
    so the gate logic can't fork."""
    from pyspark.sql import Window as W

    scored = d.select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.md5(F.lower(F.trim("text"))).alias("text_hash"),
    )
    w = W.partitionBy("text_hash").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & (F.col("n_tokens") >= 5)
            & F.col("lang").isin("en", "de", "fr", "es")
        )
        .select("doc_id", "lang", "n_tokens")
    )


# Source allowlist for the pruned curation twin: a 5-of-20 source gate,
# the typical shape of a per-source curation policy.
CURATION_SOURCE_ALLOWLIST = ("src0", "src1", "src2", "src3", "src4")
_CURATION_SRC_IN = ", ".join(f"'{s}'" for s in CURATION_SOURCE_ALLOWLIST)


@register(
    "curation_training_set_partitioned",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, text,
               len({tokens_sql('text')}) AS n_tokens,
               md5(lower(trim(text))) AS text_hash
        FROM documents
        WHERE source IN ({_CURATION_SRC_IN})
    ),
    deduped AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
        FROM scored
    )
    SELECT doc_id, lang, n_tokens
    FROM deduped
    WHERE rn = 1 AND n_tokens >= 5 AND lang IN ('en', 'de', 'fr', 'es')
    """,
)
def curation_training_set_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`curation_training_set` behind a source allowlist, reading
    through :func:`sources.star.load_documents` — on the production
    source-partitioned layout (sinks/parquet.py::
    write_documents_source_partitioned) the allowlist prunes the other
    sources' DIRECTORIES at planning time (PartitionFilters pin +
    poison-partition proof in tests/test_scale_layout.py); on the flat
    driver layout the same predicate is an ordinary pushed filter, so
    results and schema are layout-independent. Dedup runs WITHIN the
    source-filtered universe (filter before the hash window), which is
    the curation semantics: the gate defines the corpus, then dedup."""
    from polars_ad_etl_spark.sources.star import load_documents

    return _training_set_impl(
        load_documents(spark, sf_dir, sources=CURATION_SOURCE_ALLOWLIST)
    )


# ------------------------------------------- near-dup connected components
def _lsh_pairs_oracle() -> str:
    from polars_ad_etl_spark.operators.registry import ORACLES

    return ORACLES["dedup_minhash_lsh_pairs"]


def _components_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_lsh_pairs_oracle()}),
    {_CC_CTES}
    SELECT doc_id, component_id FROM comp
    """


def connected_components_propagate(edges: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected edge list (columns ``a``,
    ``b``; either direction, self-loops ignored) → (node, component_id).
    One shuffle per iteration; iteration count = graph DIAMETER. The right
    tool when components are near-cliques (the LSH candidate graph). For
    high-diameter graphs use :func:`connected_components_star` (O(log d)
    rounds).

    Round 13 (guide §1/§7.3 — at bench scale the loop's wall is DRIVER
    BARRIERS, not data): the seed aggregation composes LAZILY with the
    first double-step into the first materialization instead of
    checkpointing on its own (one synchronous job saved, ~80 ms here). A
    second cut was tried and REVERTED: deriving ``sym`` lazily from the
    caller's checkpointed edges saved its barrier but tripled every
    iteration's plan (the union subtree re-planned per step), measured
    +0.34 s of driver analysis per call — the checkpoint stays. The loop
    is :func:`_iterate`: one checkpoint and one ``isEmpty`` test per
    double-step."""
    sym = _symmetric(edges.filter(F.col("a") != F.col("b"))).localCheckpoint(
        eager=True
    )
    # Scale-adaptive single-partition fast path (the inverse of
    # spread_scan): when the MATERIALIZED edge list came back in <= 2
    # partitions, AQE has already sized it as tiny, and the loop's wall is
    # pure per-iteration machinery — exchanges, AQE sub-jobs, task launch.
    # A coalesce(1) makes the physical partitioning SinglePartition, which
    # satisfies every required distribution, so each iteration plans ZERO
    # exchanges and skips adaptive execution entirely (measured 0.56 ->
    # 0.44 s on the sf0.1 keep-list graph). Bigger graphs keep the
    # distributed loop untouched — the signal is AQE's own output sizing,
    # not a row-count constant. The probe runs ONCE per call on a
    # materialized leaf (the .rdd conversion there is a single cheap py4j
    # exchange, measured 0.5 ms — unlike the removed star.py probe, which
    # converted a full scan plan per construction).
    if sym.rdd.getNumPartitions() <= 2:
        sym = sym.coalesce(1)

    def half(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            sym.join(lbl, sym.b == lbl.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component_id").alias("nbr_min"))
        )
        nbr = F.coalesce("nbr_min", "component_id")
        return lbl.join(neighbor_min, "node", "left_outer").select(
            "node",
            F.least("component_id", nbr).alias("component_id"),
            (nbr < F.col("component_id")).alias("changed"),
        )

    # Round-12 job-count cut (the loop's wall at bench scale was pure
    # per-job latency, not data): TWO propagation steps compose lazily
    # into ONE materialization. The min-label fixpoint is unique, so
    # stride is semantics-free, and testing only the SECOND step's
    # changed flag is exact: step 2 changing nothing means its input
    # was already a fixpoint (the first step's flag is pruned unused).
    def step(lbl: DataFrame) -> DataFrame:
        return half(half(lbl.drop("changed")).drop("changed"))

    # Seed: label(v) = least(v, min(neighbor)) via ONE aggregation — this
    # IS the first propagate iteration with identity labels, minus its
    # join (neighbor labels equal the neighbors themselves). Composed
    # lazily into the first double-step's materialization (no own barrier).
    seed = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("nbr_min"))
        .select("node", F.least("node", "nbr_min").alias("component_id"))
    )
    # fixpoint test: only emptiness matters, so isEmpty (take-1 over the
    # checkpointed frame, short-circuits at the first changed row) instead
    # of a full count job per iteration
    return _iterate(
        seed, step, done=lambda _, new: new.filter("changed").isEmpty()
    ).drop("changed")


def _canonical_edges(e: DataFrame) -> DataFrame:
    """An (a, b) edge list as a set of undirected edges: self-loops
    dropped, each edge once with ``a < b``."""
    return (
        e.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )


def _symmetric(e: DataFrame) -> DataFrame:
    """Both directions of an (a, b) edge list."""
    return e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))


def _iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int | None = None,
    done: Callable[[DataFrame, DataFrame], bool] | None = None,
    limit: int | None = None,
) -> DataFrame:
    """The graph operators' one checkpointed loop: each round materializes
    ``step(state)`` with an eager ``localCheckpoint`` (the loop's lineage
    stays a leaf, see :func:`dedup_connected_components`). Stops after
    ``rounds`` rounds, or once ``done(prev, new)`` holds; raises if
    ``limit`` rounds pass without it. The barriers run in the caller's
    job group, so a tracer attributes them to the caller's span."""
    for n in itertools.count() if rounds is None else range(rounds):
        if n == limit:
            raise RuntimeError(f"no fixpoint in {limit} rounds")
        prev, state = state, step(state).localCheckpoint(eager=True)
        if done is not None and done(prev, state):
            break
    return state


def connected_components_star(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    """Large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) over an undirected edge
    list → (node, component_id = component minimum).

    This is the 100 TB high-diameter path promised by round 1's docstring:
    where min-label propagation needs DIAMETER iterations, the alternating
    star contraction converges in O(log d) rounds, each round two
    groupBy-join shuffles over an edge set that only shrinks:

    - **large-star**: per node u with m = min(N(u) ∪ {u}), rewire every
      LARGER neighbor v > u to (v, m);
    - **small-star**: per node u, rewire every SMALLER neighbor (and u
      itself) to (v, m).

    At the fixpoint the edge set is a star forest rooted at each
    component's minimum, read off directly as labels. Convergence is
    checked exactly (symmetric set difference — two subtracts over the
    contracted, ever-shrinking edge set); at extreme scale swap that for a
    (count, hash-sum) signature comparison. The rounds run on
    :func:`_iterate`, like the propagate loop's; ``max_iter`` rounds
    without a fixpoint raise."""
    nodes = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def step(e: DataFrame) -> DataFrame:
        sym = _symmetric(e)
        mins = sym.groupBy("a").agg(F.min("b").alias("mb"))
        m = F.least(F.col("a"), F.col("mb"))
        large = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), m.alias("b"))
        )
        sym2 = _symmetric(_canonical_edges(large))
        mins2 = sym2.groupBy("a").agg(F.min("b").alias("mb"))
        m2 = F.least(F.col("a"), F.col("mb"))
        small = (
            sym2.join(mins2, "a")
            .filter(F.col("b") < F.col("a"))
            .select(F.col("b").alias("a"), m2.alias("b"))
            .unionByName(
                mins2.select(
                    F.col("a"), F.least("a", "mb").alias("b")
                )
            )
        )
        return _canonical_edges(small)

    # fixpoint test: both frames are canonical DISTINCT edge sets, so
    # equal cardinality plus one empty set-difference proves equality —
    # two cheap count jobs over checkpointed leaves replace the second
    # shuffling exceptAll, and the difference job only runs at all in
    # the (usually final) rounds where the counts already agree
    e = _iterate(
        _canonical_edges(edges).localCheckpoint(eager=True),
        step,
        done=lambda prev, new: (
            new.count() == prev.count() and new.exceptAll(prev).isEmpty()
        ),
        limit=max_iter,
    )
    # fixpoint edge set is a star forest (a = component min, b = member)
    stars = e.select(F.col("b").alias("node"), F.col("a").alias("cid"))
    return (
        nodes.join(stars, "node", "left_outer")
        .groupBy("node")
        .agg(F.min("cid").alias("cid"))
        .select(
            "node", F.coalesce("cid", F.col("node")).alias("component_id")
        )
    )


def dedup_connected_components(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Connected components over the LSH candidate graph: every document in
    a near-dup cluster gets the cluster's minimum doc_id as component_id.

    This is the engine's iterative-algorithm surface: min-label propagation
    run as a driver loop of DataFrame joins until fixpoint. Each iteration
    is one shuffle (edges join labels, min-aggregate); the loop count is
    the graph diameter, which for near-dup clusters is tiny (clusters are
    near-cliques — LSH fires on most intra-cluster pairs). For 100 TB-scale
    graph diameters, :func:`connected_components_star` implements the
    large-star/small-star contraction (O(log d) rounds) over the same edge
    contract — registered as ``dedup_cc_star`` against the same oracle, and
    proven equivalent on high-diameter synthetic graphs in
    tests/test_properties.py. The DuckDB oracle re-derives components with
    a recursive CTE, so the fixpoint itself is verified, not just the
    plumbing.

    Lineage is truncated with `localCheckpoint`, not `persist`: the MinHash
    pipeline behind the pair list is a ~40-node plan, and an iterative loop
    built on a persisted frame still carries that full logical plan into
    every iteration — each `count()` re-analyzes it on the driver (measured
    3-4s/iteration at sf0.1, pure planning). Checkpointing materializes the
    256-row candidate graph once and gives the loop a leaf plan, so each
    iteration is a tiny join over a tiny lineage (~0.2s). Persisted-cache
    materialization additionally runs without AQE, losing the runtime
    broadcast conversion inside the LSH self-join. On a cluster, swap
    `localCheckpoint` for a reliable `checkpoint` directory — same loop.

    ``pairs``: optional precomputed (already-checkpointed) candidate pair
    frame — the summary report passes its own so the LSH subplan executes
    once across all its consumers."""
    if pairs is None:
        pairs = dedup_minhash_lsh_pairs(
            spark, sf_dir, bucket_cap=bucket_cap
        ).localCheckpoint(eager=True)
    return connected_components_propagate(
        pairs.selectExpr("doc_a AS a", "doc_b AS b")
    ).select(F.col("node").alias("doc_id"), "component_id")


register("dedup_connected_components", oracle=_components_oracle())(
    dedup_connected_components
)


@register("dedup_cc_star", oracle=_components_oracle())
def dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH candidate graph via the
    large-star/small-star contraction — the high-diameter 100 TB path,
    driver-checked against the SAME recursive-CTE oracle as the propagate
    version (both must produce identical min-labeled components)."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).localCheckpoint(eager=True)
    return connected_components_star(
        pairs.selectExpr("doc_a AS a", "doc_b AS b")
    ).select(F.col("node").alias("doc_id"), "component_id")


@register(
    "dedup_near_dup_keep_list",
    oracle=f"""
    WITH comp AS ({_capped_components_oracle(PRODUCTION_BUCKET_CAP)})
    SELECT d.doc_id,
           COALESCE(c.component_id, d.doc_id) AS component_id,
           (c.doc_id IS NULL OR c.component_id = d.doc_id) AS keep
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def dedup_near_dup_keep_list(
    spark: SparkSession,
    sf_dir: str,
    bucket_cap: int | None = PRODUCTION_BUCKET_CAP,
) -> DataFrame:
    """The deliverable of near-dedup: one keep/drop decision per document —
    keep the minimum doc_id of every near-dup cluster plus all unclustered
    documents. Composes the full pipeline (shingle MinHash -> banded LSH ->
    connected components -> selection) into the shape a training-data
    curation job consumes.

    Defaults to the production hot-bucket cap
    (``bucket_cap=PRODUCTION_BUCKET_CAP``, see the constant's rationale):
    degenerate LSH buckets are suppressed before pair expansion so the run
    stays near-linear on duplication-heavy corpora, and every suppressed
    bucket is reportable via :func:`dedup_lsh_overflow_report` /
    ``lsh_bucket_overflow(spark, sf_dir, bucket_cap)`` — run that
    side-channel alongside any capped production job. The registry oracle
    applies the SAME cap in SQL, so the default shape itself is
    differential-checked. Pass ``bucket_cap=None`` for an exhaustive run."""
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    comp = dedup_connected_components(spark, sf_dir, bucket_cap=bucket_cap)
    return d.join(comp, "doc_id", "left_outer").select(
        "doc_id",
        F.coalesce("component_id", "doc_id").alias("component_id"),
        (
            F.col("component_id").isNull()
            | (F.col("component_id") == F.col("doc_id"))
        ).alias("keep"),
    )


# --------------------------------------------------- incremental (delta) dedup
# The shape a 100 TB pipeline actually runs day to day: a NEW BATCH of
# documents arrives and must be deduplicated against the already-curated
# CORPUS without re-processing the corpus. Nothing about the corpus moves
# except two tiny indexes — its distinct content hashes (16 bytes/doc) and
# its distinct LSH bucket keys (5 ints/doc-band) — which in production are
# maintained as tables and here are derived on the fly from a deterministic
# hash split of `documents` (salt-pinned, like curation_hash_split).
#
# Four drop layers, checked in precedence order, every decision labeled:
#   exact_corpus  content hash already in the corpus
#   exact_batch   a smaller-doc_id batch doc has the same content hash
#   near_corpus   any LSH bucket key collides with a corpus bucket key
#                 (a SEMI join on the 16-byte key — no pair expansion, no
#                 fan-out, whatever the corpus bucket sizes are)
#   near_batch    connected component among the surviving batch docs
#                 (bucket-grouped pair expansion under the production
#                 bucket_cap, min-label CC, keep the minimum doc_id)
# Batch-batch survivors whose only near-twin was dropped by an earlier
# layer are KEPT — the sequential-greedy semantics of a rolling ingest.
# (The 80/20 split constant INCR_SPLIT_PERMILLE lives next to the cap
# constants, shared with the embedding incremental path.)
_INCR_SALT = "incr9"


def _incr_is_batch(col: Column) -> Column:
    from polars_ad_etl_spark.functions.hashing import portable_hash32

    h = portable_hash32(F.concat(F.lit(_INCR_SALT), col.cast("string")))
    return (h % 1000) >= INCR_SPLIT_PERMILLE


def _incr_is_batch_sql() -> str:
    h = portable_hash32_sql(f"'{_INCR_SALT}' || CAST(doc_id AS VARCHAR)")
    return f"({h} % 1000) >= {INCR_SPLIT_PERMILLE}"


def _incremental_oracle_ctes(cap: int) -> str:
    """Shared CTE prefix for the incremental-dedup oracles: split, exact
    keys, corpus indexes, the three pre-layers, survivor-restricted capped
    pair expansion, and the recursive-CTE components."""
    return f"""
    sigs AS ({MINHASH_SIG_SQL}),
    banded AS ({_BANDED_SQL}),
    keys AS (
        SELECT doc_id, md5(lower(trim(text))) AS ck,
               {_incr_is_batch_sql()} AS is_batch
        FROM documents
    ),
    corpus_ck AS (SELECT DISTINCT ck FROM keys WHERE NOT is_batch),
    batch_min AS (
        SELECT ck, MIN(doc_id) AS mn FROM keys WHERE is_batch GROUP BY ck
    ),
    corpus_bk AS (
        SELECT DISTINCT {_BUCKET_KEY}
        FROM banded JOIN keys USING (doc_id) WHERE NOT keys.is_batch
    ),
    near_corpus AS (
        SELECT DISTINCT b.doc_id
        FROM banded b
        JOIN keys k USING (doc_id)
        JOIN corpus_bk USING ({_BUCKET_KEY})
        WHERE k.is_batch
    ),
    pre_dropped AS (
        SELECT k.doc_id FROM keys k JOIN corpus_ck USING (ck)
        WHERE k.is_batch
        UNION
        SELECT k.doc_id FROM keys k JOIN batch_min USING (ck)
        WHERE k.is_batch AND k.doc_id > mn
        UNION
        SELECT doc_id FROM near_corpus
    ),
    surv AS (
        SELECT doc_id FROM keys
        WHERE is_batch
          AND doc_id NOT IN (SELECT doc_id FROM pre_dropped)
    ),
    survb AS (SELECT banded.* FROM banded JOIN surv USING (doc_id)),
    bsize AS (
        SELECT {_BUCKET_KEY}, COUNT(*) AS n FROM survb GROUP BY {_BUCKET_KEY}
    ),
    keepb AS (
        SELECT survb.* FROM survb JOIN bsize USING ({_BUCKET_KEY})
        WHERE n <= {cap}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM keepb a JOIN keepb b
          ON a.band = b.band AND {_BUCKET_EQ} AND a.doc_id < b.doc_id
    ),
    {_CC_CTES},
    labeled AS (
        SELECT k.doc_id,
               CASE WHEN cc.ck IS NOT NULL THEN 'exact_corpus'
                    WHEN k.doc_id > bm.mn THEN 'exact_batch'
                    WHEN nc.doc_id IS NOT NULL THEN 'near_corpus'
                    WHEN cp.component_id IS NOT NULL
                         AND cp.component_id < k.doc_id THEN 'near_batch'
                    ELSE 'kept' END AS reason
        FROM keys k
        LEFT JOIN corpus_ck cc ON k.ck = cc.ck
        LEFT JOIN batch_min bm ON k.ck = bm.ck
        LEFT JOIN near_corpus nc ON k.doc_id = nc.doc_id
        LEFT JOIN comp cp ON k.doc_id = cp.doc_id
        WHERE k.is_batch
    )
    """


def _incremental_keep_oracle(cap: int) -> str:
    return f"""
    WITH RECURSIVE {_incremental_oracle_ctes(cap)}
    SELECT doc_id, reason, reason = 'kept' AS keep FROM labeled
    """


def _incremental_report_oracle(cap: int) -> str:
    return f"""
    WITH RECURSIVE {_incremental_oracle_ctes(cap)}
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM keys WHERE NOT is_batch)
            AS n_corpus,
        CAST(COUNT(*) AS BIGINT) AS n_batch,
        CAST(COUNT(*) FILTER (WHERE reason = 'exact_corpus') AS BIGINT)
            AS n_exact_corpus,
        CAST(COUNT(*) FILTER (WHERE reason = 'exact_batch') AS BIGINT)
            AS n_exact_batch,
        CAST(COUNT(*) FILTER (WHERE reason = 'near_corpus') AS BIGINT)
            AS n_near_corpus,
        CAST(COUNT(*) FILTER (WHERE reason = 'near_batch') AS BIGINT)
            AS n_near_batch,
        CAST(COUNT(*) FILTER (WHERE reason = 'kept') AS BIGINT) AS n_kept
    FROM labeled
    """


@register(
    "dedup_incremental_keep_list",
    oracle=_incremental_keep_oracle(PRODUCTION_BUCKET_CAP),
)
def dedup_incremental_keep_list(
    spark: SparkSession,
    sf_dir: str,
    bucket_cap: int | None = PRODUCTION_BUCKET_CAP,
) -> DataFrame:
    """One keep/drop decision + reason per NEW-BATCH document, deduplicated
    against the existing corpus without touching corpus content (see the
    section comment for the four labeled layers and their precedence).

    Scale shape: the corpus side contributes only DISTINCT content hashes
    and DISTINCT bucket keys (both map-side-combinable aggregates over
    16-byte keys); the batch joins them with semi-join semantics, so the
    corpus is never re-scanned per batch doc and nothing fans out on hot
    corpus buckets. Pair expansion happens only among surviving batch docs
    under the production ``bucket_cap``. The registry oracle applies the
    identical cap and layer precedence in SQL (recursive CTE for the
    batch-batch components)."""
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    keys = d.select(
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("ck"),
        _incr_is_batch(F.col("doc_id")).alias("is_batch"),
    )
    batch_keys = keys.filter("is_batch")
    corpus_ck = keys.filter(~F.col("is_batch")).select("ck").distinct()
    batch_min = batch_keys.groupBy("ck").agg(F.min("doc_id").alias("mn"))

    # The banded-key index feeds three branches (corpus index, batch probe,
    # survivor buckets). Left declarative on purpose: AQE's exchange reuse
    # already shares the signature shuffle across the branches (measured
    # FASTER than an eager localCheckpoint of the index, 3.3s vs 4.0s at
    # sf0.1). In production the corpus half of this index is a persisted
    # table maintained across batches, not recomputed per run.
    banded = _banded_keys(minhash_signatures(spark, sf_dir)).withColumn(
        "is_batch", _incr_is_batch(F.col("doc_id"))
    )
    bucket_cols = ["band", *[f"h{r}" for r in range(ROWS_PER_BAND)]]
    corpus_bk = (
        banded.filter(~F.col("is_batch")).select(*bucket_cols).distinct()
    )
    near_corpus = (
        banded.filter("is_batch")
        .join(corpus_bk, bucket_cols, "left_semi")
        .select("doc_id")
        .distinct()
    )

    exact_corpus_ids = batch_keys.join(corpus_ck, "ck", "left_semi").select(
        "doc_id"
    )
    exact_batch_ids = (
        batch_keys.join(batch_min, "ck")
        .filter(F.col("doc_id") > F.col("mn"))
        .select("doc_id")
    )
    pre_dropped = (
        exact_corpus_ids.unionByName(exact_batch_ids)
        .unionByName(near_corpus)
        .distinct()
    )

    surv_banded = banded.filter("is_batch").join(
        pre_dropped, "doc_id", "left_anti"
    )
    buckets = _group_buckets(surv_banded.select("doc_id", *bucket_cols))
    if bucket_cap is not None:
        buckets = buckets.filter(F.size("ids") <= int(bucket_cap))
    pairs = _expand_bucket_pairs(buckets).localCheckpoint(eager=True)
    comp = connected_components_propagate(
        pairs.selectExpr("doc_a AS a", "doc_b AS b")
    ).select(F.col("node").alias("doc_id"), "component_id")

    reason = (
        F.when(F.col("in_corpus_ck").isNotNull(), F.lit("exact_corpus"))
        .when(F.col("doc_id") > F.col("mn"), F.lit("exact_batch"))
        .when(F.col("near_c").isNotNull(), F.lit("near_corpus"))
        .when(
            F.col("component_id").isNotNull()
            & (F.col("component_id") < F.col("doc_id")),
            F.lit("near_batch"),
        )
        .otherwise(F.lit("kept"))
    )
    return (
        batch_keys.join(
            corpus_ck.select(F.col("ck"), F.lit(1).alias("in_corpus_ck")),
            "ck",
            "left_outer",
        )
        # left_outer, NOT inner: a NULL-text doc has ck = NULL, which never
        # equi-joins — an inner join would silently DROP the doc from the
        # keep list. With the left join its mn is NULL, `doc_id > NULL` is
        # NULL, and the when-chain falls through to later layers / kept —
        # matching the oracle's LEFT JOIN semantics (NULL-content docs are
        # never content-equal to anything, including each other).
        .join(batch_min, "ck", "left_outer")
        .join(
            near_corpus.select("doc_id", F.lit(1).alias("near_c")),
            "doc_id",
            "left_outer",
        )
        .join(comp, "doc_id", "left_outer")
        .select(
            "doc_id",
            reason.alias("reason"),
            (reason == "kept").alias("keep"),
        )
    )


@register(
    "dedup_incremental_ingest_admitted",
    oracle=f"""
    WITH RECURSIVE {_incremental_oracle_ctes(0)}
    SELECT doc_id FROM labeled WHERE reason = 'kept'
    """,
)
def dedup_incremental_ingest_admitted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch twin of ``streaming.documents.incremental_ingest_stream``: the
    documents the three STREAMABLE layers admit (``bucket_cap=0`` disables
    the batch-only near-batch CC layer, leaving exact-vs-corpus,
    exact-within-batch, near-vs-corpus). Registered so the streaming
    pipeline's admission semantics carry a DuckDB oracle the same way the
    events_* batch twins gate the event streams;
    tests/test_streaming.py asserts the stream's output equals this set."""
    kl = dedup_incremental_keep_list(spark, sf_dir, bucket_cap=0)
    return kl.filter("keep").select("doc_id")


@register(
    "dedup_incremental_report",
    oracle=_incremental_report_oracle(PRODUCTION_BUCKET_CAP),
)
def dedup_incremental_report(
    spark: SparkSession,
    sf_dir: str,
    bucket_cap: int | None = PRODUCTION_BUCKET_CAP,
) -> DataFrame:
    """One-row ingest report for :func:`dedup_incremental_keep_list`:
    corpus/batch sizes and the drop count of each labeled layer — the
    numbers an ingest job publishes per batch. Single-row output via
    broadcast scalar aggregates; the oracle recomputes every layer."""
    kl = dedup_incremental_keep_list(spark, sf_dir, bucket_cap=bucket_cap)
    counts = kl.agg(
        F.count("*").alias("n_batch"),
        F.count(F.when(F.col("reason") == "exact_corpus", 1)).alias(
            "n_exact_corpus"
        ),
        F.count(F.when(F.col("reason") == "exact_batch", 1)).alias(
            "n_exact_batch"
        ),
        F.count(F.when(F.col("reason") == "near_corpus", 1)).alias(
            "n_near_corpus"
        ),
        F.count(F.when(F.col("reason") == "near_batch", 1)).alias(
            "n_near_batch"
        ),
        F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
    )
    n_corpus = (
        read_star_parquet(spark, f"{sf_dir}/documents.parquet")
        .filter(~_incr_is_batch(F.col("doc_id")))
        .agg(F.count("*").alias("n_corpus"))
    )
    return n_corpus.crossJoin(F.broadcast(counts)).select(
        "n_corpus",
        "n_batch",
        "n_exact_corpus",
        "n_exact_batch",
        "n_near_corpus",
        "n_near_batch",
        "n_kept",
    )


# ------------------------------------------------- passage-level duplication
# Cross-document repeated passages, the signal behind substring-granular
# dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better", which uses suffix arrays for exact 50-token substrings). A suffix
# array is a single-machine structure; the distributed re-expression is the
# standard one: slide a fixed-width token window over each document, hash the
# window, and count distinct documents per window hash. Passages seen in >= 2
# documents are "shared"; a document whose text is mostly shared passages is
# a near-copy at passage granularity even when whole-document MinHash misses
# it (e.g. long docs that embed a common boilerplate block).
#
# Scale (100 TB): the window expansion is a projection (one 8-byte hash per
# window, never the window text); the per-hash doc count is one map-side-
# combinable shuffle on the hash; the join back to occurrences re-uses the
# same hash partitioning (no extra exchange under AQE); the final per-doc
# rollup is a second combinable shuffle. Nothing is quadratic and no string
# longer than one window ever moves.
_PASSAGE_N = 8  # window width in tokens (docs here are 10..99 tokens)
_SHARED_RATIO_FLAG = 0.5

_PASSAGES_SPARK = f"""
    CASE WHEN size(toks) >= {_PASSAGE_N} THEN
        transform(sequence(0, size(toks) - {_PASSAGE_N}),
                  i -> concat_ws(' ', slice(toks, i + 1, {_PASSAGE_N})))
    ELSE array() END
"""

# One {_PASSAGE_N}-token window's text at (1-based) token offset i —
# indexed elements, not a list slice: a slice inside a DuckDB
# comprehension costs O(offset) per element -> quadratic in doc length
# (see _SHINGLES_DUCK). dedup_duplicate_spans uses it with an explicit
# position column; _PASSAGES_DUCK wraps it in the positionless
# comprehension the passage profile consumes.
_PASSAGES_POS_DUCK = (
    "concat_ws(' ', "
    + ", ".join(f"toks[i+{k}]" if k else "toks[i]" for k in range(_PASSAGE_N))
    + ")"
)
_PASSAGES_DUCK = (
    f"[{_PASSAGES_POS_DUCK}"
    f" for i in generate_series(1, len(toks) - {_PASSAGE_N - 1})]"
)


@register(
    "dedup_duplicate_passages",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    g AS (
        SELECT doc_id, {portable_hash60_sql('p')} AS h
        FROM (SELECT doc_id, unnest({_PASSAGES_DUCK}) AS p FROM t)
    ),
    stats AS (
        SELECT h, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY h
    ),
    per_doc AS (
        SELECT g.doc_id,
               COUNT(*) AS n_passages,
               COUNT(*) FILTER (WHERE s.nd >= 2) AS n_shared
        FROM g JOIN stats s USING (h)
        GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_passages, 0) AS n_passages,
           COALESCE(p.n_shared, 0) AS n_shared,
           CASE WHEN COALESCE(p.n_passages, 0) = 0 THEN 0.0
                ELSE CAST(p.n_shared AS DOUBLE) / p.n_passages
           END AS shared_ratio,
           (CASE WHEN COALESCE(p.n_passages, 0) = 0 THEN 0.0
                 ELSE CAST(p.n_shared AS DOUBLE) / p.n_passages
            END >= {_SHARED_RATIO_FLAG}) AS flagged
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def dedup_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document passage-duplication profile: how many of a document's
    {_PASSAGE_N}-token windows also appear in at least one other document.
    The distributed stand-in for suffix-array substring dedup — see the
    section comment for the plan shape (two combinable shuffles on 8-byte
    keys, no O(n^2) step, window text never shuffled)."""
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    t = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    g = t.select(
        "doc_id", F.explode(F.expr(_PASSAGES_SPARK)).alias("p")
    ).select("doc_id", portable_hash60(F.col("p")).alias("h"))
    stats = g.groupBy("h").agg(F.count_distinct("doc_id").alias("nd"))
    per_doc = (
        g.join(stats, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.count(F.when(F.col("nd") >= 2, True)).alias("n_shared"),
        )
    )
    n_p = F.coalesce("n_passages", F.lit(0))
    ratio = F.when(n_p == 0, F.lit(0.0)).otherwise(
        F.col("n_shared").cast("double") / F.col("n_passages")
    )
    return d.select("doc_id").join(per_doc, "doc_id", "left_outer").select(
        "doc_id",
        n_p.alias("n_passages"),
        F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
        ratio.alias("shared_ratio"),
        (ratio >= _SHARED_RATIO_FLAG).alias("flagged"),
    )


@register(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    g AS (
        -- list-form generate_series takes the per-row column bound (the
        -- TABLE function rejects lateral columns); empty when the doc is
        -- shorter than one window
        SELECT doc_id, i - 1 AS pos, {portable_hash60_sql(_PASSAGES_POS_DUCK)} AS h
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - {_PASSAGE_N - 1}))
                         AS i
              FROM t)
    ),
    shared AS (
        SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    occ AS (SELECT doc_id, pos FROM g JOIN shared USING (h)),
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM occ
    )
    SELECT doc_id,
           MIN(pos) AS span_start,
           MAX(pos) + {_PASSAGE_N - 1} AS span_end,
           MAX(pos) - MIN(pos) + {_PASSAGE_N} AS span_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, grp
    """,
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated spans — the actionable output of
    substring-granular dedup (what [[dedup_duplicate_passages]] profiles,
    this emits as cut lists): per document, every maximal run of
    consecutive {_PASSAGE_N}-token windows whose window text also appears
    in at least one OTHER document, merged into one (span_start, span_end)
    token interval. Lee et al. 2022 do this with a corpus suffix array —
    single-machine; the distributed re-expression keeps the window-hash
    plan of the passage profile and adds the classic islands merge
    (pos - row_number() is constant within a consecutive run).

    Scale (100 TB): windows move as 8-byte hashes (never text); the shared
    filter is one combinable shuffle on the hash; the islands window
    partitions by doc_id — per-task state is ONE document's shared
    positions, bounded by doc length, and documents hash-spread across
    tasks. Nothing quadratic; output is bounded by input windows."""
    from pyspark.sql import Window as W

    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    t = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    g = t.select(
        "doc_id", F.posexplode(F.expr(_PASSAGES_SPARK)).alias("pos", "p")
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        portable_hash60(F.col("p")).alias("h"),
    )
    shared = (
        g.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    occ = g.join(shared, "h").select("doc_id", "pos")
    w = W.partitionBy("doc_id").orderBy("pos")
    isl = occ.withColumn(
        "grp", F.col("pos") - F.row_number().over(w).cast("long")
    )
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(_PASSAGE_N - 1)).alias("span_end"),
        (F.max("pos") - F.min("pos") + F.lit(_PASSAGE_N)).alias("span_tokens"),
        F.count("*").alias("n_windows"),
    ).drop("grp")


# ------------------------------------------------------ shingle containment
# Asymmetric near-dup: containment C(A in B) = |A ∩ B| / |A| over 3-gram
# shingle sets. Jaccard misses subset relationships (a tweet quoted inside
# an article has tiny Jaccard but containment ~1.0) — this is the quote /
# excerpt / wrapper-page detector. Same shingle equi-join as the Jaccard
# verifier (and the same caveat: at 100 TB candidates come from LSH, this
# exact form is the verifier semantics).

CONTAINMENT_THRESHOLD = 0.5

NGRAM_CONTAINMENT_SQL = f"""
    WITH tokarr AS (
        SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    shingle AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS sh FROM tokarr
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shingle GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingle a JOIN shingle b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / ca.n AS containment_a_in_b,
           CAST(n_common AS DOUBLE) / cb.n AS containment_b_in_a
    FROM inter
    JOIN cnt ca ON doc_a = ca.doc_id
    JOIN cnt cb ON doc_b = cb.doc_id
    WHERE GREATEST(CAST(n_common AS DOUBLE) / ca.n,
                   CAST(n_common AS DOUBLE) / cb.n) >= {CONTAINMENT_THRESHOLD}
"""


@register("dedup_ngram_containment_pairs", oracle=NGRAM_CONTAINMENT_SQL)
def dedup_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment pairs (both directions); see the section
    comment for why this exists next to Jaccard."""
    d = read_docs_spread(spark, sf_dir, key="doc_id")
    shingle = (
        d.select("doc_id", tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(F.expr(_SHINGLES_SPARK)).alias("sh"))
        .distinct()
    )
    cnt = shingle.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = shingle.alias("a"), shingle.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    c_ab = F.col("n_common").cast("double") / F.col("ca.n")
    c_ba = F.col("n_common").cast("double") / F.col("cb.n")
    return (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            c_ab.alias("containment_a_in_b"),
            c_ba.alias("containment_b_in_a"),
        )
        .filter(
            F.greatest(
                F.col("containment_a_in_b"), F.col("containment_b_in_a")
            )
            >= CONTAINMENT_THRESHOLD
        )
    )


# ------------------------------------------------- recursive dup closure
# "Find every transitive copy of this document": depth-bounded BFS over the
# LSH candidate-pair graph, written as a RECURSIVE CTE and executed by
# Spark's own recursive-CTE support (4.x) — the front-door SQL counterpart
# of the DataFrame-loop connected components above. Spark restricts
# recursion to UNION ALL, so cycle safety comes from the depth bound and
# the MIN(depth) collapse (dup graphs are near-cliques: path fan-out at
# depth 4 is c^4 for clique size c, bounded because LSH clusters are
# small). The recursive text is shared verbatim with the oracle; only the
# edge-table derivation differs per engine (its equality is itself
# oracle-proven by dedup_minhash_lsh_pairs).

_CLOSURE_DEPTH = 4

_RECURSIVE_CLOSURE_TEXT = f"""
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
    ),
    seed AS (SELECT MIN(src) AS s FROM edges),
    reach(doc_id, depth) AS (
        SELECT s, 0 FROM seed
        UNION ALL
        SELECT e.dst, r.depth + 1
        FROM reach r JOIN edges e ON e.src = r.doc_id
        WHERE r.depth < {_CLOSURE_DEPTH}
    )
    SELECT doc_id, CAST(MIN(depth) AS BIGINT) AS min_depth
    FROM reach GROUP BY doc_id
"""


def _closure_oracle() -> str:
    return f"""
    WITH RECURSIVE dup_pairs AS ({_lsh_pairs_oracle()}),
    {_RECURSIVE_CLOSURE_TEXT}
    """


@register("sql_recursive_dup_closure", oracle=_closure_oracle())
def sql_recursive_dup_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate closure from the smallest paired doc, as a
    recursive CTE run by spark.sql; see the section comment.

    The pair list is materialized (``localCheckpoint``) BEFORE the view is
    registered: the recursive loop references ``dup_pairs`` once per
    iteration, and over a plain view that re-executes the entire
    shingle -> MinHash -> banded-join pipeline every round (measured 9.6 s
    at sf0.1; 1.3 s once the loop joins against the materialized leaf —
    same rows, same closure). Identical reasoning to the CC loop's
    checkpoint above."""
    dedup_minhash_lsh_pairs(spark, sf_dir).localCheckpoint(
        eager=True
    ).createOrReplaceTempView("dup_pairs")
    return spark.sql(f"WITH RECURSIVE {_RECURSIVE_CLOSURE_TEXT}")


# ------------------------------------------------------- triangle counting
# Triangle census of the candidate-pair graph — the dup-cluster quality
# signal: near-duplicate clusters should be near-cliques (high triangle
# density); a triangle-poor pair graph means the LSH threshold is admitting
# chains of weak links. Standard distributed shape: orient every edge
# low->high, join edges on the shared low vertex to form wedges (each
# wedge generated once), then close each wedge with a semi-join back to
# the edge set. Wedge fan-out is sum(deg^2) on the ORIENTED graph, the
# textbook bound that keeps hub vertices from exploding.
def _triangle_oracle() -> str:
    return f"""
    WITH pairs AS ({_lsh_pairs_oracle()}),
    e AS (
        SELECT LEAST(doc_a, doc_b) AS a, GREATEST(doc_a, doc_b) AS b
        FROM pairs
    ),
    wedge AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges
    FROM wedge w JOIN e ON e.a = w.y AND e.b = w.z
    """


@register("dedup_triangle_count", oracle=_triangle_oracle())
def dedup_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(triangle count, edge count) of the LSH candidate-pair graph; see
    the section comment."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    e = pairs.select(
        F.least("doc_a", "doc_b").alias("a"),
        F.greatest("doc_a", "doc_b").alias("b"),
    )
    e1, e2 = e.alias("e1"), e.alias("e2")
    wedge = e1.join(
        e2,
        (F.col("e1.a") == F.col("e2.a")) & (F.col("e1.b") < F.col("e2.b")),
    ).select(F.col("e1.b").alias("y"), F.col("e2.b").alias("z"))
    tri = wedge.join(
        e, (F.col("a") == F.col("y")) & (F.col("b") == F.col("z")), "left_semi"
    ).agg(F.count("*").alias("n_triangles"))
    edges = e.agg(F.count("*").alias("n_edges"))
    return tri.crossJoin(F.broadcast(edges))


# -------------------------------------------------- candidate recall eval
# The pipeline measuring itself: of the TRUE near-dup pairs (exact shingle
# Jaccard >= threshold), how many does banded MinHash-LSH surface as
# candidates? This is the recall knob (bands x rows) made observable — a
# production dedup pipeline runs exactly this eval on a sample whenever the
# LSH parameters change. Both pair sets are canonicalized low->high before
# the semi-join; recall is fixed-point integer so the one-row result is
# engine-exact.


def _recall_eval_oracle() -> str:
    from polars_ad_etl_spark.operators.registry import ORACLES

    return f"""
    WITH exactp AS (
        SELECT LEAST(doc_a, doc_b) AS a, GREATEST(doc_a, doc_b) AS b
        FROM ({ORACLES["dedup_ngram_jaccard_pairs"]})
    ),
    cand AS (
        SELECT LEAST(doc_a, doc_b) AS a, GREATEST(doc_a, doc_b) AS b
        FROM ({_lsh_pairs_oracle()})
    ),
    hit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM exactp e
        WHERE EXISTS (SELECT 1 FROM cand c WHERE c.a = e.a AND c.b = e.b)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exactp) AS n_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
           h.n_hit,
           CAST(h.n_hit * 10000
                // GREATEST((SELECT COUNT(*) FROM exactp), 1) AS BIGINT)
               AS recall_x10000
    FROM hit h
    """


@register("dedup_lsh_recall_eval", oracle=_recall_eval_oracle())
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row LSH candidate-recall report vs the exact Jaccard truth set;
    see the section comment."""
    exact = dedup_ngram_jaccard_pairs(spark, sf_dir).select(
        F.least("doc_a", "doc_b").alias("a"),
        F.greatest("doc_a", "doc_b").alias("b"),
    )
    cand = dedup_minhash_lsh_pairs(spark, sf_dir).select(
        F.least("doc_a", "doc_b").alias("a"),
        F.greatest("doc_a", "doc_b").alias("b"),
    )
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    n_hit = exact.join(cand, ["a", "b"], "left_semi").agg(
        F.count("*").alias("n_hit")
    )
    return (
        n_hit.crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(n_cand))
        .select(
            "n_exact",
            "n_candidates",
            "n_hit",
            F.expr("(n_hit * 10000) div greatest(n_exact, 1)").alias(
                "recall_x10000"
            ),
        )
    )


# ------------------------------------------------------ dedup run report
@register(
    "dedup_summary_report",
    oracle=_capped_summary_oracle(PRODUCTION_BUCKET_CAP),
)
def dedup_summary_report(
    spark: SparkSession,
    sf_dir: str,
    bucket_cap: int | None = PRODUCTION_BUCKET_CAP,
) -> DataFrame:
    """The one-row report a dedup run ships: corpus size, exact-dup count,
    LSH candidate-pair count, near-dup cluster count/membership, and the
    resulting keep-list size (n_docs - members + one exemplar per
    cluster, computed arithmetically so the keep pipeline isn't re-run).
    Every input number is produced by the already-verified primitives;
    the single-row output is a cross join of broadcast scalar aggregates.

    When ``bucket_cap`` is set, the LSH pair count comes from the capped
    path and the report additionally carries the hot-bucket suppression
    side-channel (:func:`lsh_bucket_overflow`) at the report level —
    ``n_dropped_buckets`` and ``dropped_pairs_upper_bound`` (cross-band
    upper bound on distinct pairs lost) — so a capped production run is
    never silent about what it skipped. The default is the production cap
    (``PRODUCTION_BUCKET_CAP``, rationale at the constant), and the
    registry oracle applies the same cap in SQL, so the default shape is
    differential-checked as-is. The overflow columns are present in every
    mode; pass ``bucket_cap=None`` for an exhaustive uncapped run (both
    overflow columns are then 0 by construction).

    Single-subplan discipline (round-8): the signature -> banded -> bucket
    frame feeds THREE consumers here (pair count, component graph, hot-
    bucket overflow) and used to be built — and executed — once per
    consumer. It is now materialized once with ``localCheckpoint`` and
    shared, so the report's cost is one signature scan + three tiny
    aggregates (the executed plan carries exactly one parquet scan,
    pinned by tests/test_plan_quality.py)."""
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    docs = d.agg(
        F.count("*").alias("n_docs"),
        (
            F.count("*") - F.countDistinct(F.md5(F.lower(F.trim("text"))))
        ).alias("n_exact_dup_docs"),
    )
    buckets = _lsh_buckets(spark, sf_dir).localCheckpoint(eager=True)
    pair_df = dedup_minhash_lsh_pairs(
        spark, sf_dir, bucket_cap=bucket_cap, buckets=buckets
    ).localCheckpoint(eager=True)
    pairs = pair_df.agg(F.count("*").alias("n_lsh_pairs"))
    # the cap flows into the component graph too: a capped report's
    # cluster counts describe the same (capped) pair set as its pair count
    comp = dedup_connected_components(
        spark, sf_dir, bucket_cap=bucket_cap, pairs=pair_df
    ).agg(
        F.countDistinct("component_id").alias("n_clusters"),
        F.count("*").alias("n_clustered_docs"),
    )
    if bucket_cap is None:
        overflow = spark.range(1).select(
            F.lit(0).cast("long").alias("n_dropped_buckets"),
            F.lit(0).cast("long").alias("dropped_pairs_upper_bound"),
        )
    else:
        overflow = lsh_bucket_overflow(
            spark, sf_dir, bucket_cap, buckets=buckets
        ).agg(
            F.count("*").alias("n_dropped_buckets"),
            F.coalesce(F.sum("dropped_pairs"), F.lit(0)).alias(
                "dropped_pairs_upper_bound"
            ),
        )
    return (
        docs.crossJoin(F.broadcast(pairs))
        .crossJoin(F.broadcast(comp))
        .crossJoin(F.broadcast(overflow))
        .select(
            "n_docs",
            "n_exact_dup_docs",
            "n_lsh_pairs",
            "n_clusters",
            "n_clustered_docs",
            (
                F.col("n_docs")
                - F.col("n_clustered_docs")
                + F.col("n_clusters")
            ).alias("n_keep"),
            "n_dropped_buckets",
            "dropped_pairs_upper_bound",
        )
    )


@register(
    "dedup_summary_report_capped",
    oracle=_capped_summary_oracle(LSH_CAP_DEMO),
)
def dedup_summary_report_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_summary_report` with the hot-bucket cap engaged
    (cap={LSH_CAP_DEMO}): pair count, cluster counts, keep-list size, AND
    the overflow columns all describe the same capped pair set, verified
    against an oracle composing the capped-pairs CTE, a recursive-CTE
    component derivation over it, and the overflow aggregation — the full
    production report path is driver-oracle-checked end to end."""
    return dedup_summary_report(spark, sf_dir, bucket_cap=LSH_CAP_DEMO)


# -------------------------------------- content-defined chunking (CDC)
#
# Storage-level dedup (backup systems, artifact stores, chunk-level
# delta-sync) cuts byte streams at CONTENT-DEFINED boundaries — positions
# where a rolling window hash satisfies a modulus condition — so an
# insertion early in a document shifts only the chunk it lands in, not
# every chunk after it (the failure mode of fixed-size chunking). The
# window hash here is the portable md5-derived hash of each 8-char window
# (engine-identical); boundary ⇔ hash % 64 == 0 (expected chunk ≈ 64
# chars). The position explode is O(total chars) rows of tiny integers —
# one shuffle on (doc, pos); chunk assembly is a per-doc window over
# boundary positions only.
CDC_WINDOW = 8
CDC_MODULUS = 64


def _cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk) under content-defined chunking — built ENTIRELY
    partition-local with array higher-order functions.

    The first implementation exploded one row per character position and
    assembled chunks with a window over (doc_id, b) — which carried the
    FULL document text on every boundary row through a shuffle + sort. At
    ~3 boundary rows per 200-char expected chunk that is ~1.5% of corpus
    bytes duplicated per boundary row, i.e. a 200 KB document contributed
    ~600 MB of shuffle (measured: the textfuzz heavy docs OOMed a 4 GB
    local heap in the sort). This form never moves text between rows:

    1. boundary positions: ``filter`` over the position ``sequence``,
       hashing each window via the enclosing row's text — array lambda,
       zero extra rows;
    2. chunk assembly: ``transform`` over adjacent boundary pairs with
       ``substr`` — still per-row;
    3. one ``explode`` of the chunk array (output size == text size).

    The ONLY shuffle in a consumer is its own final hash aggregate, so at
    100 TB chunking is embarrassingly parallel scan work exactly like the
    MinHash signature projection. ``spread_scan``: scale-adaptive scan
    spread for exactly that reason (no-op at scale, see its docstring)."""
    docs = read_docs_spread(spark, sf_dir, key="doc_id")
    text = F.col("text")

    # Per-CODEPOINT array, computed ONCE per row. Everything downstream
    # indexes this array because JVM substr(text, i, w) is O(i) — UTF8String
    # walks bytes from position 0 to find character i, so per-window substr
    # makes the boundary scan O(n²) (measured: 23s for a single 100 KB doc,
    # 4x per doubling). Array element_at/slice are O(1)/O(len) on the
    # already-split array, restoring the O(n) scan the section comment
    # promises. split keeps a trailing '' artifact (Java split limit -1);
    # slicing to length(text) drops it without another pass.
    chars = F.slice(F.split(text, ""), 1, F.length(text))

    def _bounds(cs):
        # window string = 8 adjacent codepoints joined (identical to
        # substr(text, i, 8)); F.get is 0-based and NULL-safe out of
        # bounds (never ANSI-errors; a NULL window fails the predicate,
        # which only affects i where i+W-1 > n — excluded by the sequence
        # bound anyway). i > 1 keeps position 1 for the sentinel.
        def window(i):
            return F.concat(
                *[F.get(cs, i + F.lit(k) - F.lit(1)) for k in range(CDC_WINDOW)]
            )

        return F.concat(
            F.array(F.lit(1)),
            F.filter(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size(cs) - F.lit(CDC_WINDOW - 1), F.lit(1)),
                ),
                lambda i: (i > F.lit(1))
                & (portable_hash32(window(i)) % CDC_MODULUS == 0),
            ),
            F.array(F.size(cs) + F.lit(1)),
        )

    # LET-BIND chars and bounds via the single-element-transform trick
    # (same trap as _SHINGLES_SPARK): referencing either expression
    # directly inside the chunk lambda would re-run the whole boundary
    # scan once per CHUNK — quadratic again (measured: a 250 KB doc alone
    # exceeded 9 minutes in that form). Bound, each evaluates once per ROW.
    chunks = F.element_at(
        F.transform(
            F.array(chars),
            lambda cs: F.element_at(
                F.transform(
                    F.array(_bounds(cs)),
                    lambda bs: F.transform(
                        F.sequence(F.lit(1), F.size(bs) - F.lit(1)),
                        lambda k: F.array_join(
                            F.slice(
                                cs,
                                F.element_at(bs, k),
                                F.element_at(bs, k + F.lit(1))
                                - F.element_at(bs, k),
                            ),
                            "",
                        ),
                    ),
                ),
                1,
            ),
        ),
        1,
    )
    return (
        docs.select("doc_id", F.explode(chunks).alias("chunk"))
        .filter(F.col("chunk").isNotNull() & (F.length("chunk") > 0))
    )


#: Shared oracle chunk pipeline, shaped by the same two scaling rules as
#: the Spark side (:func:`_cdc_chunks`):
#: 1. the boundary scan indexes a per-codepoint split ONCE per doc —
#:    DuckDB's substr(text, i, w) with a variable position walks from
#:    byte 0 (O(i) even for ASCII; measured 40s for three 200 KB docs),
#:    so per-window substr is quadratic exactly like the JVM's;
#:    cs[i] || cs[i+1] … is O(1) per window. generate_series starting at
#:    2 encodes the i > 1 sentinel guard.
#: 2. the window that pairs adjacent boundaries runs over (doc_id, b)
#:    ONLY — carrying text on boundary rows would materialize
#:    ~len/chunk_size copies of each document in the sort; text is joined
#:    back for the one substr per CHUNK (O(offset) each, but chunks are
#:    ~len/{CDC_MODULUS} so the total stays near-linear).
_CDC_WINDOW_DUCK = " || ".join(
    f"cs[i+{k}]" if k else "cs[i]" for k in range(CDC_WINDOW)
)
_CDC_CHUNKS_DUCK = f"""
    csplit AS (
        SELECT doc_id, text, string_split(text, '') AS cs FROM documents
    ), bposl AS (
        SELECT doc_id,
               [i for i in
                generate_series(2, GREATEST(len(cs) - {CDC_WINDOW - 1}, 1))
                if {portable_hash32_sql(_CDC_WINDOW_DUCK)}
                   % {CDC_MODULUS} = 0] AS bs
        FROM csplit
    ), bounds AS (
        SELECT doc_id, CAST(UNNEST(bs) AS BIGINT) AS b FROM bposl
        UNION ALL
        SELECT doc_id, 1 FROM documents
        UNION ALL
        SELECT doc_id, CAST(len(text) + 1 AS BIGINT) FROM documents
    ), spans AS (
        SELECT doc_id, b,
               LEAD(b) OVER (PARTITION BY doc_id ORDER BY b) - b AS l
        FROM bounds
    ), chunks AS (
        SELECT s.doc_id,
               substr(d.text, CAST(s.b AS INTEGER), CAST(s.l AS INTEGER))
                   AS chunk
        FROM spans s JOIN documents d USING (doc_id)
        WHERE s.l IS NOT NULL AND s.l > 0
    )
"""


@register(
    "text_cdc_duplicate_chunks",
    oracle=f"""
    WITH {_CDC_CHUNKS_DUCK}, hashed AS (
        SELECT doc_id, md5(chunk) AS chunk_hash, len(chunk) AS chunk_len
        FROM chunks
        WHERE chunk IS NOT NULL AND len(chunk) > 0
    )
    SELECT chunk_hash,
           CAST(MIN(chunk_len) AS BIGINT) AS chunk_len,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM hashed
    GROUP BY chunk_hash
    HAVING COUNT(*) >= 2
    ORDER BY n_occurrences DESC, chunk_hash
    """,
)
def text_cdc_duplicate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate chunks under content-defined chunking: the
    chunk-store dedup table (hash → occurrence and document counts) for
    every chunk appearing at least twice. See :func:`_cdc_chunks` for the
    partition-local chunking plan (no shuffle before the aggregate);
    boundary sentinels at 1 and len+1 close the first and last chunks
    identically in both engines."""
    hashed = _cdc_chunks(spark, sf_dir).select(
        "doc_id", F.md5("chunk").alias("chunk_hash"),
        F.length("chunk").cast("long").alias("chunk_len"))
    return (
        hashed.groupBy("chunk_hash")
        .agg(
            F.min("chunk_len").alias("chunk_len"),
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .orderBy(F.desc("n_occurrences"), "chunk_hash")
    )


@register(
    "dedup_blocking_reduction",
    oracle=f"""
    WITH pairs AS ({{LSH}}),
    cand AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates
        FROM (SELECT DISTINCT LEAST(doc_a, doc_b) AS a,
                     GREATEST(doc_a, doc_b) AS b
              FROM pairs WHERE doc_a <> doc_b)
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT n_docs, n_candidates,
           CAST(n_docs * (n_docs - 1) / 2 AS BIGINT) AS n_full_pairs,
           CAST(1000 - (1000 * n_candidates * 2)
                // (n_docs * (n_docs - 1)) AS BIGINT)
               AS reduction_permille
    FROM n, cand
    """.replace("{LSH}", _lsh_pairs_oracle()),
)
def dedup_blocking_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme metrology: the reduction ratio of MinHash-LSH
    banding — what fraction of the O(n²) comparison space the blocking
    eliminates (its recall side is [[dedup_lsh_recall_eval]]; together
    they are the standard entity-resolution quality pair). Exact permille
    on the deduplicated candidate count; both inputs are 1-row broadcast
    aggregates."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    cand = _canonical_edges(
        pairs.selectExpr("doc_a AS a", "doc_b AS b")
    ).agg(F.count("*").alias("n_candidates"))
    n = (
        read_star_parquet(spark, f"{sf_dir}/documents.parquet")
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        n.crossJoin(F.broadcast(cand))
        .select(
            "n_docs",
            "n_candidates",
            F.expr("CAST(n_docs * (n_docs - 1) / 2 AS BIGINT)").alias(
                "n_full_pairs"
            ),
            F.expr(
                "1000 - (1000 * n_candidates * 2)"
                " div nullif(n_docs * (n_docs - 1), 0)"
            ).alias("reduction_permille"),
        )
    )


@register(
    "dedup_simhash_hamming_hist",
    oracle=f"""
    WITH sh AS ({{SIMHASH}}),
    pairs AS ({{LSH}}),
    cand AS (
        SELECT DISTINCT LEAST(doc_a, doc_b) AS a, GREATEST(doc_a, doc_b) AS b
        FROM pairs WHERE doc_a <> doc_b
    )
    SELECT CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT)
               AS hamming_distance,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM cand
    JOIN sh sa ON sa.doc_id = cand.a
    JOIN sh sb ON sb.doc_id = cand.b
    GROUP BY 1 ORDER BY 1
    """.replace("{SIMHASH}", SIMHASH_SQL).replace("{LSH}", _lsh_pairs_oracle()),
)
def dedup_simhash_hamming_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-distance histogram over the MinHash-LSH candidate
    pairs — the view that tunes the SimHash cut-off: candidate pairs pile
    up at low distances, so the histogram's knee is where "duplicate" ends
    and "merely similar" begins, measured on the very pairs the blocking
    scheme would pass downstream. Two fingerprint joins keyed by doc id;
    bit_count(xor) is JVM-side in Spark and native in DuckDB, over the
    SAME verified 32-bit fingerprints."""
    sh = dedup_simhash_documents(spark, sf_dir).select(
        "doc_id", "simhash"
    ).localCheckpoint(eager=True)
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    cand = _canonical_edges(pairs.selectExpr("doc_a AS a", "doc_b AS b"))
    sa = sh.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    sb = sh.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .groupBy(
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("long")
            .alias("hamming_distance")
        )
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("hamming_distance")
    )


@register(
    "text_cdc_dedup_gain",
    oracle=f"""
    WITH {_CDC_CHUNKS_DUCK}, hashed AS (
        SELECT md5(chunk) AS h, len(chunk) AS l
        FROM chunks WHERE chunk IS NOT NULL AND len(chunk) > 0
    ), uniq AS (
        SELECT h, CAST(MIN(l) AS BIGINT) AS l FROM hashed GROUP BY h
    )
    SELECT (SELECT CAST(SUM(l) AS BIGINT) FROM hashed) AS total_chars,
           CAST(SUM(l) AS BIGINT) AS unique_chars,
           CAST(COUNT(*) AS BIGINT) AS n_unique_chunks,
           CAST(1000 - (1000 * SUM(l))
                // (SELECT SUM(l) FROM hashed) AS BIGINT)
               AS saving_permille
    FROM uniq
    """,
)
def text_cdc_dedup_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline number for [[text_cdc_duplicate_chunks]]: how much of
    the corpus a chunk store would NOT have to keep — total chunk chars vs
    unique-chunk chars, saving in exact permille. The chunk pipeline is
    :func:`_cdc_chunks` (shared with the duplicate-chunks query,
    partition-local); dedup is one hash aggregate."""
    hashed = _cdc_chunks(spark, sf_dir).select(
        F.md5("chunk").alias("h"), F.length("chunk").cast("long").alias("l")
    )
    total = hashed.agg(F.sum("l").alias("total_chars"))
    uniq = hashed.groupBy("h").agg(F.min("l").alias("l"))
    return (
        uniq.agg(
            F.sum("l").alias("unique_chars"),
            F.count("*").alias("n_unique_chunks"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "total_chars",
            "unique_chars",
            "n_unique_chunks",
            F.expr(
                "1000 - (1000 * unique_chars) div total_chars"
            ).alias("saving_permille"),
        )
    )


@register(
    "dedup_minhash_estimate_error",
    oracle=f"""
    WITH sigs AS ({{SIGS}}),
    pairs0 AS ({{LSH}}),
    cand AS (
        SELECT DISTINCT LEAST(doc_a, doc_b) AS a, GREATEST(doc_a, doc_b) AS b
        FROM pairs0 WHERE doc_a <> doc_b
    ),
    est AS (
        SELECT c.a, c.b,
               ({" + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(K))})
                   AS m
        FROM cand c
        JOIN sigs sa ON sa.doc_id = c.a
        JOIN sigs sb ON sb.doc_id = c.b
    ),
    tokarr AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
    shingle AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS sh FROM tokarr
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shingle GROUP BY doc_id),
    inter AS (
        SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS n_common
        FROM shingle sa JOIN shingle sb
          ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT e.a, e.b,
               (1000 * e.m) // {K} AS est_permille,
               (1000 * COALESCE(i.n_common, 0))
                   // (ca.n + cb.n - COALESCE(i.n_common, 0))
                   AS true_permille
        FROM est e
        LEFT JOIN inter i ON i.a = e.a AND i.b = e.b
        JOIN cnt ca ON ca.doc_id = e.a
        JOIN cnt cb ON cb.doc_id = e.b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(abs(est_permille - true_permille)) // COUNT(*)
                AS BIGINT) AS mean_abs_err_permille,
           CAST(MAX(abs(est_permille - true_permille)) AS BIGINT)
               AS max_abs_err_permille
    FROM scored
    """.replace("{SIGS}", MINHASH_SIG_SQL).replace("{LSH}", _lsh_pairs_oracle()),
)
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration on the LSH candidate pairs: the
    signature-match estimate of Jaccard (matching minima / K) against the
    exact shingle Jaccard, summarized as mean and max absolute error in
    permille — the measurement that justifies (or resizes) K={K}
    signatures. The exact side is the documented small-scale verifier
    join; at corpus scale the error audit runs on a candidate SAMPLE with
    the same shape.""".replace("{K}", str(K))
    sigs = minhash_signatures(spark, sf_dir).localCheckpoint(eager=True)
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    cand = _canonical_edges(pairs.selectExpr("doc_a AS a", "doc_b AS b"))
    sa = sigs.select(
        F.col("doc_id").alias("a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(K)],
    )
    match_sum = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(K)
    )
    est = (
        cand.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", match_sum.alias("m"))
        .select("a", "b", F.expr(f"(1000 * m) div {K}").alias("est_permille"))
    )
    d = read_docs_spread(spark, sf_dir, key="doc_id")
    from polars_ad_etl_spark.functions.hashing import tokens

    shingle = (
        d.select("doc_id", tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(F.expr(_SHINGLES_SPARK)).alias("sh"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cnt = shingle.groupBy("doc_id").agg(F.count("*").alias("n"))
    i1 = shingle.select(F.col("doc_id").alias("ia"), "sh")
    i2 = shingle.select(F.col("doc_id").alias("ib"), F.col("sh").alias("sh2"))
    inter = (
        i1.join(i2, (F.col("sh") == F.col("sh2")) & (F.col("ia") < F.col("ib")))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("n_common"))
    )
    ca = cnt.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    scored = (
        est.join(
            inter,
            (F.col("ia") == F.col("a")) & (F.col("ib") == F.col("b")),
            "left_outer",
        )
        .join(F.broadcast(ca), "a")
        .join(F.broadcast(cb), "b")
        .select(
            "est_permille",
            F.expr(
                "(1000 * coalesce(n_common, 0))"
                " div (na + nb - coalesce(n_common, 0))"
            ).alias("true_permille"),
        )
    )
    return scored.agg(
        F.count("*").alias("n_pairs"),
        F.expr(
            "sum(abs(est_permille - true_permille)) div count(*)"
        ).alias("mean_abs_err_permille"),
        F.max(F.abs(F.col("est_permille") - F.col("true_permille"))).alias(
            "max_abs_err_permille"
        ),
    )


@register(
    "dedup_cross_source_matrix",
    oracle=f"""
    WITH pairs AS ({{LSH}}),
    cand AS (
        SELECT DISTINCT LEAST(doc_a, doc_b) AS a, GREATEST(doc_a, doc_b) AS b
        FROM pairs WHERE doc_a <> doc_b
    ),
    labeled AS (
        SELECT LEAST(da.source, db.source) AS source_x,
               GREATEST(da.source, db.source) AS source_y
        FROM cand
        JOIN documents da ON da.doc_id = cand.a
        JOIN documents db ON db.doc_id = cand.b
    )
    SELECT source_x, source_y, CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM labeled GROUP BY 1, 2 ORDER BY 1, 2
    """.replace("{LSH}", _lsh_pairs_oracle()),
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Who copies whom: near-dup candidate pairs bucketed by unordered
    source pair — the |sources|² matrix a curation review reads before
    deciding which feed to demote (heavy off-diagonal mass = mirrored
    content between feeds; diagonal = within-source boilerplate). Two
    broadcast doc→source joins over the verified candidate set."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    docs = read_star_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    cand = _canonical_edges(pairs.selectExpr("doc_a AS a", "doc_b AS b"))
    da = docs.select(F.col("doc_id").alias("a"), F.col("source").alias("sa"))
    db = docs.select(F.col("doc_id").alias("b"), F.col("source").alias("sb"))
    return (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .groupBy(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
        .agg(F.count("*").alias("n_dup_pairs"))
        .orderBy("source_x", "source_y")
    )
