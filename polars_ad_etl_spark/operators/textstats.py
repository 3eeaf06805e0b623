"""Text analysis over the ``documents`` table: quality scoring, token
counting, term frequencies, n-gram-heuristic language ID, and rolling-hash
document fingerprints. All pure built-in expressions (whole-stage codegen) —
no Python UDFs — and every query is oracle-checked against DuckDB.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_ad_etl_spark.functions.hashing import tokens, tokens_sql
from polars_ad_etl_spark.sources.star import read_star_parquet
from polars_ad_etl_spark.operators.registry import register

PUNCT_CLASS = "[.,!?;:]"

# Small disjoint stopword marker sets per language (heuristic language ID).
LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "die", "und", "ist"),
    "fr": ("le", "les", "et", "est"),
    "es": ("el", "los", "las", "y"),
}
STOPWORDS = tuple(w for ws in LANG_MARKERS.values() for w in ws)


def _in_list_sql(words: tuple[str, ...]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


# ------------------------------------------------------------ quality score
@register(
    "text_quality_scores",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, text, {tokens_sql('text')} AS toks FROM documents
    )
    SELECT doc_id, lang,
           LENGTH(text) AS n_chars,
           len(toks) AS n_tokens,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE CAST(len(list_filter(toks, x -> length(x) >= 4)) AS DOUBLE)
                     / len(toks) END AS long_token_ratio,
           CAST(LENGTH(text) - LENGTH(regexp_replace(text, '{PUNCT_CLASS}', '', 'g'))
                AS DOUBLE) / GREATEST(LENGTH(text), 1) AS punct_ratio,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE CAST(len(list_filter(toks, x -> x IN {_in_list_sql(STOPWORDS)}))
                          AS DOUBLE) / len(toks) END AS stopword_ratio
    FROM t
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / stopword quality signals — the cheap filters an
    LLM-data pipeline applies before any model-based scoring.

    ``read_docs_spread`` (round 13): the per-token filter lambdas evaluate
    interpreted, and the testdata scan plans ONE task, so the whole corpus
    scored on one core (~0.4 s of the 0.43 s wall at sf0.1). Scale-adaptive
    spread parallelizes it; no-op at scale (see spread_scan)."""
    from polars_ad_etl_spark.sources.star import read_docs_spread

    d = read_docs_spread(spark, sf_dir, cols=("doc_id", "lang", "text"))
    t = d.select("doc_id", "lang", "text", tokens(F.col("text")).alias("toks"))
    n_toks = F.size("toks")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    return t.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        n_toks.alias("n_tokens"),
        F.when(n_toks == 0, F.lit(0.0))
        .otherwise(
            F.size(F.filter(F.col("toks"), lambda x: F.length(x) >= 4)).cast("double")
            / n_toks
        )
        .alias("long_token_ratio"),
        (
            (
                F.length("text")
                - F.length(F.regexp_replace("text", PUNCT_CLASS, ""))
            ).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("punct_ratio"),
        F.when(n_toks == 0, F.lit(0.0))
        .otherwise(
            F.size(
                F.filter(F.col("toks"), lambda x: F.array_contains(stop_arr, x))
            ).cast("double")
            / n_toks
        )
        .alias("stopword_ratio"),
    )


# -------------------------------------------------------- term frequencies
@register(
    "text_term_frequencies",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({tokens_sql('text')}) AS tok FROM documents
    )
    SELECT tok, COUNT(*) AS n
    FROM toks GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 50
    """,
)
def text_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide term frequency top-50 (explode -> count -> top-k; the
    count is map-side combinable, the top-k is TakeOrderedAndProject)."""
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(50)
    )


# ------------------------------------------------------------- language ID
_CJK_SPARK = "[一-鿿]"
_CJK_DUCK = r"[\x{4E00}-\x{9FFF}]"


@register(
    "text_lang_id",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, text, {tokens_sql('text')} AS toks FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               regexp_matches(text, '{_CJK_DUCK}') AS has_cjk,
               len(list_filter(toks, x -> x IN {_in_list_sql(LANG_MARKERS['en'])})) AS s_en,
               len(list_filter(toks, x -> x IN {_in_list_sql(LANG_MARKERS['de'])})) AS s_de,
               len(list_filter(toks, x -> x IN {_in_list_sql(LANG_MARKERS['fr'])})) AS s_fr,
               len(list_filter(toks, x -> x IN {_in_list_sql(LANG_MARKERS['es'])})) AS s_es
        FROM t
    )
    SELECT doc_id, lang,
           CASE WHEN has_cjk THEN 'zh'
                WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS predicted,
           (CASE WHEN has_cjk THEN 'zh'
                WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END) = lang AS is_correct
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID (CJK codepoint check for zh, stopword votes
    for en/de/fr/es) with a fixed tie-break order — deterministic, and graded
    against the gold ``lang`` column."""
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    t = d.select("doc_id", "lang", "text", tokens(F.col("text")).alias("toks"))

    def score(words: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(F.col("toks"), lambda x: F.array_contains(arr, x)))

    scored = t.select(
        "doc_id",
        "lang",
        F.col("text").rlike(_CJK_SPARK).alias("has_cjk"),
        score(LANG_MARKERS["en"]).alias("s_en"),
        score(LANG_MARKERS["de"]).alias("s_de"),
        score(LANG_MARKERS["fr"]).alias("s_fr"),
        score(LANG_MARKERS["es"]).alias("s_es"),
    )
    predicted = (
        F.when(F.col("has_cjk"), F.lit("zh"))
        .when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_es")),
            F.lit("en"),
        )
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") >= F.col("s_es")), F.lit("de"))
        .when(F.col("s_fr") >= F.col("s_es"), F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return scored.select(
        "doc_id",
        "lang",
        predicted.alias("predicted"),
        (predicted == F.col("lang")).alias("is_correct"),
    )


# ----------------------------------------------------- rolling fingerprint
@register(
    "text_doc_fingerprints",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(0::BIGINT,
                   [ascii(c)::BIGINT for c in regexp_split_to_array(text, '')]),
               (acc, x) -> (acc * 31 + x) % 2147483647) AS fingerprint
    FROM documents
    WHERE LENGTH(text) > 0
    """,
)
def text_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash (base 31, mod 2^31-1) over the document's
    codepoints — a compact content fingerprint. Verified bit-equal across
    engines (ascii() returns the codepoint in both)."""
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    fingerprint = F.aggregate(
        F.transform(F.split("text", ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % 2147483647,
    )
    return d.filter(F.length("text") > 0).select(
        "doc_id", fingerprint.alias("fingerprint")
    )


# ----------------------------------------------------------- token counting
# GPT-2-style pre-tokenizer shape: contraction suffixes, letter runs, digit
# runs, punctuation runs (each optionally space-prefixed), whitespace runs.
# The DuckDB mirror spells Java's \s class out explicitly ([ \t\n\v\f\r]):
# RE2's \s excludes vertical tab, so under \s the two engines disagree on
# whether VT belongs to a punctuation run (textfuzz caught an extra BPE
# token around \x0b). Same contract as functions/hashing.py::TOKENS_SQL.
_BPE_SPARK = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"
_BPE_DUCK = (
    r"''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\v\f\r\p{L}\p{N}]+"
)


@register(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           len({tokens_sql('text')}) AS n_ws_tokens,
           len(regexp_extract_all(text, '{_BPE_DUCK}')) AS n_bpe_tokens,
           CAST(LENGTH(text) AS DOUBLE)
               / GREATEST(len(regexp_extract_all(text, '{_BPE_DUCK}')), 1)
               AS chars_per_token
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish pre-tokenizer
    regex (letter/digit/punctuation runs with contraction handling) — the
    cheap proxy for LLM token budgeting. Pure regexp_extract_all, codegen'd."""
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_SPARK), 0))
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        (F.length("text").cast("double") / F.greatest(bpe, F.lit(1))).alias(
            "chars_per_token"
        ),
    )


# ------------------------------------------------------- unigram surprisal
# Perplexity-proxy quality signal from a corpus unigram LM, computed entirely
# in integers so it is oracle-exact: surprisal(tok) ~ -log2 p(tok) is
# approximated by bit-length arithmetic, floor(log2 n) = length(bin(n)) - 1,
# which both engines evaluate identically (no float log anywhere). A
# document's mean surprisal separates rare-token (high-information, often
# noisy) documents from common-token ones — the integer twin of the LM-based
# quality filters used on web corpora. The corpus-size log term is a constant
# offset shared by every document, so it is deliberately dropped: rankings
# and thresholds are unaffected, and dropping it keeps the operator at ONE
# dictionary pass + one apply join (a global total would plan a second full
# pass over the token subtree for the scalar).
#
# Scale: groupBy(token) dictionary (map-side combinable), token->count join
# (dictionary side broadcastable up to ~vocab x 16B), groupBy(doc). Counts
# stay under 2^40 for any realistic corpus, so SURPRISAL_BASE = 40 keeps
# every surprisal positive.

_SURPRISAL_BASE = 40


@register(
    "text_unigram_surprisal",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM documents
    ),
    counts AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM({_SURPRISAL_BASE} - length(bin(c.cnt))) AS BIGINT)
               AS sum_surprisal,
           CAST((100 * SUM({_SURPRISAL_BASE} - length(bin(c.cnt))))
                // COUNT(*) AS BIGINT) AS mean_surprisal_x100
    FROM toks t JOIN counts c USING (tok)
    GROUP BY t.doc_id
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id -> (n_tokens, integer unigram surprisal sum and x100 mean).
    See the section comment for the bit-length log2 trick and the scale
    shape."""
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    s = F.lit(_SURPRISAL_BASE) - F.length(F.bin(F.col("cnt")))
    return (
        toks.join(counts, "tok")
        .select("doc_id", s.cast("long").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("s").alias("sum_surprisal"),
            F.expr("(100 * sum(s)) div count(*)").alias("mean_surprisal_x100"),
        )
    )


# ------------------------------------------------------ BPE merge candidates
# The inner statistic of byte-pair-encoding tokenizer training: count every
# ADJACENT token pair across the corpus and rank — the top pair is what a
# BPE trainer would merge next. One explode of (tok[i], tok[i+1]) windows,
# one map-side-combinable count, TakeOrderedAndProject for the top-k: at
# 100 TB this is the same shape as term frequency and parallelizes the same
# way (a real BPE trainer iterates merge->recount; each iteration is this
# query over the re-merged stream).
@register(
    "text_bpe_merge_candidates",
    oracle=f"""
    WITH tokarr AS (
        SELECT {tokens_sql('text')} AS toks FROM documents
    ),
    pairs AS (
        -- list-form generate_series takes the per-row column bound (the
        -- TABLE function would not): exact for any tokens/doc, no fixed cap
        SELECT toks[i] AS left_tok, toks[i + 1] AS right_tok
        FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
              FROM tokarr)
    )
    SELECT left_tok, right_tok, COUNT(*) AS n
    FROM pairs GROUP BY left_tok, right_tok
    ORDER BY n DESC, left_tok, right_tok
    LIMIT 50
    """,
)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent token pairs by corpus frequency — the BPE merge
    statistic. See the section comment for the scale shape."""
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    toks = d.select(tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    pair = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> struct(toks[i] AS left_tok, toks[i+1] AS right_tok))"
            )
        ).alias("p")
    ).select("p.left_tok", "p.right_tok")
    return (
        pair.groupBy("left_tok", "right_tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "left_tok", "right_tok")
        .limit(50)
    )


# ------------------------------------------------------ keyword extraction
# TF-IDF keywords per document with the same bit-length integer log2 used
# by the surprisal operator: idf(t) ~ log2(N / df(t)) becomes
# bitlen(N) - bitlen(df), so scores are exact int64 and oracle-comparable.
# score = tf * idf; top KEYWORDS_K terms per doc, ties broken on the token.
# Plan shape: ONE tokenize pass -> (doc, token) aggregate (map-side
# combinable) -> df via a window over that aggregate (partition by token —
# no dictionary join, no second pass) -> per-doc top-k window. N is the
# corpus document count, a column-pruned count-only scan, deliberately NOT
# derived from the token aggregate (that would re-plan the whole token
# subtree for one scalar).

_KEYWORDS_K = 3


@register(
    "text_tfidf_keywords",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM (
            SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM documents
        ) GROUP BY doc_id, tok
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT t.doc_id, t.tok,
               CAST(t.tf * (length(bin(n.n_docs))
                            - length(bin(COUNT(*) OVER (PARTITION BY t.tok))))
                    AS BIGINT) AS score
        FROM tf t CROSS JOIN n
    )
    SELECT doc_id, tok AS keyword, score, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT doc_id, tok, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, tok) AS rk
        FROM scored
    ) WHERE rk <= {_KEYWORDS_K}
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K TF-IDF keywords per document in exact integer arithmetic; see
    the section comment."""
    from pyspark.sql import Window as W

    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    n = d.agg(F.count("*").alias("n_docs"))
    w_tok = W.partitionBy("tok")
    scored = tf.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "tok",
        (
            F.col("tf")
            * (
                F.length(F.bin(F.col("n_docs")))
                - F.length(F.bin(F.count("*").over(w_tok)))
            )
        )
        .cast("long")
        .alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _KEYWORDS_K)
        .select("doc_id", F.col("tok").alias("keyword"), "score", "rk")
    )


# --------------------------------------------------- boilerplate dictionary
# CCNet-style corpus boilerplate detection, adapted to span units: the
# repeated-content DICTIONARY itself — every 3-gram span that occurs in at
# least two distinct documents, with its document frequency and total
# occurrence count. ``dedup_duplicate_passages`` answers "how boilerplate is
# each document"; this answers "WHAT is the boilerplate" (the list you review
# and then strip at ingest).
#
# Scale shape: one tokenize pass, explode to spans, then the two-level
# aggregate — groupBy(span, doc) first, groupBy(span) second — so document
# frequency needs no count_distinct Expand and both aggregations combine
# map-side. The shuffle key is the span text here (output wants the text);
# at 100 TB shuffle the 60-bit span hash instead and join the text back for
# only the surviving (df >= threshold) rows.

_BOILERPLATE_MIN_DOCS = 2


@register(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH tokarr AS (
        SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    spans AS (
        SELECT doc_id,
               -- indexed, not toks[i:i+2]: slice-in-comprehension is
               -- O(offset) per element in DuckDB -> quadratic on long docs
               unnest([concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])
                       for i in generate_series(1, len(toks) - 2)]) AS span
        FROM tokarr
    ),
    per_doc AS (
        SELECT span, doc_id, CAST(COUNT(*) AS BIGINT) AS n_in_doc
        FROM spans GROUP BY 1, 2
    )
    SELECT span, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_in_doc) AS BIGINT) AS n_occurrences
    FROM per_doc
    GROUP BY span
    HAVING COUNT(*) >= {_BOILERPLATE_MIN_DOCS}
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus boilerplate dictionary: 3-gram spans occurring in >=
    {_BOILERPLATE_MIN_DOCS} distinct documents, with document frequency and
    total occurrences — see the section comment for the two-level aggregate
    scale shape."""
    from polars_ad_etl_spark.operators.dedup import _shingles_df

    spans = _shingles_df(spark, sf_dir).select(
        "doc_id", F.col("sh").alias("span")
    )
    per_doc = spans.groupBy("span", "doc_id").agg(
        F.count("*").alias("n_in_doc")
    )
    return (
        per_doc.groupBy("span")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_in_doc").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= _BOILERPLATE_MIN_DOCS)
    )


# ------------------------------------------------------- BPE merge training
# The BPE trainer's actual loop (Sennrich et al. 2016), not just one round
# of pair stats (`text_bpe_merge_candidates`): N_BPE_MERGES unrolled
# iterations of count-pairs -> pick argmax -> merge, producing the ranked
# merge table a tokenizer ships. Same oracle strategy as integer Lloyd /
# fixed-point PageRank: a fixed iteration count and deterministic tie-break
# (freq DESC, left, right) make the result a pure function of the corpus,
# so DuckDB replays the identical unrolled program.
#
# The merge step runs as a plain string replace over a double-space-joined
# symbol sequence: '  ' never occurs inside a symbol, and replace() is
# left-to-right non-overlapping in BOTH engines — exactly BPE's greedy
# merge semantics (verified: 'a  a  a  a' -> 'aa  aa').
#
# Scale shape: per iteration, one explode+sum over (word-type, freq) — the
# WORD TYPE table (vocabulary-sized, not corpus-sized; the classic BPE
# trainer optimization) — plus a 1-row argmax broadcast back. At 100 TB the
# word-type aggregate is the only big shuffle and it happens once.
N_BPE_MERGES = 3

_CHSEQ = "array_join(split(w, ''), '  ')"
# split(seq) is LET-BOUND via the single-element-transform trick: written
# inline it gets re-evaluated once per PAIR element (Catalyst inlines the
# expression into the lambda), which is O(n²) in symbols — a single
# 200k-char word (textfuzz) ran >8 minutes; bound, the split runs once
# per row.
_PAIRS_OF_SEQ = """
    transform(array(split(seq, '  ')), t ->
        CASE WHEN size(t) >= 2 THEN
            transform(sequence(0, size(t) - 2),
                      i -> struct(t[i] AS l, t[i+1] AS r))
        ELSE array() END)[0]
"""


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def _bpe_top_pair(seqs: DataFrame) -> DataFrame:
    pairs = seqs.select(
        F.explode(F.expr(_PAIRS_OF_SEQ)).alias("p"), "freq"
    ).select("p.l", "p.r", "freq")
    stats = pairs.groupBy("l", "r").agg(F.sum("freq").alias("pair_freq"))
    return stats.orderBy(F.desc("pair_freq"), "l", "r").limit(1)


def _bpe_oracle() -> str:
    chseq = "array_to_string(string_split(w, ''), '  ')"
    pair_list = (
        "[{'l': t[i], 'r': t[i+1]} for i in generate_series(1, len(t) - 1)]"
    )
    parts = [f"""
    words AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest({tokens_sql('text')}) AS w FROM documents)
        GROUP BY w
    ),
    seq0 AS (SELECT freq, {chseq} AS seq FROM words)"""]
    for k in range(1, N_BPE_MERGES + 1):
        parts.append(f"""
    stats{k} AS (
        SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS pair_freq
        FROM (SELECT freq, unnest({pair_list}) AS p
              FROM (SELECT freq, string_split(seq, '  ') AS t FROM seq{k - 1}))
        GROUP BY 1, 2
    ),
    top{k} AS (
        SELECT l, r, pair_freq FROM stats{k}
        ORDER BY pair_freq DESC, l, r LIMIT 1
    ),
    seq{k} AS (
        SELECT freq,
               replace(seq, (SELECT l FROM top{k}) || '  ' ||
                            (SELECT r FROM top{k}),
                       (SELECT l || r FROM top{k})) AS seq
        FROM seq{k - 1}
    )""")
    tops = " UNION ALL ".join(
        f"SELECT {k} AS rank, l, r, pair_freq FROM top{k}"
        for k in range(1, N_BPE_MERGES + 1)
    )
    return "WITH " + ",".join(parts) + "\n    " + tops


@register("text_bpe_train_merges", oracle=_bpe_oracle())
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the first N_BPE_MERGES (3) BPE merges on the corpus: the ranked
    merge table (rank, left symbol, right symbol, weighted pair frequency).
    See the section comment for the unrolled-iteration oracle strategy and
    the word-type-table scale shape."""
    tops, _ = _bpe_merges(
        _bpe_words(spark, sf_dir).select("freq", F.expr(_CHSEQ).alias("seq"))
    )
    return functools.reduce(
        DataFrame.unionByName,
        (
            top.select(F.lit(k).cast("int").alias("rank"), "l", "r", "pair_freq")
            for k, top in enumerate(tops, 1)
        ),
    )


# ----------------------------------------------------- BPE corpus encoding
# The encode half of the tokenizer pipeline (train -> ENCODE -> budget):
# apply the corpus-trained merge table to the word-type table and report,
# per source, how many subword tokens the corpus costs — the number that
# drives per-source compute budgeting and mixture weights. One tokenizer
# for the whole mixture (the production shape), so merges come from the
# same corpus-global unrolled loop as `text_bpe_train_merges`
# (`_bpe_merges`, below).
#
# Degenerate-corpus guard (edge sweeps: a corpus whose words are all
# single symbols trains ZERO merges): an empty argmax must leave sequences
# UNCHANGED, not wipe them; both BPE queries apply merges this way. Spark:
# left broadcast-nested-loop join on TRUE + CASE (a crossJoin against an
# empty 1-row frame would delete every word); DuckDB: COALESCE around the
# NULL-pattern replace (replace with a NULL needle is NULL there).
#
# Scale shape: encoding joins the per-(source, word) table against the
# word-type encoding — both vocabulary-sized, not corpus-sized; the only
# corpus-sized work is the same tokenize+count every *_frequencies query
# runs.


def _bpe_encode_oracle() -> str:
    chseq = "array_to_string(string_split(w, ''), '  ')"
    pair_list = (
        "[{'l': t[i], 'r': t[i+1]} for i in generate_series(1, len(t) - 1)]"
    )
    parts = [f"""
    words AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest({tokens_sql('text')}) AS w FROM documents)
        GROUP BY w
    ),
    eseq0 AS (SELECT w, freq, {chseq} AS seq FROM words)"""]
    for k in range(1, N_BPE_MERGES + 1):
        parts.append(f"""
    estats{k} AS (
        SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS pair_freq
        FROM (SELECT freq, unnest({pair_list}) AS p
              FROM (SELECT freq, string_split(seq, '  ') AS t
                    FROM eseq{k - 1}))
        GROUP BY 1, 2
    ),
    etop{k} AS (
        SELECT l, r FROM estats{k}
        ORDER BY pair_freq DESC, l, r LIMIT 1
    ),
    eseq{k} AS (
        SELECT w, freq,
               COALESCE(replace(seq, (SELECT l FROM etop{k}) || '  ' ||
                                     (SELECT r FROM etop{k}),
                                (SELECT l || r FROM etop{k})), seq) AS seq
        FROM eseq{k - 1}
    )""")
    parts.append(f"""
    wtok AS (
        SELECT w, CAST(len(string_split(seq, '  ')) AS BIGINT) AS n_tok
        FROM eseq{N_BPE_MERGES}
    ),
    per_src AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT source, unnest({tokens_sql('text')}) AS w
              FROM documents)
        GROUP BY 1, 2
    )""")
    return ("WITH " + ",".join(parts) + """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_word_types,
           CAST(SUM(p.freq) AS BIGINT) AS n_words,
           CAST(SUM(p.freq * t.n_tok) AS BIGINT) AS n_subword_tokens,
           CAST((1000 * SUM(p.freq * t.n_tok)) // SUM(p.freq) AS BIGINT)
               AS fertility_permille
    FROM per_src p JOIN wtok t USING (w)
    GROUP BY source""")


def _bpe_apply_merge_guarded(seqs: DataFrame, top: DataFrame) -> DataFrame:
    """Apply one merge to every sequence, identity when ``top`` is empty."""
    t = top.select(F.col("l").alias("_tl"), F.col("r").alias("_tr"))
    keep = [c for c in seqs.columns if c != "seq"]
    return seqs.join(F.broadcast(t), F.lit(True), "left").select(
        *keep,
        F.when(F.col("_tl").isNull(), F.col("seq"))
        .otherwise(
            F.expr("replace(seq, _tl || '  ' || _tr, concat(_tl, _tr))")
        )
        .alias("seq"),
    )


def _bpe_merges(seqs: DataFrame) -> tuple[list[DataFrame], DataFrame]:
    """The merge loop both BPE queries run: N_BPE_MERGES rounds of
    checkpointed top pair, then that merge applied (identity once no pair
    is left). Returns the per-round top pairs and the merged sequences."""
    tops = []
    for _ in range(N_BPE_MERGES):
        top = _bpe_top_pair(seqs).localCheckpoint(eager=True)
        tops.append(top)
        seqs = _bpe_apply_merge_guarded(seqs, top)
    return tops, seqs


@register("text_bpe_encode_stats", oracle=_bpe_encode_oracle())
def text_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus tokenization cost under the corpus-trained BPE
    merges: word types, word count, subword-token count, and exact-integer
    fertility (subword tokens per thousand words). See the section comment
    for the degenerate-corpus guard and the vocabulary-sized scale shape."""
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    seqs = _bpe_words(spark, sf_dir).select(
        "w", "freq", F.expr(_CHSEQ).alias("seq")
    )
    _, seqs = _bpe_merges(seqs)
    wtok = seqs.select(
        "w", F.size(F.split("seq", "  ")).cast("long").alias("n_tok")
    )
    per_src = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("freq"))
    )
    return (
        per_src.join(wtok, "w")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_word_types"),
            F.sum("freq").alias("n_words"),
            F.sum(F.col("freq") * F.col("n_tok")).alias("n_subword_tokens"),
            F.expr("(1000 * sum(freq * n_tok)) div sum(freq)").alias(
                "fertility_permille"
            ),
        )
    )


# ------------------------------------------------- self-repetition cleanup
@register(
    "text_collapse_repeats",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    kept AS (
        SELECT doc_id, toks,
               [toks[i] for i in generate_series(1, len(toks))
                if i = 1 OR toks[i] != toks[i - 1]] AS keep
        FROM t
    )
    SELECT doc_id,
           -- an EMPTY document cleans to '' (DuckDB's array_to_string([])
           -- is NULL where Spark's array_join([]) is ''), but a NULL
           -- document stays NULL — the CASE keeps the two distinct
           CASE WHEN keep IS NULL THEN NULL
                ELSE COALESCE(array_to_string(keep, ' '), '') END
               AS cleaned_text,
           CAST(len(toks) - len(keep) AS BIGINT) AS n_removed
    FROM kept
    """,
)
def text_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition cleanup: collapse consecutive duplicate
    tokens (the stutter artifact of scraped/OCR text) and report how many
    were dropped — a pure projection over higher-order array functions,
    no shuffle at all. The generation-side cousin of the corpus-level
    dedup family."""
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    t = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    kept = t.select(
        "doc_id",
        "toks",
        F.expr(
            "filter(toks, (tok, i) -> i = 0 OR toks[i - 1] != tok)"
        ).alias("keep"),
    )
    return kept.select(
        "doc_id",
        F.array_join("keep", " ").alias("cleaned_text"),
        (F.size("toks") - F.size("keep")).cast("long").alias("n_removed"),
    )


# ------------------------------------------------- char n-gram LM table
# The training table behind real language-ID models (fastText-style char
# n-grams): top character trigrams per language with counts. Window ranks
# run over the (lang, trigram) AGGREGATE partitioned by lang — bounded per
# partition, scale-safe.
_CHAR_NGRAM_K = 20


@register(
    "text_char_trigram_table",
    oracle=f"""
    WITH grams AS (
        -- per-codepoint split once, O(1) indexed windows: substring with a
        -- variable position walks from byte 0 in BOTH engines (O(n²) per
        -- doc; a 200 KB textfuzz doc timed out the sweep in the substring
        -- form)
        SELECT lang,
               unnest([cs[i] || cs[i+1] || cs[i+2]
                       for i in generate_series(1, len(cs) - 2)]) AS g
        FROM (SELECT lang, string_split(text, '') AS cs FROM documents)
    ),
    counts AS (
        SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS n
        FROM grams GROUP BY 1, 2
    ),
    ranked AS (
        SELECT lang, g, n,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY n DESC, g) AS rnk
        FROM counts
    )
    SELECT lang, g AS trigram, n, rnk
    FROM ranked WHERE rnk <= {_CHAR_NGRAM_K}
    """,
)
def text_char_trigram_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-{_CHAR_NGRAM_K} character trigrams — the feature
    table a char-n-gram language-ID model trains on. One explode + one
    map-side-combinable count; the ranking window partitions by lang over
    the aggregate."""
    from pyspark.sql import Window as W

    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    # Split to codepoints ONCE (let-bound — see _SHINGLES_SPARK for the
    # inlining trap) and window by O(1) element access: substring(text, i, 3)
    # re-walks UTF-8 from position 0 per i, turning the gram scan O(n²)
    # (a 200 KB doc timed out the textfuzz sweep in that form). The size
    # guard also fixes a latent edge: sequence(1, 0) is DESCENDING in
    # Spark, so a 2-char doc used to emit two spurious bigram rows where
    # the oracle's generate_series(1, 0) emits none.
    grams = d.select(
        "lang",
        F.explode(
            F.expr(
                "transform(array(slice(split(text, ''), 1, length(text))),"
                " cs -> CASE WHEN size(cs) >= 3 THEN"
                "   transform(sequence(1, size(cs) - 2),"
                "     i -> concat(cs[i-1], cs[i], cs[i+1]))"
                " ELSE array() END)[0]"
            )
        ).alias("g"),
    )
    counts = grams.groupBy("lang", "g").agg(F.count("*").alias("n"))
    w = W.partitionBy("lang").orderBy(F.desc("n"), "g")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _CHAR_NGRAM_K)
        .select("lang", F.col("g").alias("trigram"), "n", "rnk")
    )


# ------------------------------------------------- keyword in context
# The concordance (KWIC) view corpus linguists and data auditors read:
# every occurrence of a term with its +-2-token context window. Pure
# higher-order array work (positions via filtered transform, context via
# bounded slices) — no shuffle until the output itself.
_KWIC_TERM = "spark"
_KWIC_CTX = 2


@register(
    "text_kwic_concordance",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    hits AS (
        SELECT doc_id, toks,
               unnest([i for i in generate_series(1, len(toks))
                       if toks[i] = '{_KWIC_TERM}']) AS pos
        FROM t
    )
    SELECT doc_id, CAST(pos - 1 AS BIGINT) AS pos,
           COALESCE(array_to_string(
               toks[GREATEST(pos - {_KWIC_CTX}, 1) : pos - 1], ' '), '')
               AS left_ctx,
           COALESCE(array_to_string(toks[pos + 1 : pos + {_KWIC_CTX}], ' '),
                    '') AS right_ctx
    FROM hits
    """,
)
def text_kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every occurrence of '{_KWIC_TERM}' with its ±{_KWIC_CTX}-token
    context — the audit/concordance view (0-based position to match the
    engine's array conventions; the oracle re-bases DuckDB's 1-based
    indices)."""
    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    t = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    hits = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(
                f"filter(transform(toks, (x, i) -> IF(x = '{_KWIC_TERM}',"
                " i, -1)), p -> p >= 0)"
            )
        ).alias("pos"),
    )
    return hits.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.array_join(
            F.expr(
                f"slice(toks, greatest(pos - {_KWIC_CTX} + 1, 1),"
                f" least(pos, {_KWIC_CTX}))"
            ),
            " ",
        ).alias("left_ctx"),
        F.array_join(
            F.expr(f"slice(toks, pos + 2, {_KWIC_CTX})"), " "
        ).alias("right_ctx"),
    )


# ------------------------------------------------- vocabulary growth curve
@register(
    "text_vocab_growth_by_source",
    oracle=f"""
    WITH first_seen AS (
        SELECT source, tok, MIN(doc_id) AS first_doc
        FROM (
            SELECT source, doc_id, unnest({tokens_sql('text')}) AS tok
            FROM documents
        )
        GROUP BY source, tok
    ),
    new_per_doc AS (
        SELECT source, first_doc AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS new_tokens
        FROM first_seen GROUP BY 1, 2
    )
    SELECT source, doc_id, new_tokens,
           CAST(SUM(new_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
    FROM new_per_doc
    """,
)
def text_vocab_growth_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth per ingest source: how many NEW token
    types each document contributes (first-seen aggregation on
    (source, token) — the same scale-safe first-occurrence pattern as
    cumulative distinct users) and the running vocabulary size. The
    cumulative window PARTITIONS BY source over the per-doc aggregate —
    parallel across sources, never a global sort. The curve's flattening
    point is the dedup/quality signal (a source whose vocabulary keeps
    growing linearly is noisy or adversarial)."""
    from pyspark.sql import Window as W

    d = read_star_parquet(spark, f"{sf_dir}/documents.parquet")
    toks = d.select(
        "source", "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    first_seen = toks.groupBy("source", "tok").agg(
        F.min("doc_id").alias("first_doc")
    )
    new_per_doc = first_seen.groupBy(
        "source", F.col("first_doc").alias("doc_id")
    ).agg(F.count("*").alias("new_tokens"))
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return new_per_doc.select(
        "source",
        "doc_id",
        "new_tokens",
        F.sum("new_tokens").over(w).alias("vocab_size"),
    )


@register(
    "text_lang_id_confusion",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, text, {tokens_sql('text')} AS toks FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               regexp_matches(text, '{_CJK_DUCK}') AS has_cjk,
               len(list_filter(toks, x -> x IN {_in_list_sql(LANG_MARKERS['en'])})) AS s_en,
               len(list_filter(toks, x -> x IN {_in_list_sql(LANG_MARKERS['de'])})) AS s_de,
               len(list_filter(toks, x -> x IN {_in_list_sql(LANG_MARKERS['fr'])})) AS s_fr,
               len(list_filter(toks, x -> x IN {_in_list_sql(LANG_MARKERS['es'])})) AS s_es
        FROM t
    ),
    pred AS (
        SELECT lang AS actual,
               CASE WHEN has_cjk THEN 'zh'
                    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                    WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                    WHEN s_fr >= s_es THEN 'fr'
                    ELSE 'es' END AS predicted
        FROM scored
    ), cm AS (
        SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    ), row_tot AS (
        SELECT actual, CAST(SUM(n) AS BIGINT) AS rt FROM cm GROUP BY 1
    )
    SELECT cm.actual, cm.predicted, cm.n,
           CAST((1000 * cm.n) // rt AS BIGINT) AS row_share_permille
    FROM cm JOIN row_tot USING (actual)
    ORDER BY actual, predicted
    """,
)
def text_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the [[text_lang_id]] classifier against the
    gold ``lang`` label, each cell with its exact permille share of the
    actual-language row — the evaluation every heuristic classifier ships
    with (the diagonal is per-language recall). Reuses the verified
    scoring projection; two stacked aggregates over the ≤|langs|² cells."""
    preds = text_lang_id(spark, sf_dir).select(
        F.col("lang").alias("actual"), "predicted"
    )
    cm = preds.groupBy("actual", "predicted").agg(F.count("*").alias("n"))
    rt = cm.groupBy("actual").agg(F.sum("n").alias("rt"))
    return (
        cm.join(F.broadcast(rt), "actual")
        .select(
            "actual",
            "predicted",
            "n",
            F.expr("(1000 * n) div rt").alias("row_share_permille"),
        )
        .orderBy("actual", "predicted")
    )
