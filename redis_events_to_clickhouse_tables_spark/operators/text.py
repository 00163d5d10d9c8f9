"""Text-analysis operators over ``documents`` (north-star additions).

Language-ID, quality scoring, token stats, and fingerprinting for an
LLM training-data pipeline. All expressions are JVM-side higher-order
functions (``split`` / ``filter`` / ``transform`` / ``aggregate``) —
no Python UDFs in the hot path, so at 100 TB these run inside
whole-stage codegen with the text column streamed off parquet.

Tokenization contract (shared with the DuckDB oracle): split on a
single space. The synthetic corpus is space-delimited; a production
deployment would swap in a regex tokenizer behind the same API.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import DUCKDB_MD5_LONG, md5_long
from ..functions.ranks import (
    bottomk_per_group,
    global_rank_desc,
    topk_by_value_per_group,
)
from ..registry import query
from ..session import tune
from ..sources.tables import fanout, table

# tiny per-language stopword lists for the n-gram/stopword heuristic
# language-ID (public-knowledge word lists, not tied to the corpus)
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "la", "los", "y", "es"),
}
_STOPWORDS = _LANG_MARKERS["en"]


def _toks() -> Column:
    return F.split(F.col("text"), " ")


def _sql_in(words: tuple[str, ...]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(LENGTH(text) AS INTEGER) AS n_chars,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokenizer + length statistics."""
    tune(spark)
    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(_toks())
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n_tokens
        ).alias("avg_token_len"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '),
                                x -> x IN {_sql_in(_STOPWORDS)})) AS INTEGER)
             AS n_stopwords,
           CAST(len(list_filter(string_split(text, ' '),
                                x -> x IN {_sql_in(_STOPWORDS)})) AS DOUBLE)
             / len(string_split(text, ' ')) AS stopword_ratio,
           CASE WHEN LENGTH(text) BETWEEN 100 AND 400
                 AND CAST(len(list_filter(string_split(text, ' '),
                                          x -> x IN {_sql_in(_STOPWORDS)})) AS DOUBLE)
                     / len(string_split(text, ' ')) > 0.02
                THEN 'keep' ELSE 'flag' END AS quality_bucket
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length window + stopword-ratio floor.

    The standard cheap pre-filter in LLM data pipelines (C4-style
    heuristics): documents outside a length band or with too few
    function words get flagged for removal.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(_toks(), lambda x: F.array_contains(stop_arr, x)))
    ratio = n_stop.cast("double") / F.size(_toks())
    return d.select(
        "doc_id",
        n_stop.alias("n_stopwords"),
        ratio.alias("stopword_ratio"),
        F.when(
            F.length("text").between(100, 400) & (ratio > 0.02), "keep"
        )
        .otherwise("flag")
        .alias("quality_bucket"),
    )


def _lang_score_sql(words: tuple[str, ...]) -> str:
    return (
        f"CAST(len(list_filter(string_split(text, ' '), x -> x IN {_sql_in(words)}))"
        " AS INTEGER)"
    )


@query(
    "text_lang_guess",
    oracle=f"""
    SELECT doc_id, lang,
           {_lang_score_sql(_LANG_MARKERS["en"])} AS score_en,
           {_lang_score_sql(_LANG_MARKERS["de"])} AS score_de,
           {_lang_score_sql(_LANG_MARKERS["fr"])} AS score_fr,
           {_lang_score_sql(_LANG_MARKERS["es"])} AS score_es,
           CASE
             WHEN {_lang_score_sql(_LANG_MARKERS["en"])} >= {_lang_score_sql(_LANG_MARKERS["de"])}
              AND {_lang_score_sql(_LANG_MARKERS["en"])} >= {_lang_score_sql(_LANG_MARKERS["fr"])}
              AND {_lang_score_sql(_LANG_MARKERS["en"])} >= {_lang_score_sql(_LANG_MARKERS["es"])}
               THEN 'en'
             WHEN {_lang_score_sql(_LANG_MARKERS["de"])} >= {_lang_score_sql(_LANG_MARKERS["fr"])}
              AND {_lang_score_sql(_LANG_MARKERS["de"])} >= {_lang_score_sql(_LANG_MARKERS["es"])}
               THEN 'de'
             WHEN {_lang_score_sql(_LANG_MARKERS["fr"])} >= {_lang_score_sql(_LANG_MARKERS["es"])}
               THEN 'fr'
             ELSE 'es'
           END AS lang_guess
    FROM documents
    """,
)
def text_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID with a deterministic argmax tiebreak
    (priority order en > de > fr > es on equal scores)."""
    tune(spark)
    d = table(spark, sf_dir, "documents")

    def score(words: tuple[str, ...]) -> Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(_toks(), lambda x: F.array_contains(arr, x)))

    s_en, s_de, s_fr, s_es = (score(_LANG_MARKERS[k]) for k in ("en", "de", "fr", "es"))
    guess = (
        F.when((s_en >= s_de) & (s_en >= s_fr) & (s_en >= s_es), "en")
        .when((s_de >= s_fr) & (s_de >= s_es), "de")
        .when(s_fr >= s_es, "fr")
        .otherwise("es")
    )
    return d.select(
        "doc_id",
        "lang",
        s_en.alias("score_en"),
        s_de.alias("score_de"),
        s_fr.alias("score_fr"),
        s_es.alias("score_es"),
        guess.alias("lang_guess"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {DUCKDB_MD5_LONG("text")} AS full_fp,
           {DUCKDB_MD5_LONG("array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')")}
             AS head_fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full-text hash + head-shingle hash.

    The head fingerprint (first 8 tokens) is the cheap prefix-dup
    detector used before full near-dup passes.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        md5_long(F.col("text")).alias("full_fp"),
        md5_long(F.array_join(F.slice(_toks(), 1, 8), " ")).alias("head_fp"),
    )


def _tf_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return tf.join(df_, "tok").crossJoin(F.broadcast(n))


@query(
    "text_tf_idf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.tok, tf.tf, df.df, n.n_docs
    FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    """,
)
def text_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF pipeline, oracle-checked on its exact integer statistics
    (tf, df, corpus size): explode -> tf -> df -> join.

    The corpus size is a broadcast 1-row aggregate; the tf<->df join
    shuffles on token (bounded vocabulary). The weighted scores are in
    ``text_tf_idf_scores``.
    """
    tune(spark)
    return _tf_df(spark, sf_dir).select("doc_id", "tok", "tf", "df", "n_docs")


@query(
    "text_tf_idf_scores",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.tok, tf.tf,
             CAST(FLOOR(log2(CAST(n.n_docs AS DOUBLE)) * 10000) AS BIGINT)
             - CAST(FLOOR(log2(CAST(df.df AS DOUBLE)) * 10000) AS BIGINT)
               AS idf_fp
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    )
    SELECT doc_id, tok,
           tf * idf_fp AS tf_idf_fp,
           CAST(tf * idf_fp AS DOUBLE) / 10000.0
             * 0.6931471805599453 AS tf_idf
    FROM w
    """,
)
def text_tf_idf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scores under the quantize-the-model doctrine: raw
    ``tf*ln(N/df)`` needs a per-row ``ln`` whose last ulp differs
    across engines, so instead the IDF weight is fixed-point —
    ``idf_fp = floor(log2(N)*1e4) - floor(log2(df)*1e4)`` — making
    ``tf * idf_fp`` exact int64 and the double score one shared IEEE
    expression (``fp/1e4 * ln(2)``) both engines evaluate
    identically. Same pattern as textstats' entropy/MI family.

    Why 1e4, not 1e6 (ADVICE r7): floor-quantization is only engine-
    independent when every ``log2(x)*scale`` sits farther from an
    integer than the two engines' possible log2 disagreement. At 1e6
    the margin floor across x<=2^24 is 3.7e-9 — INSIDE the ~5e-9
    few-ulp error band, so a libm difference could flip a floor. At
    1e4 the exhaustive minimum margin over all 2<=x<=2^24 (excluding
    exact powers of two, where floor is exact) is 2.1e-7 — 493x an
    8-ulp error budget — so the floor provably cannot flip for any
    df/corpus size up to 16.7M docs (tests/test_rows_only_invariants
    re-audits the margin). Quantization cost: |tf_idf - tf*ln(N/df)|
    <= tf * ln2 * 2e-4 — noise for a ranking weight.
    """
    tune(spark)
    tfd = _tf_df(spark, sf_dir)
    ilog = lambda c: F.floor(F.log2(c.cast("double")) * F.lit(1e4)).cast("long")
    w = tfd.select(
        "doc_id",
        "tok",
        "tf",
        (ilog(F.col("n_docs")) - ilog(F.col("df"))).alias("idf_fp"),
    )
    return w.select(
        "doc_id",
        "tok",
        (F.col("tf") * F.col("idf_fp")).alias("tf_idf_fp"),
        (
            (F.col("tf") * F.col("idf_fp")).cast("double")
            / F.lit(1e4)
            * F.lit(0.6931471805599453)
        ).alias("tf_idf"),
    )


_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@query(
    "text_bpe_token_counts",
    oracle=f"""
    SELECT t.tok, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM documents,
         UNNEST(regexp_extract_all(text, '{_BPE_RE}')) AS t(tok)
    GROUP BY t.tok
    """,
)
def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies under a BPE-ish regex tokenizer
    (letter runs | digit runs | single punctuation), the pre-tokenizer
    split BPE vocabularies train on — vs the whitespace tokens of
    ``text_token_stats``.

    The pattern sticks to explicit ASCII classes so Java regex (Spark)
    and RE2 (DuckDB) agree. Shuffle key is the token (bounded
    vocabulary); counts partial-aggregate map-side.
    """
    tune(spark)
    d = fanout(table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)
        ).alias("tok"),
    )
    return toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


_SPLIT_HASH = DUCKDB_MD5_LONG("'split:' || CAST(doc_id AS VARCHAR)")


@query(
    "sample_stratified_documents",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_SPLIT_HASH} % 100 <
          CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30 ELSE 10 END
    """,
)
def sample_stratified_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: keep 50% of English, 30% of
    German, 10% of everything else — membership decided by a salted
    content-independent hash of the id, so the sample is reproducible
    across runs, engines, and cluster sizes (``rand()`` is none of
    those). This is how corpus-construction pipelines downsample
    over-represented languages; pure filter, no shuffle.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string"), salt="split") % 100
    rate = (
        F.when(F.col("lang") == "en", 50)
        .when(F.col("lang") == "de", 30)
        .otherwise(10)
    )
    return d.filter(bucket < rate).select("doc_id", "lang")


@query(
    "sample_train_val_test",
    oracle=f"""
    SELECT CASE WHEN {_SPLIT_HASH} % 100 < 80 THEN 'train'
                WHEN {_SPLIT_HASH} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by salted id-hash: stable
    under re-runs and data growth (a document never changes split when
    new documents arrive — the property random assignment lacks).
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string"), salt="split") % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return d.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# BM25 relevance scoring (rational-idf variant)
#
# Classic BM25 needs ln(), which is not correctly-rounded IEEE and can
# differ in the last ulp between the JVM and DuckDB's libm — so the
# oracle-checked variant keeps Robertson's idf *ratio* un-logged:
#   idf_t = (N - df_t + 0.5) / (df_t + 0.5)
# Every remaining operation is +|-|*|/ on doubles (correctly rounded,
# bit-identical across engines when evaluated in the same order), so
# the score hash-matches exactly. Ranking order equals log-BM25's
# per-term monotonicity for single-term queries and tracks it closely
# for short queries — and a production deployment can re-apply ln()
# at the very end without touching the distributed plan.
_BM25_TERMS = ("spark", "join", "stream")
_BM25_K1 = "CAST(1.2 AS DOUBLE)"
_BM25_K1P1 = "CAST(2.2 AS DOUBLE)"
# 1 - b and b for b = 0.75 (both exactly representable)
_BM25_1MB = "CAST(0.25 AS DOUBLE)"
_BM25_B = "CAST(0.75 AS DOUBLE)"


def _bm25_term_sql(i: int) -> str:
    """The single-term BM25 score expression (SQL) for term index i —
    shared between the summed ``text_bm25_score`` oracle and the
    per-term ``eval_ndcg_bm25`` oracle so the two stay token-identical
    (the determinism contract is expression-tree equality)."""
    return (
        f"(((CAST(n - df{i} AS DOUBLE) + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5))"
        f" * ((CAST(tf{i} AS DOUBLE) * {_BM25_K1P1})"
        f" / (CAST(tf{i} AS DOUBLE) + {_BM25_K1} * ({_BM25_1MB}"
        f" + ({_BM25_B} * CAST(dl AS DOUBLE)) / avgdl))))"
    )


def _bm25_sql() -> str:
    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter(tk, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    terms = " + ".join(
        _bm25_term_sql(i) for i in range(len(_BM25_TERMS))
    )
    any_tf = " + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    tf AS (SELECT doc_id,
             {tf_cols},
             CAST(len(tk) AS BIGINT) AS dl
           FROM toks),
    g AS (SELECT COUNT(*) AS n,
             {df_cols},
             CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS avgdl
          FROM tf)
    SELECT doc_id, {terms} AS bm25
    FROM tf, g
    WHERE {any_tf} > 0
    """


def _eq_term(t: str):
    # arity-1 closure: a `lambda x, t=t` default-arg form has arity 2,
    # which F.filter interprets as the (element, index) variant
    return lambda x: x == F.lit(t)


def _bm25_term_col(i: int) -> Column:
    """Spark twin of :func:`_bm25_term_sql` — same expression tree."""
    k1, k1p1 = F.lit(1.2), F.lit(2.2)
    one_m_b, b = F.lit(0.25), F.lit(0.75)
    tf_d = F.col(f"tf{i}").cast("double")
    idf = ((F.col("n") - F.col(f"df{i}")).cast("double") + F.lit(0.5)) / (
        F.col(f"df{i}").cast("double") + F.lit(0.5)
    )
    norm = (tf_d * k1p1) / (
        tf_d + k1 * (one_m_b + (b * F.col("dl").cast("double")) / F.col("avgdl"))
    )
    return idf * norm


def _bm25_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The BM25 corpus stage as (per_doc, stats): per document its
    query-term frequencies and length (doc_id, tf0.., dl), and the
    1-row corpus aggregate (n, df0.., avgdl) that every BM25 query
    broadcasts back onto ``per_doc``."""
    d = table(spark, sf_dir, "documents")
    tk = _toks()
    per_doc = d.select(
        "doc_id",
        *[
            F.size(F.filter(tk, _eq_term(t))).cast("long").alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
        F.size(tk).cast("long").alias("dl"),
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
        (
            F.sum("dl").cast("long").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    return per_doc, stats


def _bm25_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, score, tf): one row per (document, query term)
    with tf > 0 and that term's BM25 score, over :func:`_bm25_frames`
    (stats broadcast, the corpus never shuffles)."""
    per_doc, stats = _bm25_frames(spark, sf_dir)
    rows = [
        F.struct(
            F.lit(t).alias("term"),
            _bm25_term_col(i).alias("score"),
            F.col(f"tf{i}").alias("tf"),
        )
        for i, t in enumerate(_BM25_TERMS)
    ]
    return (
        per_doc.join(F.broadcast(stats))
        .select("doc_id", F.explode(F.array(*rows)).alias("e"))
        .select("doc_id", "e.*")
        .filter(F.col("tf") > 0)
    )


@query("text_bm25_score", oracle=_bm25_sql())
def text_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every matching document for a fixed query.

    Two distributed passes over one scan shape: (1) a global 1-row
    aggregate of document frequencies and average length (map-side
    partials, ~24 bytes shuffled per partition), broadcast back; (2) a
    per-row score — tf via JVM higher-order ``filter`` inside codegen,
    no explode and no shuffle of the corpus. At 100 TB the corpus
    never repartitions; only the 1-row stats frame moves. The two
    frames come from :func:`_bm25_frames`.
    """
    tune(spark)
    per_doc, stats = _bm25_frames(spark, sf_dir)
    score = None
    for i in range(len(_BM25_TERMS)):
        term = _bm25_term_col(i)
        score = term if score is None else score + term
    any_tf = None
    for i in range(len(_BM25_TERMS)):
        c = F.col(f"tf{i}")
        any_tf = c if any_tf is None else any_tf + c
    return (
        per_doc.join(F.broadcast(stats))
        .filter(any_tf > 0)
        .select("doc_id", score.alias("bm25"))
    )


# ---------------------------------------------------------------------------
# NDCG@10 of the BM25 ranking — retrieval-quality evaluation
# ---------------------------------------------------------------------------

_NDCG_K = 10
# 1e6-quantized DCG rank discounts 1/log2(rank+1), rank 1..10. Python
# computes them ONCE at import; both engines consume the same integer
# literals, so no runtime log enters the score.
_NDCG_W6 = [round(1_000_000 / _math.log2(r + 1)) for r in range(1, _NDCG_K + 1)]
_NDCG_GAIN_SQL = (
    "CASE WHEN LEAST(tf, 3) = 1 THEN 1 WHEN LEAST(tf, 3) = 2 THEN 3"
    " ELSE 7 END"
)


def _ndcg_sql() -> str:
    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter(tk, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    long_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, '{t}' AS term, {_bm25_term_sql(i)} AS score,"
        f" tf{i} AS tf FROM tf, g WHERE tf{i} > 0"
        for i, t in enumerate(_BM25_TERMS)
    )
    w6 = " ".join(
        f"WHEN {r + 1} THEN {w}" for r, w in enumerate(_NDCG_W6)
    )
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    tf AS (SELECT doc_id,
             {tf_cols},
             CAST(len(tk) AS BIGINT) AS dl
           FROM toks),
    g AS (SELECT COUNT(*) AS n,
             {df_cols},
             CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS avgdl
          FROM tf),
    long AS (
      {long_rows}),
    ranked AS (
      SELECT term, tf,
             ROW_NUMBER() OVER (PARTITION BY term
                                ORDER BY score DESC, doc_id) AS rk
      FROM long),
    ideal AS (
      SELECT term, tf,
             ROW_NUMBER() OVER (PARTITION BY term
                                ORDER BY LEAST(tf, 3) DESC, doc_id) AS rk
      FROM long),
    dcg AS (
      SELECT term,
             CAST(SUM(({_NDCG_GAIN_SQL}) * CASE rk {w6} END) AS BIGINT)
               AS dcg_micro
      FROM ranked WHERE rk <= {_NDCG_K} GROUP BY term),
    idcg AS (
      SELECT term,
             CAST(SUM(({_NDCG_GAIN_SQL}) * CASE rk {w6} END) AS BIGINT)
               AS idcg_micro
      FROM ideal WHERE rk <= {_NDCG_K} GROUP BY term),
    cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_matching
            FROM long GROUP BY term)
    SELECT cnt.term, n_matching, dcg_micro, idcg_micro,
           CAST(dcg_micro AS DOUBLE) / idcg_micro AS ndcg_at_10
    FROM cnt JOIN dcg ON cnt.term = dcg.term
             JOIN idcg ON cnt.term = idcg.term
    ORDER BY cnt.term
    """


@query("eval_ndcg_bm25", oracle=_ndcg_sql())
def eval_ndcg_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking, one evaluation row per query
    term: each of the fixed query terms is treated as its own query,
    documents are ranked by that term's BM25 score, graded relevance
    is min(tf, 3) (the standard tf-capped label when no human
    judgments exist), and the normalized discounted cumulative gain
    compares the score-induced ranking against the ideal
    relevance-sorted one. The retrieval-quality dashboard an index
    build (``index_inverted_postings``, ``text_bm25_score``) is
    evaluated with.

    Scale: the corpus-wide stage is :func:`_bm25_long`, the two-pass
    broadcast shape ``text_bm25_score`` also builds on (no corpus
    shuffle); the per-term top-10 goes through
    :func:`topk_by_value_per_group`, so no single task sorts a whole
    term's match list. DCG discounts are import-time
    integer constants — the only runtime float is the bit-identical
    BM25 score itself; gains and discounted sums are exact int64.
    """
    tune(spark)
    long = _bm25_long(spark, sf_dir).persist()
    gain = F.when(F.least(F.col("tf"), F.lit(3)) == 1, 1).when(
        F.least(F.col("tf"), F.lit(3)) == 2, 3
    ).otherwise(7)
    w6 = F.element_at(
        F.array(*[F.lit(w) for w in _NDCG_W6]), F.col("rk").cast("int")
    )
    ranked = topk_by_value_per_group(
        long, ["term"], "score", ["doc_id"], _NDCG_K
    )
    rel_ranked = long.withColumn("rel", F.least(F.col("tf"), F.lit(3)))
    ideal = topk_by_value_per_group(
        rel_ranked, ["term"], "rel", ["doc_id"], _NDCG_K
    )
    dcg = ranked.groupBy("term").agg(
        F.sum(gain * w6).cast("long").alias("dcg_micro")
    )
    idcg = ideal.groupBy("term").agg(
        F.sum(gain * w6).cast("long").alias("idcg_micro")
    )
    cnt = long.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("n_matching")
    )
    out = (
        cnt.join(dcg, "term")
        .join(idcg, "term")
        .select(
            "term",
            "n_matching",
            "dcg_micro",
            "idcg_micro",
            (
                F.col("dcg_micro").cast("double") / F.col("idcg_micro")
            ).alias("ndcg_at_10"),
        )
        .orderBy("term")
    )
    return out


_CHUNK_LEN = 32
_CHUNK_STRIDE = 24


@query(
    "text_chunk_sliding",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
    SELECT doc_id,
           CAST(s AS INTEGER) AS chunk_start,
           array_to_string(list_slice(tk, s + 1, s + {_CHUNK_LEN}), ' ')
             AS chunk_text,
           CAST(len(list_slice(tk, s + 1, s + {_CHUNK_LEN})) AS INTEGER)
             AS n_chunk_tokens
    FROM toks, UNNEST(generate_series(0, len(tk) - 1, {_CHUNK_STRIDE}))
           AS u(s)
    """,
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: 32-token chunks at a 24-token stride
    (context-window packing / RAG-index prep). The start-offset list is
    generated per row (``sequence``) and exploded JVM-side; the slice +
    concat stay inside codegen. Output grows ~len/stride x input,
    partitioned exactly like the source scan — no shuffle at any scale.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    tk = _toks()
    exploded = d.select(
        "doc_id",
        tk.alias("tk"),
        F.explode(
            F.sequence(F.lit(0), F.size(tk) - 1, F.lit(_CHUNK_STRIDE))
        ).alias("chunk_start"),
    )
    sliced = F.slice(F.col("tk"), F.col("chunk_start") + 1, _CHUNK_LEN)
    return exploded.select(
        "doc_id",
        F.col("chunk_start").cast("int").alias("chunk_start"),
        F.concat_ws(" ", sliced).alias("chunk_text"),
        F.size(sliced).alias("n_chunk_tokens"),
    )


@query(
    "sample_temperature_by_lang",
    oracle=f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    mn AS (SELECT MIN(n) AS n_min FROM counts),
    rates AS (
      SELECT lang, n,
             SQRT(CAST((SELECT n_min FROM mn) AS DOUBLE) / CAST(n AS DOUBLE))
               AS rate
      FROM counts)
    SELECT d.lang, r.n AS n_docs,
           CAST(COUNT(CASE WHEN {DUCKDB_MD5_LONG("CAST(d.doc_id AS VARCHAR)", salt="temp")}
                     % 1000000 < r.rate * CAST(1000000 AS DOUBLE)
                     THEN 1 END) AS BIGINT) AS n_kept,
           r.rate
    FROM documents d JOIN rates r ON r.lang = d.lang
    GROUP BY d.lang, r.n, r.rate
    """,
)
def sample_temperature_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (T = 2): downsample each
    language at rate sqrt(n_min / n_lang), so the sampled corpus's
    language shares are proportional to sqrt of the raw shares — the
    standard multilingual-LLM recipe for damping high-resource
    dominance without upsampling. T is fixed at 2 so the rate is a
    single SQRT (correctly-rounded IEEE — bit-identical across
    engines); arbitrary temperatures would need pow(), which is not.

    Membership is a salted id-hash threshold: deterministic,
    replayable, and stable as the corpus grows. The per-lang rate
    table is a broadcast (|languages| rows); the corpus is scanned
    once with no shuffle of document rows — only the final per-lang
    count aggregation moves data.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    n_min = counts.agg(F.min("n").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "lang",
        "n",
        F.sqrt(F.col("n_min").cast("double") / F.col("n").cast("double")).alias(
            "rate"
        ),
    )
    bucket = md5_long(F.col("doc_id").cast("string"), salt="temp") % 1_000_000
    return (
        d.join(F.broadcast(rates), "lang")
        .groupBy("lang", F.col("n").alias("n_docs"), "rate")
        .agg(
            F.count(F.when(bucket < F.col("rate") * F.lit(1000000.0), 1))
            .cast("long")
            .alias("n_kept")
        )
        .select("lang", "n_docs", "n_kept", "rate")
    )


_UNK_MIN_DF = 3


@query(
    "text_unk_rare_tokens",
    oracle=f"""
    WITH pos_toks AS (
      SELECT doc_id, u.i AS pos, t[i] AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(range(1, len(t) + 1)) AS u(i)),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM pos_toks GROUP BY tok)
    SELECT p.doc_id,
           string_agg(CASE WHEN f.df >= {_UNK_MIN_DF} THEN p.tok
                           ELSE '<unk>' END, ' ' ORDER BY p.pos) AS redacted_text,
           CAST(COUNT(CASE WHEN f.df < {_UNK_MIN_DF} THEN 1 END) AS BIGINT)
             AS n_unk
    FROM pos_toks p JOIN df f ON f.tok = p.tok
    GROUP BY p.doc_id
    """,
)
def text_unk_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary thresholding: tokens appearing in fewer than 3
    documents are replaced with ``<unk>`` and the text is rebuilt in
    token order — the classic rare-token scrub before tokenizer
    training (and the same plumbing a PII scrubber uses, with the df
    table swapped for a denylist).

    The document-frequency table is vocabulary-sized, not corpus-
    sized; rebuilding shuffles (doc_id, pos, tok) triples once and
    reassembles each document with an order-pinned aggregate
    (sort_array over (pos, tok) structs), so output text is
    deterministic under any partitioning.
    """
    tune(spark)
    d = fanout(table(spark, sf_dir, "documents"))
    pos_toks = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    df_tab = pos_toks.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("df")
    )
    mapped = pos_toks.join(df_tab, "tok").select(
        "doc_id",
        "pos",
        F.when(F.col("df") >= _UNK_MIN_DF, F.col("tok"))
        .otherwise("<unk>")
        .alias("out_tok"),
        (F.col("df") < _UNK_MIN_DF).alias("is_unk"),
    )
    return (
        mapped.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "out_tok"))
                    ),
                    lambda s: s["out_tok"],
                ),
            ).alias("redacted_text"),
            F.count(F.when(F.col("is_unk"), 1)).cast("long").alias("n_unk"),
        )
    )


@query(
    "scalar_array_functions",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(tk)), ' ') AS vocab_sorted,
           CAST(len(list_distinct(tk)) AS INTEGER) AS n_distinct,
           tk[1] AS head_tok,
           tk[-1] AS tail_tok,
           array_to_string(list_reverse(list_slice(tk, 1, 5)), ' ')
             AS head5_reversed,
           CAST(list_contains(tk, 'spark') AS BOOLEAN) AS has_spark
    FROM t
    """,
)
def scalar_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/list function family sweep: sort, distinct, slice,
    reverse, element access (head/tail), membership — all JVM
    higher-order/collection functions inside whole-stage codegen (the
    list-manipulation layer every tokenized pipeline builds on)."""
    tune(spark)
    d = table(spark, sf_dir, "documents")
    tk = _toks()
    return d.select(
        "doc_id",
        F.concat_ws(" ", F.array_sort(F.array_distinct(tk))).alias("vocab_sorted"),
        F.size(F.array_distinct(tk)).alias("n_distinct"),
        F.element_at(tk, 1).alias("head_tok"),
        F.element_at(tk, -1).alias("tail_tok"),
        F.concat_ws(" ", F.reverse(F.slice(tk, 1, 5))).alias("head5_reversed"),
        F.array_contains(tk, "spark").alias("has_spark"),
    )


# -- PII scan / redaction ---------------------------------------------------
# Conservative patterns valid in BOTH Java regex (Spark) and RE2
# (DuckDB): no lookaround, no backreferences, explicit ASCII classes.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_IPV4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
_PII_PHONE = "[+][0-9]{1,2}-[0-9]{3}-[0-9]{4}"


def _pii_log_line() -> Column:
    """Deterministic contact-bearing log line derived from events rows.

    The synthetic corpus contains no real PII, so the scan operates on
    a composed column (uid + synthetic email/IP/phone) — the REGEX
    machinery (detect counts + redaction rewrite) is the operator under
    test; a production deployment points the same expressions at its
    raw text column.
    """
    uid = F.col("user_id").cast("string")
    return F.concat(
        F.lit("uid="), uid,
        F.lit(" mail=user"), uid, F.lit("@example.com"),
        F.lit(" ip=10."), (F.col("user_id") % 250 + 1).cast("string"),
        F.lit(".0."), (F.col("event_id") % 250 + 1).cast("string"),
        F.lit(" tel=+1-555-"),
        F.lpad((F.col("event_id") % 10000).cast("string"), 4, "0"),
        F.lit(" note="), F.col("props"),
    )


_PII_LOG_SQL = (
    "concat('uid=', CAST(user_id AS VARCHAR), "
    "' mail=user', CAST(user_id AS VARCHAR), '@example.com', "
    "' ip=10.', CAST(user_id % 250 + 1 AS VARCHAR), "
    "'.0.', CAST(event_id % 250 + 1 AS VARCHAR), "
    "' tel=+1-555-', lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0'), "
    "' note=', props)"
)


@query(
    "text_pii_scan",
    oracle=f"""
    WITH t AS (SELECT event_id, {_PII_LOG_SQL} AS log_line FROM events)
    SELECT event_id,
           CAST(len(regexp_extract_all(log_line, '{_PII_EMAIL}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(log_line, '{_PII_IPV4}')) AS INTEGER)
             AS n_ips,
           CAST(len(regexp_extract_all(log_line, '{_PII_PHONE}')) AS INTEGER)
             AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(log_line,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
    FROM t
    """,
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: per-row pattern counts (email, IPv4,
    phone) and a fully-redacted rewrite — the scrub pass every
    training-data pipeline runs before release.

    Scale: pure regexp_count/regexp_replace projections inside
    whole-stage codegen — map-only, no shuffle, no Python. Redaction
    order is email -> IP -> phone so earlier rewrites can't create or
    destroy later matches (the placeholder alphabet is disjoint from
    every pattern).
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    line = _pii_log_line()
    red = F.regexp_replace(line, _PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, _PII_IPV4, "<IP>")
    red = F.regexp_replace(red, _PII_PHONE, "<PHONE>")
    return e.select(
        "event_id",
        F.regexp_count(line, F.lit(_PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(line, F.lit(_PII_IPV4)).cast("int").alias("n_ips"),
        F.regexp_count(line, F.lit(_PII_PHONE)).cast("int").alias("n_phones"),
        red.alias("redacted"),
    )


# -- Gopher-style quality rules --------------------------------------------
# Published heuristic thresholds (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", public paper): word-count band, mean-word-length
# band, minimum alphabetic-word fraction, minimum stopword hits. The
# line-level rules (bullet/ellipsis line ratios) degenerate on this
# single-line corpus and are omitted.
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 50, 100_000
_GOPHER_MIN_MWL, _GOPHER_MAX_MWL = 3.0, 10.0
_GOPHER_MIN_ALPHA_FRAC = 0.8
_GOPHER_MIN_STOP_HITS = 2


@query(
    "quality_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS n_letters,
             CAST(len(list_filter(string_split(text, ' '),
                      x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
               AS n_alpha_words,
             CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN {_sql_in(_STOPWORDS)})) AS BIGINT)
               AS n_stop_hits
      FROM documents)
    SELECT doc_id, n_words,
           CAST(n_letters AS DOUBLE) / n_words AS mean_word_len,
           CAST(n_alpha_words AS DOUBLE) / n_words AS alpha_word_frac,
           n_stop_hits,
           CAST(n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
                AS INTEGER) AS rule_word_count,
           CAST(CAST(n_letters AS DOUBLE) / n_words
                  BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL}
                AS INTEGER) AS rule_mean_word_len,
           CAST(CAST(n_alpha_words AS DOUBLE) / n_words
                  >= {_GOPHER_MIN_ALPHA_FRAC} AS INTEGER) AS rule_alpha_words,
           CAST(n_stop_hits >= {_GOPHER_MIN_STOP_HITS} AS INTEGER)
             AS rule_stopwords,
           CAST(n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
                AND CAST(n_letters AS DOUBLE) / n_words
                      BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL}
                AND CAST(n_alpha_words AS DOUBLE) / n_words
                      >= {_GOPHER_MIN_ALPHA_FRAC}
                AND n_stop_hits >= {_GOPHER_MIN_STOP_HITS}
                AS INTEGER) AS keep
    FROM t
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality filter: per-doc word count,
    mean word length, alphabetic-word fraction, and stopword hits,
    each thresholded per the published rules, plus the AND of all four
    as the keep decision.

    Determinism: every ratio is one IEEE division of two exact integer
    aggregates, identical in both engines. Scale: map-only higher-order
    functions over the text column — no shuffle, no Python; at 100 TB
    this runs at parquet scan speed and the keep flag feeds the same
    downstream mask as curation_keep_mask.
    """
    tune(spark)
    return gopher_scores(table(spark, sf_dir, "documents")).withColumnRenamed(
        "keep_gopher", "keep"
    )


def gopher_scores(d: DataFrame) -> DataFrame:
    """The Gopher rule scorer as a pure DataFrame transform (the form
    the streaming curation log composes; keep column named
    ``keep_gopher`` so it can sit next to other scorers' verdicts)."""
    tk = _toks()
    n_words = F.size(tk).cast("long")
    n_letters = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("long")
    n_alpha = F.size(F.filter(tk, lambda x: x.rlike("[A-Za-z]"))).cast("long")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(tk, lambda x: F.array_contains(stop_arr, x))).cast("long")
    mwl = n_letters.cast("double") / n_words
    alpha_frac = n_alpha.cast("double") / n_words
    r_wc = n_words.between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    r_mwl = mwl.between(_GOPHER_MIN_MWL, _GOPHER_MAX_MWL)
    r_alpha = alpha_frac >= _GOPHER_MIN_ALPHA_FRAC
    r_stop = n_stop >= _GOPHER_MIN_STOP_HITS
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        n_stop.alias("n_stop_hits"),
        r_wc.cast("int").alias("rule_word_count"),
        r_mwl.cast("int").alias("rule_mean_word_len"),
        r_alpha.cast("int").alias("rule_alpha_words"),
        r_stop.cast("int").alias("rule_stopwords"),
        (r_wc & r_mwl & r_alpha & r_stop).cast("int").alias("keep_gopher"),
    )


# -- bigram language-model scoring -------------------------------------------
# The CCNet/KenLM-style perplexity filter re-expressed in an
# oracle-exact rational form: per-bigram "branching cost"
# C(w1)/C(w1 w2) (how many continuations w1 has relative to this one —
# 1 for a deterministic continuation, large for a surprising one),
# averaged per document. ln-based perplexity is float-divergent across
# engines (see text_tf_idf_scores), so each ratio is computed as an
# exact integer floor((C(w1) * PREC) / C(w1w2)); the sum of longs is
# associative and the single final division is IEEE-identical in both
# engines — same doctrine as text_bm25_score's rational idf.
_BIGRAM_PREC = 1_000_000  # 1e-6 ratio quantum


_BIGRAM_SQL = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                  FROM documents),
    big AS (SELECT doc_id, u.b[1] AS w1, u.b[2] AS w2
            FROM toks, UNNEST(list_zip(tk[1:len(tk)-1], tk[2:])) AS u(b))
"""

# Spark-side bigram formation stays inside the token ARRAY (adjacent
# pairs via a transform over positions, exploded) — NO per-document
# window: a posexplode + lead() formulation would shuffle the whole
# exploded token stream on doc_id, a full-corpus shuffle at 100 TB,
# where this is a pure map. Spark's `[]` subscript is 0-based (same
# convention as the 3-gram _SHINGLE_EXPR in operators/dedup.py).
_BIGRAM_EXPR = (
    "CASE WHEN size(t) >= 2 THEN"
    " transform(sequence(1, size(t) - 1),"
    "           i -> struct(t[i-1] AS w1, t[i] AS w2))"
    " ELSE array() END"
)


def _bigrams(d: DataFrame) -> DataFrame:
    """(doc_id, w1, w2): one row per adjacent token pair, map-only."""
    return (
        d.select("doc_id", F.split(F.col("text"), " ").alias("t"))
        .select("doc_id", F.explode(F.expr(_BIGRAM_EXPR)).alias("b"))
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )


@query(
    "text_bigram_stats",
    oracle=_BIGRAM_SQL
    + """
    SELECT w1, w2, COUNT(*) AS n_occurrences,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY w1) AS p_cond
    FROM big GROUP BY w1, w2
    """,
)
def text_bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram table: occurrence counts and conditional
    continuation probability P(w2|w1) — the statistics a bigram LM
    trains on. The conditional is one integer-over-integer division
    (count / window-sum of counts), IEEE-identical in both engines.

    Scale: bigram formation is a map-only array transform (see
    _BIGRAM_EXPR — no per-document window, no token-stream shuffle);
    the groupBy key space is the bigram vocabulary (bounded,
    zipf-concentrated), so the aggregate's map-side combine absorbs
    the corpus volume. The w1-partitioned window runs over the
    aggregated vocabulary table, not the corpus.
    """
    tune(spark)
    from pyspark.sql import Window

    counts = (
        _bigrams(fanout(table(spark, sf_dir, "documents")))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    w1 = Window.partitionBy("w1")
    return counts.select(
        "w1",
        "w2",
        "n_occurrences",
        (
            F.col("n_occurrences").cast("double")
            / F.sum("n_occurrences").over(w1)
        ).alias("p_cond"),
    )


@query(
    "quality_bigram_branching",
    oracle=_BIGRAM_SQL
    + f""",
    cb AS (SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY w1, w2),
    cu AS (SELECT w1, SUM(cb) AS cu FROM cb GROUP BY w1)
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM((cu.cu * {_BIGRAM_PREC}) // cb.cb) AS BIGINT) AS cost_fp,
           CAST(SUM((cu.cu * {_BIGRAM_PREC}) // cb.cb) AS DOUBLE)
             / (COUNT(*) * {_BIGRAM_PREC}) AS avg_branching
    FROM big b
    JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
    JOIN cu ON cu.w1 = b.w1
    GROUP BY b.doc_id
    """,
)
def quality_bigram_branching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram LM score (rational perplexity analog):
    average of C(w1)/C(w1 w2) over the document's bigrams. Documents
    full of corpus-typical transitions score near the corpus mean;
    documents of improbable transitions (the noise a perplexity filter
    removes) score high.

    Scale: bigram formation is map-only (see _BIGRAM_EXPR); two
    corpus-level aggregates on bigram/unigram keys (bounded
    vocabulary, map-side combined); one join of the document bigram
    stream against them (shuffle keyed on the bigram — zipf-hot keys
    are absorbed by the map-side combine of the FINAL per-doc
    aggregate, not buffered); and a per-doc integer sum.
    """
    tune(spark)

    big = _bigrams(fanout(table(spark, sf_dir, "documents")))
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = cb.groupBy("w1").agg(F.sum("cb").alias("cu"))
    cost = F.floor((F.col("cu") * _BIGRAM_PREC) / F.col("cb"))
    return (
        big.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(cost).alias("cost_fp"),
            (
                F.sum(cost).cast("double")
                / (F.count(F.lit(1)) * _BIGRAM_PREC)
            ).alias("avg_branching"),
        )
    )


# -- hashed linear quality classifier ---------------------------------------
# fastText-style scorer: a linear model over hashed bag-of-words
# features. Real deployments (CCNet's fastText quality filter, the
# LLaMA "looks-like-Wikipedia" classifier) ship a trained weight
# vector indexed by feature hash; here the weights derive
# deterministically from the same md5 mixer both engines share, so the
# oracle can reproduce the scores bit-for-bit. The *shape* is the
# production shape: per-token hash -> weight lookup folded into a
# per-document sum, one codegen'd pass, zero shuffles, no Python.
_CLF_BUCKETS = 2001  # weight w(tok) = (h % 2001) - 1000 in [-1000, 1000]


@query(
    "classifier_hashed_linear",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    scored AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             CAST(SUM({DUCKDB_MD5_LONG("tk[i]", salt="clf")} % {_CLF_BUCKETS} - 1000)
                  AS BIGINT) AS score_fp
      FROM t, UNNEST(range(1, len(tk) + 1)) AS u(i)
      GROUP BY doc_id, len(tk)
    )
    SELECT doc_id, n_tokens, score_fp,
           CAST(score_fp AS DOUBLE) / n_tokens AS mean_weight,
           score_fp > 0 AS keep
    FROM scored
    """,
)
def classifier_hashed_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear classifier (the fastText-filter
    shape): each token maps to a signed integer weight via a salted
    hash, the document score is the exact integer sum of its token
    weights, and the keep verdict is the sign of the score.

    Scale shape: `aggregate(transform(tokens, w), 0, +)` is one
    whole-stage-codegen expression per row — the classifier runs at
    parquet-scan speed with no shuffle, no UDF, and no weight-table
    join (weights are a pure function of the hash, exactly how a
    broadcast weight array would behave at 100 TB).
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    tk = _toks()
    w = lambda tok: md5_long(tok, salt="clf") % _CLF_BUCKETS - 1000
    score = F.aggregate(
        F.transform(tk, w), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    n = F.size(tk).cast("long")
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        score.alias("score_fp"),
        (score.cast("double") / n).alias("mean_weight"),
        (score > 0).alias("keep"),
    )


# inverted index: bound the stored posting-list head so a stop-word
# token (present in EVERY doc at 100 TB) still materializes a
# fixed-size row — full postings stay as (token, doc) rows, which is
# how a distributed index shards them anyway.
_POSTINGS_HEAD = 10


_POSTINGS_HASH = DUCKDB_MD5_LONG(
    "'postings:' || tok || ':' || CAST(doc_id AS VARCHAR)"
)


@query(
    "index_inverted_postings",
    oracle=f"""
    WITH td AS (
      SELECT DISTINCT ON (tok, doc_id) tok, doc_id, cnt FROM (
        SELECT t.tok AS tok, doc_id, COUNT(*) AS cnt
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
              FROM documents) t
        GROUP BY 1, 2
      )
    ),
    ranked AS (
      SELECT tok, doc_id, cnt,
             ROW_NUMBER() OVER (PARTITION BY tok
                                ORDER BY {_POSTINGS_HASH}, doc_id) AS rn
      FROM td
    )
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(cnt) AS BIGINT) AS tf_total,
           string_agg(CASE WHEN rn <= {_POSTINGS_HEAD}
                           THEN CAST(doc_id AS VARCHAR) END, ','
                      ORDER BY doc_id) AS postings_head
    FROM ranked
    GROUP BY tok
    """,
)
def index_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the retrieval side of a training-data
    pipeline): per token, document frequency, total term frequency,
    and a deterministic 10-posting uniform sample head (ascending
    doc_id) as a preview column.

    Scale shape: the posting stream is (token, doc, tf) rows — the
    representation a sharded index keeps, shuffled once on the token.
    The stored head is the bottom-10 postings by a salted md5 hash,
    selected via :func:`bottomk_per_group` — count-derived cutoff
    prefilter, then a window over the ~80 survivors per token — so a
    stop-word token present in a billion documents never streams its
    posting list through one window task (the previous doc_id-ordered
    window did exactly that for hot tokens) and never aggregates more
    than a <=10 element array. Hash order (not smallest-doc_id) is
    what makes the prefilter possible; a uniform sample is also the
    more useful preview.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    td = (
        d.select("doc_id", F.explode(_toks()).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = td.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("cnt").cast("long").alias("tf_total"),
    )
    hashed = td.withColumn(
        "h",
        md5_long(
            F.concat(
                F.lit("postings:"),
                F.col("tok"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ),
    )
    head = bottomk_per_group(
        hashed,
        ["tok"],
        "h",
        ["doc_id"],
        _POSTINGS_HEAD,
        counts=totals.select("tok", "df"),
    )
    heads = head.groupBy("tok").agg(
        F.concat_ws(
            ",",
            F.array_sort(F.collect_list("doc_id")).cast("array<string>"),
        ).alias("postings_head")
    )
    return totals.join(heads, "tok").select(
        "tok", "df", "tf_total", "postings_head"
    )


@query(
    "augment_token_dropout",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    pos AS (
      SELECT doc_id, i, tk[i] AS tok,
             {DUCKDB_MD5_LONG("CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR) || ':' || tk[i]", salt="aug")} % 10 AS gate
      FROM t, UNNEST(range(1, len(tk) + 1)) AS u(i)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (gate <> 0) AS BIGINT) AS n_kept,
           COALESCE(string_agg(tok, ' ' ORDER BY i) FILTER (gate <> 0), '')
             AS text_aug
    FROM pos GROUP BY doc_id
    """,
)
def augment_token_dropout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% token dropout — the text-augmentation pass a
    robustness-training pipeline applies, made reproducible: each
    token's keep/drop gate derives from a salted hash of
    (doc, position, token), so the same corpus always yields the same
    augmented view (and a different salt yields an independent one).

    Scale shape: one codegen'd higher-order filter per row (the gate
    is pure hash arithmetic, position-aware via the (x, i) lambda) —
    no shuffle, no UDF, no randomness source to coordinate across
    executors; the oracle reproduces the identical gates from the
    shared md5 mixer.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    tk = _toks()
    gate = lambda tok, i: (
        md5_long(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                (i + 1).cast("string"),  # 1-based, matching the oracle
                F.lit(":"),
                tok,
            ),
            salt="aug",
        )
        % 10
        != 0
    )
    kept = F.filter(tk, gate)
    return d.select(
        "doc_id",
        F.size(tk).cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("text_aug"),
    )


_VOCAB_K = 500


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT lang, t AS tok
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS t
            FROM documents)
      WHERE t <> ''),
    cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    vocab AS (
      SELECT tok FROM cnt
      QUALIFY row_number() OVER (ORDER BY c DESC, tok) <= {_VOCAB_K})
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_in_vocab,
           CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS coverage
    FROM toks LEFT JOIN vocab v ON toks.tok = v.tok
    GROUP BY lang ORDER BY lang
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage per language: the share of token
    occurrences a top-K corpus vocabulary explains — the number a
    tokenizer team watches when sizing a vocab (the complement is the
    corpus-level UNK rate a fixed vocab would inflict on each
    language).

    The frequency table is vocabulary-sized; its top-K cut uses the
    distributed exact ranking primitive (``global_rank_desc`` —
    range-bucketed, no global window), and the K surviving tokens
    broadcast back onto the token stream, so nothing corpus-sized is
    ever sorted or collected. Counts are exact integers; coverage is
    one IEEE division.
    """
    tune(spark)
    d = fanout(table(spark, sf_dir, "documents"))
    toks = (
        d.select("lang", F.explode(_toks()).alias("tok"))
        .filter(F.col("tok") != "")
    )
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    ranked, _ = global_rank_desc(cnt, "c", "tok")
    vocab = ranked.filter(F.col("r") <= _VOCAB_K).select(
        "tok", F.lit(1).alias("__hit")
    )
    j = toks.join(F.broadcast(vocab), "tok", "left")
    hits = F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            hits.cast("long").alias("n_in_vocab"),
            (hits.cast("double") / F.count(F.lit(1))).alias("coverage"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# exact-k uniform sample per group (distributed reservoir analog)
# --------------------------------------------------------------------

_RESERVOIR_K = 5
_RES_HASH = DUCKDB_MD5_LONG("'reservoir:' || CAST(doc_id AS VARCHAR)")


@query(
    "sample_bottomk_reservoir",
    oracle=f"""
    SELECT lang, doc_id, rk FROM (
      SELECT lang, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                  ORDER BY {_RES_HASH}, doc_id) AS INTEGER) AS rk
      FROM documents) t
    WHERE rk <= {_RESERVOIR_K}
    """,
)
def sample_bottomk_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k uniform random sample per group: the k documents per
    language with the smallest salted content-independent hash — the
    distributed, mergeable form of reservoir sampling (bottom-k by a
    uniform hash IS a uniform k-subset, and "k smallest" commutes with
    any partitioning, so partial samples from different machines or
    days merge exactly).

    The rate-based samplers above keep a *fraction*; pipelines also
    need an exact *count* — "give me exactly 5 eval docs per language,
    reproducibly". The naive plan is a window over partitionBy(lang),
    which at 100 TB serializes billions of rows per language through
    one task. Instead: (1) one map-side-combined count per group,
    (2) a per-group hash cutoff at C*k/n broadcast back (C=8 safety),
    so a codegen'd scan-stage filter keeps ~C*k rows per group,
    (3) the window ranks only those ~C*k survivors. A one-scalar probe
    checks every group still has >= min(k, n) survivors (undershoot
    probability ~exp(-k*(C-1)^2/2C) ~ 2e-7 per group); on the
    astronomically-rare miss the cutoff loop widens C 4x and retries,
    so the result equals the plain-window semantics EXACTLY — the
    DuckDB oracle is that plain window.

    60-bit md5 hash, doc_id tiebreak: deterministic across engines,
    runs, and cluster sizes. The cutoff machinery is the shared
    :func:`bottomk_per_group` primitive (also bounding the inverted
    index's posting heads).
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "lang",
        "doc_id",
        md5_long(F.col("doc_id").cast("string"), salt="reservoir").alias("h"),
    )
    return bottomk_per_group(
        base, ["lang"], "h", ["doc_id"], _RESERVOIR_K
    ).select("lang", "doc_id", F.col("rk").cast("int").alias("rk"))


_LONGEST_K = 3


@query(
    "sample_topk_longest_per_source",
    oracle=f"""
    SELECT source, doc_id, n_tokens, rk FROM (
      SELECT source, doc_id, n_tokens,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY n_tokens DESC, doc_id) AS INTEGER) AS rk
      FROM (SELECT source, doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents) t) r
    WHERE rk <= {_LONGEST_K}
    """,
)
def sample_topk_longest_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k per group by a VALUE ordering: the k longest
    documents (whitespace token count, doc_id tiebreak) per source
    domain — the curation shape "keep the N best per domain by some
    score".

    :func:`sample_bottomk_reservoir` prunes with an analytic cutoff
    that only exists because its hash is uniform; a data-dependent
    score has no such formula. This rides the round-6
    :func:`topk_by_value_per_group` primitive instead: one mergeable
    grouped sketch (count + percentile_approx at a power-of-two
    keep-fraction grid) picks a per-group score cutoff, a scan-stage
    filter keeps ~4k rows per group, the window ranks only those, and
    the bottomk-style 1-scalar probe widens-and-retries on sketch
    rank error, so the result EXACTLY equals the plain-window
    semantics the DuckDB oracle expresses. No group ever streams
    through a single task, however skewed the per-source doc counts.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    return topk_by_value_per_group(
        base, ["source"], "n_tokens", ["doc_id"], _LONGEST_K
    ).select("source", "doc_id", "n_tokens", F.col("rk").cast("int").alias("rk"))


# --------------------------------------------------------------------
# Top-3 keywords per document (quantized-log TF-IDF ranking)
# --------------------------------------------------------------------

_KW_K = 3

_SQL_KEYWORDS = f"""
    WITH td AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY doc_id, tok),
    dfreq AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM td GROUP BY tok),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT td.doc_id, td.tok,
             td.tf * (CAST(FLOOR(log2(CAST(n_docs AS DOUBLE)) * 10000)
                           AS BIGINT)
                      - CAST(FLOOR(log2(CAST(df AS DOUBLE)) * 10000)
                             AS BIGINT)) AS s6
      FROM td JOIN dfreq USING (tok) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, tok, s6,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY s6 DESC, tok) AS rk
      FROM scored)
    SELECT doc_id, rk, tok,
           CAST(s6 AS DOUBLE) / 10000 AS tfidf_bits
    FROM ranked WHERE rk <= {_KW_K}
"""


@query("text_keywords_topk", oracle=_SQL_KEYWORDS)
def text_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per document by TF-IDF — the snippet/tagging
    primitive a retrieval pipeline derives from the same counts as
    ``text_tf_idf``. Ranking is fully deterministic: the score is
    tf * (floor(log2(N)*1e4) - floor(log2(df)*1e4)) — EXACT integer
    arithmetic with each log quantized on an INTEGER argument
    (model-level, quantize-the-model doctrine) — with token text as
    the tiebreak, so cross-engine order ties can't flap the way raw
    float tf*ln(N/df) ordering would. r8 (ADVICE r7): the old
    floor(log2(N/df)*1e6) quantized a RATIONAL at a scale where a
    few-ulp libm disagreement can flip the floor; integer-only args
    at 1e4 are exhaustively margin-audited safe for all x <= 2^24
    (see text_tf_idf_scores).

    Scale: per-doc windows partition on doc_id with partitions
    bounded by a document's vocabulary — never a corpus-wide or
    hot-group sort.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    td = (
        d.select("doc_id", F.explode(_toks()).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = td.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        td.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (
                F.col("tf")
                * (
                    F.floor(F.log2(F.col("n_docs").cast("double")) * 1e4).cast("long")
                    - F.floor(F.log2(F.col("df").cast("double")) * 1e4).cast("long")
                )
            ).alias("s6"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("s6"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KW_K)
        .select(
            "doc_id",
            "rk",
            "tok",
            (F.col("s6").cast("double") / F.lit(1e4)).alias("tfidf_bits"),
        )
    )


_SQL_LANG_CONFUSION = f"""
    WITH g AS (
      SELECT lang,
             CASE
               WHEN {_lang_score_sql(_LANG_MARKERS["en"])} >= {_lang_score_sql(_LANG_MARKERS["de"])}
                AND {_lang_score_sql(_LANG_MARKERS["en"])} >= {_lang_score_sql(_LANG_MARKERS["fr"])}
                AND {_lang_score_sql(_LANG_MARKERS["en"])} >= {_lang_score_sql(_LANG_MARKERS["es"])}
                 THEN 'en'
               WHEN {_lang_score_sql(_LANG_MARKERS["de"])} >= {_lang_score_sql(_LANG_MARKERS["fr"])}
                AND {_lang_score_sql(_LANG_MARKERS["de"])} >= {_lang_score_sql(_LANG_MARKERS["es"])}
                 THEN 'de'
               WHEN {_lang_score_sql(_LANG_MARKERS["fr"])} >= {_lang_score_sql(_LANG_MARKERS["es"])}
                 THEN 'fr'
               ELSE 'es'
             END AS lang_guess
      FROM documents),
    cells AS (
      SELECT lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS n
      FROM g GROUP BY lang, lang_guess),
    act AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_actual
            FROM cells GROUP BY lang),
    pred AS (SELECT lang_guess, CAST(SUM(n) AS BIGINT) AS n_pred
             FROM cells GROUP BY lang_guess)
    SELECT c.lang, c.lang_guess, c.n,
           CAST(c.n AS DOUBLE) / CAST(a.n_actual AS DOUBLE) AS recall,
           CAST(c.n AS DOUBLE) / CAST(p.n_pred AS DOUBLE) AS precision
    FROM cells c JOIN act a USING (lang) JOIN pred p USING (lang_guess)
    ORDER BY c.lang, c.lang_guess
"""


@query("eval_lang_confusion_matrix", oracle=_SQL_LANG_CONFUSION)
def eval_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation table for the stopword-marker language
    ID: the confusion matrix of guessed vs ground-truth language with
    per-cell recall (n / actual-class total) and precision (n /
    predicted-class total) — the metric sheet a curation pipeline
    reviews before trusting a cheap heuristic to route documents.

    Scale: the per-document scoring is the same codegen'd scan-stage
    expression as ``text_lang_guess``; everything after is
    #langs x #langs cells — two broadcast marginal joins over a
    16-row frame. Counts are exact; recall/precision are one IEEE
    division each.
    """
    tune(spark)
    cells = (
        text_lang_guess(spark, sf_dir)
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    act = cells.groupBy("lang").agg(F.sum("n").cast("long").alias("n_actual"))
    pred = cells.groupBy("lang_guess").agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    return (
        cells.join(F.broadcast(act), "lang")
        .join(F.broadcast(pred), "lang_guess")
        .select(
            "lang",
            "lang_guess",
            "n",
            (F.col("n").cast("double") / F.col("n_actual").cast("double")).alias(
                "recall"
            ),
            (F.col("n").cast("double") / F.col("n_pred").cast("double")).alias(
                "precision"
            ),
        )
        .orderBy("lang", "lang_guess")
    )


# --------------------------------------------------------------------
# Winnowing fingerprints (local-min rolling-hash selection)
# --------------------------------------------------------------------

_WIN_K = 8  # char k-gram length
_WIN_W = 4  # winnowing window (k-grams per window)


_SQL_WINNOW = f"""
    WITH hs AS (
      SELECT doc_id,
             [{DUCKDB_MD5_LONG(f"substring(text, CAST(i AS INTEGER), {_WIN_K})")}
              FOR i IN range(1, LENGTH(text) - {_WIN_K - 2})] AS h
      FROM documents
      WHERE LENGTH(text) >= {_WIN_K + _WIN_W - 1}),
    fp AS (
      SELECT doc_id,
             CAST(len(h) - {_WIN_W - 1} AS BIGINT) AS n_windows,
             list_distinct([list_min(h[j:j + {_WIN_W - 1}])
                            FOR j IN range(1, len(h) - {_WIN_W - 2})]) AS fps
      FROM hs)
    SELECT doc_id, n_windows,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           CAST(len(fps) AS DOUBLE) / n_windows AS fp_density
    FROM fp
"""


@query("text_winnowing_fingerprints", oracle=_SQL_WINNOW)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every 8-char k-gram, slide a
    4-hash window, keep each window's MINIMUM hash. The selected set
    is position-robust (an edit perturbs only nearby windows) and its
    density is ~2/(w+1) — the guarantee-backed alternative to the
    repo's head-prefix ``text_fingerprint`` and the third member of
    the fingerprint family next to MinHash (set resemblance) and
    SimHash (weighted cosine).

    Scale: everything is ONE projection — per-row JVM array
    expressions (transform/slice/array_min over the k-gram hash
    array), no explode, no shuffle, no Python. A 100-TB corpus
    fingerprints in a single codegen'd map stage; the output is 4
    scalars per document. md5-derived hashes keep Spark and DuckDB
    bit-identical (functions/hashing.py doctrine).
    """
    tune(spark)
    d = table(spark, sf_dir, "documents").filter(
        F.length("text") >= _WIN_K + _WIN_W - 1
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.length("text") - (_WIN_K - 1)),
        lambda i: md5_long(F.substring(F.col("text"), i, F.lit(_WIN_K))),
    )
    with_h = d.select("doc_id", grams.alias("h"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("h") - (_WIN_W - 1)),
            lambda j: F.array_min(F.slice(F.col("h"), j, _WIN_W)),
        )
    )
    return with_h.select(
        "doc_id",
        (F.size("h") - (_WIN_W - 1)).cast("long").alias("n_windows"),
        F.size(fps).cast("long").alias("n_fingerprints"),
        (
            F.size(fps).cast("double")
            / (F.size("h") - (_WIN_W - 1))
        ).alias("fp_density"),
    )


_MERGE_PAIR_EXPR = (
    "CASE WHEN length(word) >= 2 THEN"
    " transform(sequence(1, length(word) - 1),"
    "           i -> substring(word, i, 2))"
    " ELSE array() END"
)


@query(
    "text_bpe_top_merges",
    oracle="""
    WITH words AS (
      SELECT w AS word, COUNT(*) AS f
      FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
      WHERE w <> '' GROUP BY 1
    )
    SELECT substr(word, CAST(i AS INTEGER), 2) AS pair,
           CAST(SUM(f) AS BIGINT) AS n_occurrences
    FROM words, UNNEST(range(1, length(word))) AS u(i)
    GROUP BY 1
    ORDER BY n_occurrences DESC, pair ASC
    LIMIT 20
    """,
)
def text_bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE training iteration: corpus-wide adjacent
    character-pair frequencies (within whitespace words), top-20 merge
    candidates — what a tokenizer trainer would greedily merge next.

    Vocabulary contraction is the scale move (same argument as the
    ``entity.py`` signature frame): pair positions are enumerated once
    per DISTINCT word and weighted by the word's corpus frequency, so
    the char-level explosion is over the VOCABULARY (Heaps-law sublinear)
    while the corpus contributes only a word-count aggregate whose
    shuffle key space is that same vocabulary. Counts are exact
    integers; the top-20 is a total order (count desc, pair asc) via
    TakeOrdered — no global window.
    """
    tune(spark)
    d = fanout(table(spark, sf_dir, "documents"))
    words = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    pairs = words.select(
        F.explode(F.expr(_MERGE_PAIR_EXPR)).alias("pair"), "f"
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(20)
    )


def _mrr_sql() -> str:
    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter(tk, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    long_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, '{t}' AS term, {_bm25_term_sql(i)} AS score,"
        f" tf{i} AS tf FROM tf, g WHERE tf{i} > 0"
        for i, t in enumerate(_BM25_TERMS)
    )
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    tf AS (SELECT doc_id,
             {tf_cols},
             CAST(len(tk) AS BIGINT) AS dl
           FROM toks),
    g AS (SELECT COUNT(*) AS n,
             {df_cols},
             CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS avgdl
          FROM tf),
    long AS (
      {long_rows}),
    ranked AS (
      SELECT term, tf,
             ROW_NUMBER() OVER (PARTITION BY term
                                ORDER BY score DESC, doc_id) AS rk
      FROM long),
    rel AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_rel
            FROM long WHERE tf >= 2 GROUP BY term),
    top AS (SELECT term, rk, tf FROM ranked WHERE rk <= {_NDCG_K}),
    hit AS (SELECT term, CAST(MIN(rk) AS BIGINT) AS first_rel_rank
            FROM top WHERE tf >= 2 GROUP BY term),
    rc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_rel_topk
           FROM top WHERE tf >= 2 GROUP BY term)
    SELECT r.term, r.n_rel,
           COALESCE(rc.n_rel_topk, 0) AS n_rel_topk,
           hit.first_rel_rank,
           CASE WHEN hit.first_rel_rank IS NULL THEN CAST(0 AS DOUBLE)
                ELSE CAST(1 AS DOUBLE) / hit.first_rel_rank END AS mrr_at_10,
           CAST(COALESCE(rc.n_rel_topk, 0) AS DOUBLE) / r.n_rel
             AS recall_at_10
    FROM rel r
    LEFT JOIN hit ON hit.term = r.term
    LEFT JOIN rc ON rc.term = r.term
    """


@query("eval_mrr_recall_bm25", oracle=_mrr_sql())
def eval_mrr_recall_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 and recall@10 of the BM25 ranking, one row per query
    term — the rank-position companions of ``eval_ndcg_bm25`` (NDCG
    grades the whole top-k shape; MRR grades where the FIRST relevant
    document lands, recall grades coverage of the relevant set).
    Relevance = tf >= 2 (the graded-label threshold without human
    judgments). Metrics are exact rationals: 1/first-rank and
    hits/|relevant|, one IEEE division each.

    Scale: the corpus stage is :func:`_bm25_long`, built on the same
    two-pass broadcast frames as ``text_bm25_score`` (corpus never
    shuffles; the 1-row stats frame broadcasts), and
    the per-term top-10 rides :func:`topk_by_value_per_group` — no
    whole-term window sorts.
    """
    tune(spark)
    long = _bm25_long(spark, sf_dir).persist()
    rel = (
        long.filter(F.col("tf") >= 2)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    )
    top = topk_by_value_per_group(long, ["term"], "score", ["doc_id"], _NDCG_K)
    hit = (
        top.filter(F.col("tf") >= 2)
        .groupBy("term")
        .agg(F.min("rk").cast("long").alias("first_rel_rank"))
    )
    rc = (
        top.filter(F.col("tf") >= 2)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rel_topk"))
    )
    out = (
        rel.join(hit, "term", "left")
        .join(rc, "term", "left")
        .select(
            "term",
            "n_rel",
            F.coalesce("n_rel_topk", F.lit(0)).cast("long").alias(
                "n_rel_topk"
            ),
            "first_rel_rank",
            F.when(F.col("first_rel_rank").isNull(), F.lit(0.0))
            .otherwise(F.lit(1.0) / F.col("first_rel_rank"))
            .alias("mrr_at_10"),
            (
                F.coalesce("n_rel_topk", F.lit(0)).cast("double")
                / F.col("n_rel")
            ).alias("recall_at_10"),
        )
        .persist()
    )
    out.count()
    long.unpersist()
    return out


_KN_D = 0.75  # absolute-discount mass (exactly representable dyadic)


@query(
    "text_kneser_ney_bigram",
    oracle=_BIGRAM_SQL
    + f"""
    , c12 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                  CAST(COUNT(*) AS BIGINT) AS n1p
           FROM c12 GROUP BY 1),
    cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS cont FROM c12 GROUP BY 1),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM c12)
    SELECT c12.w1, c12.w2, c12, c1, n1p AS n_followers,
           cont AS n_contexts,
           (CAST(c12 AS DOUBLE) - {_KN_D}) / c1
             + ({_KN_D} * n1p / c1) * (CAST(cont AS DOUBLE) / nt)
             AS p_kn
    FROM c12
    JOIN c1 USING (w1)
    JOIN cont ON cont.w2 = c12.w2
    CROSS JOIN t
    """,
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (absolute discount
    D = 0.75): the LM-smoothing table a tokenizer/data-quality stack
    reads to judge "is this continuation typical or novel". KN's
    insight — back off to how many CONTEXTS a word completes, not its
    raw frequency — is exactly the continuation-count column here.

    Exactness: every count (pair, left-context total, follower types,
    continuation types, bigram types) is an exact integer from one
    groupBy each; D = 0.75 is dyadic, so ``(c12 - D)/c1 +
    (D*N1+/c1)*(cont/T)`` is a fixed IEEE chain with bit-identical
    inputs (c12 >= 1 keeps the discounted term positive — no clamp
    needed, same expression both engines). Scale: bigram formation is
    the map-only array transform of ``_BIGRAM_EXPR``; all joins are on
    the bounded bigram VOCABULARY, never the corpus stream.
    """
    tune(spark)
    big = _bigrams(fanout(table(spark, sf_dir, "documents")))
    c12 = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    c12 = c12.persist()
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1p"),
    )
    cont = c12.groupBy(F.col("w2").alias("w2c")).agg(
        F.count(F.lit(1)).cast("long").alias("cont")
    )
    t = c12.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    out = (
        c12.join(c1, "w1")
        .join(cont, F.col("w2") == F.col("w2c"))
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            F.col("n1p").alias("n_followers"),
            F.col("cont").alias("n_contexts"),
            (
                (F.col("c12").cast("double") - F.lit(_KN_D)) / F.col("c1")
                + (F.lit(_KN_D) * F.col("n1p") / F.col("c1"))
                * (F.col("cont").cast("double") / F.col("nt"))
            ).alias("p_kn"),
        )
    )
    rows = out.persist()
    rows.count()
    c12.unpersist()
    return rows
