"""Second corpus-science wave: windowed lexical diversity, vocabulary
richness, readability proxies, co-occurrence PMI, and concentration.

Exactness: every statistic here reduces to exact integer counts with
at most one shared IEEE tail; logs ride the fixed-point
floor(log2(int)*1e6) doctrine. Regex surfaces stick to explicit ASCII
classes so Java regex (Spark) and RE2 (DuckDB) agree — the same
contract text_bpe_token_counts pinned.

Reference parity note: the reference ETL (src/main.ts) has no text
operators; Layer-B training-data-pipeline surface (diversity and
readability are standard corpus-quality filters; PMI is the
collocation signal tokenizer/phrase miners use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import tune
from ..sources.tables import table

_MATTR_W = 20  # token window for moving-average TTR


@query(
    "text_mattr_diversity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts,
             len(string_split(text, ' ')) AS n
      FROM documents),
    wins AS (
      SELECT doc_id, n,
             CAST(i AS BIGINT) AS pos,
             len(list_distinct(list_slice(ts, CAST(i AS BIGINT),
                                          CAST(i AS BIGINT) + {_MATTR_W} - 1)))
               AS d
      FROM toks, UNNEST(range(1, n - {_MATTR_W} + 2)) AS u(i)
      WHERE n >= {_MATTR_W})
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(d) AS BIGINT) AS sum_distinct,
           CAST(SUM(d) AS DOUBLE) / (COUNT(*) * {_MATTR_W}) AS mattr
    FROM wins GROUP BY doc_id
    """,
)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR (moving-average type-token ratio, window {w}): the
    length-robust lexical-diversity score — plain TTR collapses as
    documents grow, MATTR doesn't, which is why corpus-quality filters
    use it. Score = mean over every {w}-token window of
    distinct/window — an exact integer ratio (sum of per-window
    distinct counts over windows*{w}).

    The window explode is O(tokens * {w}) work but stays JVM-side
    (sequence + slice + array_distinct codegen); partitioning is by
    document, so the shape is embarrassingly parallel at any corpus
    size.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("ts"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    ).filter(F.col("n") >= _MATTR_W)
    wins = toks.select(
        "doc_id",
        "n",
        F.explode(
            F.sequence(F.lit(1), F.col("n") - _MATTR_W + 1)
        ).alias("pos"),
        "ts",
    ).select(
        "doc_id",
        "n",
        "pos",
        F.size(
            F.array_distinct(F.slice(F.col("ts"), F.col("pos"), _MATTR_W))
        ).alias("d"),
    )
    return wins.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum("d").cast("long").alias("sum_distinct"),
        (
            F.sum("d").cast("double") / (F.count(F.lit(1)) * _MATTR_W)
        ).alias("mattr"),
    )


def _source_type_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, w, m): each source's token types and their frequency."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )


@query(
    "text_yule_k_by_source",
    oracle="""
    WITH f AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS m
      FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
      WHERE w <> '' GROUP BY 1, 2),
    s AS (
      SELECT source,
             CAST(SUM(m) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS v,
             -- freq^2 sums wrap int64 on a web-scale source; HUGEINT
             -- (DECIMAL(38,0) Spark-side) keeps them exact
             SUM(CAST(m AS HUGEINT) * m) AS sm2
      FROM f GROUP BY 1)
    SELECT source, n AS n_tokens, v AS n_types,
           10000.0 * (CAST(sm2 AS DOUBLE) - n)
             / (CAST(n AS DOUBLE) * n) AS yule_k
    FROM s
    """,
)
def text_yule_k_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per source: 1e4 * (sum m^2 V_m - N) /
    N^2 — the classic vocabulary-richness constant (length-invariant,
    unlike TTR), flagging sources whose token distribution is
    suspiciously repetitive or suspiciously flat.

    sum(m^2 V_m) is just sum over types of freq^2, so the whole
    statistic is three exact int64 sums per source and one shared
    double tail. Shuffle keys: (source, token) then source.
    """
    tune(spark)
    f = _source_type_freqs(spark, sf_dir)
    s = f.groupBy("source").agg(
        F.sum("m").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum(F.col("m").cast("decimal(38,0)") * F.col("m")).alias("sm2"),
    )
    return s.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        (
            F.lit(10000.0)
            * (F.col("sm2").cast("double") - F.col("n"))
            / (F.col("n").cast("double") * F.col("n"))
        ).alias("yule_k"),
    )


_VOWEL_RUN = "[aeiouAEIOU]+"
_SENT_END = "[.!?]"


@query(
    "text_readability_scores",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '{_VOWEL_RUN}')) AS BIGINT)
             AS n_syllables,
           CAST(GREATEST(len(regexp_extract_all(text, '{_SENT_END}')), 1)
                AS BIGINT) AS n_sentences,
           206.835
             - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
                        / GREATEST(len(regexp_extract_all(text,
                                                          '{_SENT_END}')), 1))
             - 84.6 * (CAST(len(regexp_extract_all(text, '{_VOWEL_RUN}'))
                            AS DOUBLE)
                       / len(string_split(text, ' '))) AS flesch_proxy
    FROM documents
    """,
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per document with a vowel-run syllable
    proxy (an explicit ASCII class, so Java regex and RE2 count
    identically): 206.835 - 1.015*(words/sentence) -
    84.6*(syllables/word). The standard cheap complexity filter for
    training-corpus curation.

    Map-only: three regex counts per row, no shuffle at all — runs at
    parquet scan speed at any corpus size. The score combines the
    exact counts in one shared IEEE expression (integer operands CAST
    to DOUBLE before any float literal touches them — the DuckDB
    DECIMAL-literal trap events_user_powerlaw_alpha pinned).
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    words = F.size(F.split(F.col("text"), " "))
    syll = F.size(F.regexp_extract_all(F.col("text"), F.lit(_VOWEL_RUN), F.lit(0)))
    sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_SENT_END), F.lit(0))),
        F.lit(1),
    )
    return d.select(
        "doc_id",
        words.cast("long").alias("n_words"),
        syll.cast("long").alias("n_syllables"),
        sent.cast("long").alias("n_sentences"),
        (
            F.lit(206.835)
            - F.lit(1.015) * (words.cast("double") / sent)
            - F.lit(84.6) * (syll.cast("double") / words)
        ).alias("flesch_proxy"),
    )


_PMI_VOCAB = 30  # top-df words form the co-occurrence vocabulary
_PMI_TOP = 50  # emitted pairs


@query(
    "text_pmi_top_pairs",
    oracle=f"""
    WITH dw AS (
      SELECT DISTINCT doc_id, w
      FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
      WHERE w <> ''),
    df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM dw GROUP BY 1),
    vocab AS (
      SELECT w, df FROM df ORDER BY df DESC, w ASC LIMIT {_PMI_VOCAB}),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    pairs AS (
      SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM (SELECT dw.doc_id, dw.w FROM dw JOIN vocab USING (w)) a
      JOIN (SELECT dw.doc_id, dw.w FROM dw JOIN vocab USING (w)) b
        ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY 1, 2),
    scored AS (
      SELECT w1, w2, c_ab, va.df AS df1, vb.df AS df2,
             CAST(FLOOR(log2(CAST(c_ab AS DOUBLE) * n_docs) * 1000000)
                  AS BIGINT)
             - CAST(FLOOR(log2(CAST(va.df AS DOUBLE) * vb.df) * 1000000)
                    AS BIGINT) AS pmi_fp
      FROM pairs
      JOIN vocab va ON va.w = pairs.w1
      JOIN vocab vb ON vb.w = pairs.w2
      CROSS JOIN n)
    SELECT w1, w2, c_ab, df1, df2, pmi_fp,
           CAST(pmi_fp AS DOUBLE) / 1000000 * 0.6931471805599453 AS pmi
    FROM scored
    ORDER BY pmi_fp DESC, w1 ASC, w2 ASC
    LIMIT {_PMI_TOP}
    """,
)
def text_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by document-level PMI over the {v}-word
    high-df vocabulary: PMI = ln(c_ab * N / (df_a * df_b)) — the
    phrase-mining signal behind merged-token candidates.

    Scale shape: the vocabulary is a deterministic top-{v} model frame
    (df desc, word asc), broadcast into the document-word stream; the
    pair space is bounded by {v}^2 per document, never vocabulary^2.
    PMI is fixed-point (two quantized integer log2 terms over integer
    products), so ranking can't flap; the double image is one shared
    expression. Total ordering on the emitted top-{top}.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    dw = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    df_ = dw.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    vocab = df_.orderBy(F.desc("df"), F.asc("w")).limit(_PMI_VOCAB)
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    dv = dw.join(F.broadcast(vocab), "w").select("doc_id", "w")
    a = dv.select("doc_id", F.col("w").alias("w1"))
    b = dv.select("doc_id", F.col("w").alias("w2"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    va = vocab.select(F.col("w").alias("w1"), F.col("df").alias("df1"))
    vb = vocab.select(F.col("w").alias("w2"), F.col("df").alias("df2"))
    ilog = lambda c: F.floor(F.log2(c) * F.lit(1e6)).cast("long")
    scored = (
        pairs.join(F.broadcast(va), "w1")
        .join(F.broadcast(vb), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c_ab",
            "df1",
            "df2",
            (
                ilog(F.col("c_ab").cast("double") * F.col("n_docs"))
                - ilog(F.col("df1").cast("double") * F.col("df2"))
            ).alias("pmi_fp"),
        )
    )
    return scored.select(
        "w1",
        "w2",
        "c_ab",
        "df1",
        "df2",
        "pmi_fp",
        (
            F.col("pmi_fp").cast("double")
            / F.lit(1_000_000)
            * F.lit(0.6931471805599453)
        ).alias("pmi"),
    ).orderBy(F.desc("pmi_fp"), F.asc("w1"), F.asc("w2")).limit(_PMI_TOP)


@query(
    "text_simpson_concentration",
    oracle="""
    WITH f AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS m
      FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
      WHERE w <> '' GROUP BY 1, 2),
    s AS (
      SELECT source, CAST(SUM(m) AS BIGINT) AS n,
             SUM(CAST(m AS HUGEINT) * (m - 1)) AS rep
      FROM f GROUP BY 1)
    SELECT source, n AS n_tokens,
           CAST(rep AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))
             AS simpson_lambda,
           1 - CAST(rep AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))
             AS simpson_diversity
    FROM s
    """,
)
def text_simpson_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's concentration per source: the probability two
    randomly drawn tokens are the same type (unbiased m(m-1)/N(N-1)
    form) — the collision-probability view of vocabulary concentration
    that complements entropy (text_char_entropy) and Yule's K.
    Exact integer sums, one shared double tail per source.
    """
    tune(spark)
    f = _source_type_freqs(spark, sf_dir)
    s = f.groupBy("source").agg(
        F.sum("m").cast("long").alias("n"),
        F.sum(F.col("m").cast("decimal(38,0)") * (F.col("m") - 1)).alias(
            "rep"
        ),
    )
    lam = F.col("rep").cast("double") / (
        F.col("n").cast("double") * (F.col("n") - 1)
    )
    return s.select(
        "source",
        F.col("n").alias("n_tokens"),
        lam.alias("simpson_lambda"),
        (1 - lam).alias("simpson_diversity"),
    )


_C4_MIN_WORDS = 5
_C4_MAX_WORD_LEN = 100


@query(
    "quality_c4_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(len(list_filter(string_split(text, ' '),
                      x -> length(x) > {_C4_MAX_WORD_LEN})) AS BIGINT)
               AS n_long_words,
             regexp_matches(text, '[.!?]\\s*$') AS ends_terminal,
             contains(text, '{{') OR contains(text, '}}') AS has_brace,
             contains(lower(text), 'lorem ipsum') AS has_lorem
      FROM documents)
    SELECT doc_id, n_words, n_long_words,
           ends_terminal, has_brace, has_lorem,
           n_words >= {_C4_MIN_WORDS}
             AND n_long_words = 0
             AND ends_terminal
             AND NOT has_brace
             AND NOT has_lorem AS keep
    FROM t
    """,
)
def quality_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style document filter (the published colossal-cleaned-corpus
    rules, doc-level subset): minimum word count, no pathological
    (>100-char) words, terminal punctuation at the end, no curly
    braces (code/templating tell), no boilerplate 'lorem ipsum' —
    alongside quality_gopher_rules, the second standard public filter
    battery a curation stack runs.

    Map-only exact booleans (regex/contains on explicit ASCII
    patterns); keep is the AND. Runs at parquet scan speed — the
    filter pushes straight into the scan stage at 100 TB.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    t = d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.size(
            F.filter(words, lambda w: F.length(w) > _C4_MAX_WORD_LEN)
        )
        .cast("long")
        .alias("n_long_words"),
        F.col("text").rlike(r"[.!?]\s*$").alias("ends_terminal"),
        (
            F.col("text").contains("{") | F.col("text").contains("}")
        ).alias("has_brace"),
        F.lower(F.col("text")).contains("lorem ipsum").alias("has_lorem"),
    )
    return t.select(
        "doc_id",
        "n_words",
        "n_long_words",
        "ends_terminal",
        "has_brace",
        "has_lorem",
        (
            (F.col("n_words") >= _C4_MIN_WORDS)
            & (F.col("n_long_words") == 0)
            & F.col("ends_terminal")
            & ~F.col("has_brace")
            & ~F.col("has_lorem")
        ).alias("keep"),
    )


_DELTA_VOCAB = 20  # top corpus words form the Delta feature set
_DELTA_FP = 10**6


@query(
    "text_burrows_delta_matrix",
    oracle=f"""
    WITH toks AS (
      SELECT source, w
      FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
      WHERE w <> ''),
    corpus AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cf
      FROM toks GROUP BY 1),
    vocab AS (
      SELECT w FROM corpus ORDER BY cf DESC, w ASC LIMIT {_DELTA_VOCAB}),
    stot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      FROM toks GROUP BY 1),
    sw AS (
      SELECT toks.source, toks.w, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks JOIN vocab ON vocab.w = toks.w
      GROUP BY 1, 2),
    -- relative frequency per (source, word), zero-filled over the
    -- full source x vocab grid
    grid AS (
      -- fixed-point relative frequency (exact integer floor division)
      -- so the per-word moment sums below are exact integers, not
      -- order-dependent double sums over sources
      SELECT stot.source, vocab.w,
             (COALESCE(sw.c, 0) * 1000000000000) // stot.n AS ffp
      FROM stot CROSS JOIN vocab
      LEFT JOIN sw ON sw.source = stot.source AND sw.w = vocab.w),
    mv AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ffp) AS BIGINT) AS sf,
             SUM(CAST(ffp AS HUGEINT) * ffp) AS sff
      FROM grid GROUP BY 1),
    z AS (
      SELECT grid.source, grid.w,
             (CAST(grid.ffp AS DOUBLE) - CAST(mv.sf AS DOUBLE) / mv.k)
               / sqrt(CAST(mv.k * mv.sff - CAST(mv.sf AS HUGEINT) * mv.sf
                           AS DOUBLE)) * mv.k AS z
      FROM grid JOIN mv ON mv.w = grid.w),
    pairz AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(FLOOR(ABS(a.z - b.z) * {_DELTA_FP}) AS BIGINT) AS dz_fp
      FROM z a JOIN z b ON a.w = b.w AND a.source < b.source)
    SELECT source_a, source_b,
           CAST(SUM(dz_fp) AS DOUBLE) / COUNT(*) / {_DELTA_FP} AS delta
    FROM pairz GROUP BY 1, 2
    """,
)
def text_burrows_delta_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between every source pair: z-score each source's
    relative frequency of the top-{v} corpus words (the
    most-frequent-word stylometric fingerprint), Delta = mean |z_a -
    z_b| — the classic authorship/provenance distance, here as the
    source-attribution screen for a mixed corpus.

    The z pipeline is exact until one shared IEEE tail: relative
    frequencies are fixed-point integer floor divisions, per-word
    moment sums exact DECIMAL(38,0)/HUGEINT;
    each |z_a - z_b| is floor-quantized to 1e-6 BEFORE the cross-word
    mean, so the pair reduction is an exact integer sum
    (quantize-then-sum — a raw double sum over words would be
    order-dependent). Grid size: sources x {v}, model-level.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    corpus = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cf"))
    vocab = corpus.orderBy(F.desc("cf"), F.asc("w")).limit(_DELTA_VOCAB).select("w")
    stot = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    sw = (
        toks.join(F.broadcast(vocab), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    grid = (
        stot.crossJoin(F.broadcast(vocab))
        .join(sw, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr(
                "(COALESCE(c, 0) * 1000000000000) div n"
            ).alias("ffp"),
        )
    )
    mv = grid.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ffp").cast("long").alias("sf"),
        F.sum(F.col("ffp").cast("decimal(38,0)") * F.col("ffp")).alias("sff"),
    )
    z = grid.join(F.broadcast(mv), "w").select(
        "source",
        "w",
        (
            (
                F.col("ffp").cast("double")
                - F.col("sf").cast("double") / F.col("k")
            )
            / F.sqrt(
                (
                    F.col("k") * F.col("sff")
                    - F.col("sf").cast("decimal(38,0)") * F.col("sf")
                ).cast("double")
            )
            * F.col("k")
        ).alias("z"),
    )
    a = z.select(
        F.col("source").alias("source_a"), "w", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"), "w", F.col("z").alias("zb")
    )
    pairz = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.floor(F.abs(F.col("za") - F.col("zb")) * F.lit(_DELTA_FP))
            .cast("long")
            .alias("dz_fp"),
        )
    )
    return pairz.groupBy("source_a", "source_b").agg(
        (
            F.sum("dz_fp").cast("double")
            / F.count(F.lit(1))
            / F.lit(_DELTA_FP)
        ).alias("delta")
    )


@query(
    "text_casing_profile",
    oracle="""
    WITH toks AS (
      SELECT source, w
      FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
      WHERE w <> ''),
    cls AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(CASE WHEN regexp_matches(w, '^[a-z]+$')
                        THEN 1 END) AS BIGINT) AS n_lower,
             CAST(COUNT(CASE WHEN regexp_matches(w, '^[A-Z]+$')
                        THEN 1 END) AS BIGINT) AS n_upper,
             CAST(COUNT(CASE WHEN regexp_matches(w, '^[A-Z][a-z]+$')
                        THEN 1 END) AS BIGINT) AS n_title,
             CAST(COUNT(CASE WHEN regexp_matches(w, '^[0-9]+$')
                        THEN 1 END) AS BIGINT) AS n_digit
      FROM toks GROUP BY 1)
    SELECT source, n_tokens,
           CAST(n_lower AS DOUBLE) / n_tokens AS lower_share,
           CAST(n_upper AS DOUBLE) / n_tokens AS upper_share,
           CAST(n_title AS DOUBLE) / n_tokens AS title_share,
           CAST(n_digit AS DOUBLE) / n_tokens AS digit_share
    FROM cls
    """,
)
def text_casing_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token casing profile per source: lower/UPPER/Title/digit token
    shares — the cheap formatting fingerprint (shouting boilerplate,
    code-ish dumps, OCR noise) that complements the Gopher/C4 rule
    batteries. Explicit ASCII regex classes, exact counts, one
    division per share; shuffle keyed by source.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    cls = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.count(F.when(F.col("w").rlike("^[a-z]+$"), 1))
        .cast("long")
        .alias("n_lower"),
        F.count(F.when(F.col("w").rlike("^[A-Z]+$"), 1))
        .cast("long")
        .alias("n_upper"),
        F.count(F.when(F.col("w").rlike("^[A-Z][a-z]+$"), 1))
        .cast("long")
        .alias("n_title"),
        F.count(F.when(F.col("w").rlike("^[0-9]+$"), 1))
        .cast("long")
        .alias("n_digit"),
    )
    return cls.select(
        "source",
        "n_tokens",
        (F.col("n_lower").cast("double") / F.col("n_tokens")).alias(
            "lower_share"
        ),
        (F.col("n_upper").cast("double") / F.col("n_tokens")).alias(
            "upper_share"
        ),
        (F.col("n_title").cast("double") / F.col("n_tokens")).alias(
            "title_share"
        ),
        (F.col("n_digit").cast("double") / F.col("n_tokens")).alias(
            "digit_share"
        ),
    )


@query(
    "text_unigram_logloss",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
      WHERE t.tok <> ''),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
    cf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
    corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_c FROM toks),
    scored AS (
      SELECT tf.doc_id,
             CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
             CAST(SUM(tf.tf * (
               CAST(FLOOR(log2(CAST((SELECT big_c FROM corpus) AS DOUBLE))
                          * 10000) AS BIGINT)
               - CAST(FLOOR(log2(CAST(cf.c AS DOUBLE)) * 10000) AS BIGINT)
             )) AS BIGINT) AS loss_fp
      FROM tf JOIN cf ON cf.tok = tf.tok
      GROUP BY tf.doc_id)
    SELECT doc_id, n_tokens, loss_fp,
           CAST(loss_fp AS DOUBLE) / 10000 * 0.6931471805599453 / n_tokens
             AS bits_per_token_ln
    FROM scored
    """,
)
def text_unigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document log-loss under the corpus unigram LM — the
    CCNet/Gopher-style perplexity quality filter (documents whose
    tokens are improbable under the corpus distribution score high and
    get reviewed/dropped). loss = -(1/n_d) * sum_t tf_dt * ln(c_t/C),
    computed in the audited 1e4 integer-log fixed point
    (tests/test_ilog_quantization.py): per-token weights are exact
    int64, the per-doc sum is exact, and the final score is one shared
    IEEE expression.

    Scale: explode -> two counts -> one broadcast-scalar corpus size;
    the tf<->cf join shuffles on token (bounded vocabulary), identical
    shape to TF-IDF.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    cf = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    corpus = toks.agg(F.count(F.lit(1)).cast("long").alias("big_c"))
    ilog = lambda c: F.floor(F.log2(c.cast("double")) * F.lit(1e4)).cast("long")
    scored = (
        tf.join(cf, "tok")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(
                F.col("tf") * (ilog(F.col("big_c")) - ilog(F.col("c")))
            )
            .cast("long")
            .alias("loss_fp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "loss_fp",
        (
            F.col("loss_fp").cast("double")
            / F.lit(1e4)
            * F.lit(0.6931471805599453)
            / F.col("n_tokens")
        ).alias("bits_per_token_ln"),
    )


_CHI2_MIN_DF = 5  # minimum document frequency for a scored token
_CHI2_TOPK = 50


@query(
    "text_chi2_keywords",
    oracle=f"""
    WITH pres AS (
      SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS token,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
      FROM documents),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS e
      FROM documents),
    tok AS (
      SELECT token,
             CAST(SUM(is_en) AS BIGINT) AS a,
             CAST(COUNT(*) - SUM(is_en) AS BIGINT) AS b
      FROM pres GROUP BY 1
      HAVING COUNT(*) >= {_CHI2_MIN_DF}),
    scored AS (
      SELECT token, a, b, a + b AS n_docs,
             a * (nn - e - b) - b * (e - a) AS dd,
             e - a AS c, nn - e - b AS d, nn
      FROM tok, tot)
    SELECT token, n_docs, a AS en_docs,
           CAST(nn AS DOUBLE) * dd / (a + b) * dd / (c + d)
             / (a + c) / (b + d) AS chi2,
           a * (b + d) > b * (a + c) AS enriched_in_en
    FROM scored
    WHERE (a + c) > 0 AND (b + d) > 0
    ORDER BY chi2 DESC, token
    LIMIT {_CHI2_TOPK}
    """,
)
def text_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square keyword selection: the {k} tokens whose document
    presence is most dependent on the class (lang = 'en' vs rest) by
    the 2x2 chi-square — the classic feature-selection / corpus-
    contrast ranking (what "distinctive vocabulary" reports and fast
    text classifiers select features with). ``enriched_in_en`` gives
    the direction via an exact integer cross-ratio comparison.

    Presence is one distinct over (doc, token) then a map-side-
    combinable groupBy per token — no self-join, no window; the
    2x2 cells stay exact int64 (min-df 5 prunes the long tail before
    scoring) and the statistic is the identical left-associative
    double chain in both engines. Top-k is a total order
    (chi2 DESC, token).
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    pres = d.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("token"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias(
            "is_en"
        ),
    ).distinct()
    tot = d.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("e"),
    )
    tok = (
        pres.groupBy("token")
        .agg(
            F.sum("is_en").cast("long").alias("a"),
            (F.count(F.lit(1)) - F.sum("is_en")).cast("long").alias("b"),
        )
        .filter(F.col("a") + F.col("b") >= _CHI2_MIN_DF)
    )
    s = tok.crossJoin(F.broadcast(tot))
    a, b = F.col("a"), F.col("b")
    c = F.col("e") - a
    dcol = F.col("nn") - F.col("e") - b
    dd = a * dcol - b * c
    chi2 = (
        F.col("nn").cast("double") * dd / (a + b) * dd / (c + dcol)
        / (a + c)
        / (b + dcol)
    )
    return (
        s.filter(((a + c) > 0) & ((b + dcol) > 0))
        .select(
            "token",
            (a + b).alias("n_docs"),
            a.alias("en_docs"),
            chi2.alias("chi2"),
            (a * (b + dcol) > b * (a + c)).alias("enriched_in_en"),
        )
        .orderBy(F.desc("chi2"), F.asc("token"))
        .limit(_CHI2_TOPK)
    )


# ---------------------------------------------------------------------------
# ROUGE-1 over the LSH candidate pairs (clipped unigram overlap)
# ---------------------------------------------------------------------------


def _register_rouge1() -> None:
    """Registered via a function so the dedup CTE fragments import
    lazily (text2 must not force dedup's module body at import time
    twice — same pattern as graphplus's composed oracles)."""
    from .dedup import _SQL_LSH_BAND, _SQL_MINHASH, _lsh_candidate_pairs

    @query(
        "text_rouge1_candidates",
        oracle=_SQL_MINHASH
        + _SQL_LSH_BAND
        + """,
    tok AS (
      SELECT doc_id, u.w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(t) AS u(w)
      GROUP BY doc_id, u.w),
    tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tok GROUP BY 1),
    clip AS (
      SELECT p.doc_a, p.doc_b,
             CAST(SUM(LEAST(ta.c, tb.c)) AS BIGINT) AS clip
      FROM pairs p
      JOIN tok ta ON ta.doc_id = p.doc_a
      JOIN tok tb ON tb.doc_id = p.doc_b AND tb.w = ta.w
      GROUP BY 1, 2)
    SELECT clip.doc_a, clip.doc_b, clip,
           na.n AS ref_tokens, nb.n AS cand_tokens,
           CAST(clip AS DOUBLE) / na.n AS rouge1_recall,
           CAST(clip AS DOUBLE) / nb.n AS rouge1_precision,
           CAST(2 * clip AS DOUBLE) / (na.n + nb.n) AS rouge1_f1
    FROM clip
    JOIN tot na ON na.doc_id = clip.doc_a
    JOIN tot nb ON nb.doc_id = clip.doc_b
    """,
    )
    def text_rouge1_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
        """ROUGE-1 (clipped unigram recall/precision/F1, treating
        doc_a as the reference) for every LSH near-dup candidate pair —
        the summarization-style lexical-overlap verdict that
        complements Jaccard verification: Jaccard reads SET overlap,
        ROUGE reads clipped MULTISET overlap, so repeated-token
        padding moves one but not the other.

        Scale shape: token counts are one map-side-combinable groupBy
        (explode bounded by corpus tokens); the clipped intersection
        joins the CANDIDATE pairs (LSH-bounded, never all pairs) to the
        per-doc count frames on the token key — the
        ``dedup_jaccard_verify_candidates`` verify topology. Counts are
        exact integers; each ROUGE ratio is one shared IEEE division.
        """
        tune(spark)
        from ..functions.lineage import model_checkpoint

        # pairs: LSH-bounded model frame; tok: the per-(doc, token)
        # count table — fixed-width metadata referenced three times
        # (ta, tb, tot), the guide §8 fingerprint-proxy shape. Leaf
        # materialization replaced the persist()+count()+unpersist()
        # triple (r10): one execution each, no InMemoryRelation
        # planning on the three consumers, and the query's returned
        # frame pipelines instead of being double-materialized.
        pairs = model_checkpoint(_lsh_candidate_pairs(spark, sf_dir))
        d = table(spark, sf_dir, "documents")
        tok = model_checkpoint(
            d.select(
                "doc_id",
                F.explode(F.split(F.col("text"), " ")).alias("w"),
            )
            .groupBy("doc_id", "w")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        tot = tok.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
        ta = tok.select(
            F.col("doc_id").alias("doc_a"), "w", F.col("c").alias("ca")
        )
        tb = tok.select(
            F.col("doc_id").alias("db2"),
            F.col("w").alias("wb"),
            F.col("c").alias("cb"),
        )
        clip = (
            pairs.join(ta, "doc_a")
            .join(
                tb,
                (F.col("doc_b") == F.col("db2"))
                & (F.col("w") == F.col("wb")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.least("ca", "cb")).cast("long").alias("clip"))
        )
        na = tot.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("ref_tokens"))
        nb = tot.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("cand_tokens"))
        out = (
            clip.join(na, "doc_a")
            .join(nb, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                "clip",
                "ref_tokens",
                "cand_tokens",
                (F.col("clip").cast("double") / F.col("ref_tokens")).alias(
                    "rouge1_recall"
                ),
                (F.col("clip").cast("double") / F.col("cand_tokens")).alias(
                    "rouge1_precision"
                ),
                (
                    (2 * F.col("clip")).cast("double")
                    / (F.col("ref_tokens") + F.col("cand_tokens"))
                ).alias("rouge1_f1"),
            )
        )
        return out


_register_rouge1()
