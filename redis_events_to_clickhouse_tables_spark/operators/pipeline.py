"""Training-data pipeline operators: contamination checks, sequence
packing, repetition filtering, corpus composition, and embedding
outlier removal.

These are the curation stages a large-scale LLM data pipeline runs
between raw dedup and tokenized shards — north-star additions beyond
the reference's ingestion surface (the reference, a Redis→ClickHouse
ETL bridge, has no analytics layer; see SURVEY.md §2.9). Everything
here is JVM-side (higher-order functions + hash-groupBy), so the hot
path stays inside whole-stage codegen at any corpus size.

Determinism follows the registry doctrine: integer/decimal sums,
md5-derived hashes, 1e-7 fixed-point embedding aggregation, single
final IEEE division — every query hash-matches its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import DUCKDB_MD5_LONG, md5_long
from ..registry import query
from ..session import tune
from ..sources.tables import fanout, table
from .similarity import _ddot

# contamination: 5-gram collision against the held-out benchmark slice
_CONTAM_N = 5
_BENCH_MOD = 97  # doc_id % 97 == 0 -> benchmark ("eval") document
# flagged when >=1% of a doc's 5-grams hit the bench set. The cut is
# tuned to this corpus the way every decontamination deployment tunes
# its own: clean docs here sit at exactly 0 overlap, exact-dup cluster
# members of a bench doc near 1.0, and light collisions at ~0.02, so
# 0.01 separates the classes at every SF (a 0.05 cut left the flag
# single-valued at sf<=0.01 — value-unchecked).
_CONTAM_CUT = 0.01

# packing: target context-window length in (whitespace) tokens
_PACK_LEN = 4096

# repetition: max tolerated duplicate-bigram fraction (Gopher-style).
# This corpus's duplicate-bigram share ranges 0..0.18 with p80 ~= 0.05,
# so the cut keeps ~80% and flags a real tail at every SF.
_REP_CUT = 0.05

_FP = 10_000_000  # fixed-point quantum (see embedding_label_centroids)


def _fivegram_hashes() -> Column:
    """Distinct md5-hashed 5-grams of the space-tokenized text."""
    t = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (_CONTAM_N - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, i + k) for k in range(_CONTAM_N)]
        ),
    )
    return F.array_distinct(
        F.transform(grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"))
    )


_SQL_FIVEGRAMS = f"""
      SELECT DISTINCT doc_id,
             {DUCKDB_MD5_LONG("t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]")} AS h
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE len(string_split(text, ' ')) >= {_CONTAM_N}) s,
           UNNEST(range(1, len(t) - {_CONTAM_N - 2})) AS u(i)
"""


@query(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH g AS ({_SQL_FIVEGRAMS}),
    bench AS (SELECT DISTINCT h FROM g WHERE doc_id % {_BENCH_MOD} = 0),
    train AS (SELECT doc_id, h FROM g WHERE doc_id % {_BENCH_MOD} <> 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM train GROUP BY doc_id),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS n_hits
      FROM train t JOIN bench b ON b.h = t.h
      GROUP BY t.doc_id
    )
    SELECT s.doc_id, s.n_ngrams,
           COALESCE(h.n_hits, 0) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / s.n_ngrams AS overlap_share,
           COALESCE(h.n_hits, 0) >= {_CONTAM_CUT} * s.n_ngrams AS contaminated
    FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: flag training documents whose
    5-grams collide with a held-out benchmark slice (doc_id % 97 == 0
    stands in for the eval suite).

    The standard decontamination pass (GPT-3 appendix C / PaLM-style
    n-gram overlap): build the benchmark's n-gram set once, stream the
    training corpus against it, flag docs above an overlap share. The
    benchmark n-gram set is tiny relative to the corpus — a broadcast
    — so the scan stays shuffle-free on the training side except one
    hash-groupBy per doc; at 100 TB this is a single pass. Comparing
    md5-hashed grams (not strings) keeps the broadcast and the
    group-by keys fixed-width.
    """
    tune(spark)
    d = fanout(table(spark, sf_dir, "documents"))
    bench = bench_ngram_set(d)
    train = d.filter(F.col("doc_id") % _BENCH_MOD != 0)
    return contamination_scores(train, bench)


def bench_ngram_set(docs: DataFrame) -> DataFrame:
    """(h): the distinct 5-gram hash set of the benchmark slice — the
    static side every contamination check (batch query or streaming
    micro-batch) probes against."""
    return (
        docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .filter(F.size(F.split(F.col("text"), " ")) >= _CONTAM_N)
        .select(F.explode(_fivegram_hashes()).alias("h"))
        .distinct()
    )


def contamination_scores(docs: DataFrame, bench: DataFrame) -> DataFrame:
    """Per-document contamination verdict of ``docs`` against a
    benchmark n-gram set. Shared by the registered batch query and the
    streaming curation log (streaming/curation.py), so stream and
    batch agree exactly by construction.

    Single-pass shape: the gram stream broadcast-LEFT-joins the bench
    set and ONE doc_id aggregation counts grams and hits together —
    the expensive part (tokenize + md5 per gram) runs once, the only
    shuffle is the per-doc count pair, and nothing scans the corpus
    twice (the first formulation fed separate sizes/hits aggregates
    from the same gram stream and doubled the gram computation)."""
    g = docs.filter(
        F.size(F.split(F.col("text"), " ")) >= _CONTAM_N
    ).select("doc_id", F.explode(_fivegram_hashes()).alias("h"))
    marked = g.join(
        F.broadcast(bench.withColumn("hit", F.lit(1))), "h", "left"
    )
    n_hits = F.count("hit")  # count() skips NULLs: non-bench grams
    n_ngrams = F.count(F.lit(1))
    return marked.groupBy("doc_id").agg(
        n_ngrams.alias("n_ngrams"),
        n_hits.alias("n_hits"),
        (n_hits.cast("double") / n_ngrams).alias("overlap_share"),
        (n_hits >= _CONTAM_CUT * n_ngrams).alias("contaminated"),
    )


@query(
    "pack_sequences_contiguous",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM n)
    SELECT lang,
           CAST((cum - n_tokens) // {_PACK_LEN} AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / {_PACK_LEN} AS fill_ratio
    FROM c
    GROUP BY lang, CAST((cum - n_tokens) // {_PACK_LEN} AS BIGINT)
    """,
)
def pack_sequences_contiguous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-budget training
    sequences (4096 tokens) by contiguous cumulative fill, reporting
    per-sequence document count and fill ratio.

    The tokenize-and-pack stage that turns a curated corpus into
    training shards. A document starts in the sequence its running
    token total (exclusive of itself) falls in — the deterministic
    streaming-fill rule. Partitioning the running sum BY LANG is the
    scale design: each partition's window is independent, so at 100 TB
    packing parallelizes over the shard key (here language; in
    production, any bounded shard column) instead of forcing one
    global ordered window. Token counts are integers, so every
    aggregate is exact.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    n = d.select(
        "doc_id", "lang", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = n.select("lang", "n_tokens", F.sum("n_tokens").over(w).alias("cum"))
    seq = F.floor((F.col("cum") - F.col("n_tokens")) / _PACK_LEN).alias("seq_id")
    return c.groupBy("lang", seq).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
        (F.sum("n_tokens").cast("double") / _PACK_LEN).alias("fill_ratio"),
    )


@query(
    "text_repetition_filter",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             list_transform(range(1, len(t)),
                            i -> t[i] || ' ' || t[i+1]) AS bg
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE len(string_split(text, ' ')) >= 2) s)
    SELECT doc_id,
           CAST(len(bg) AS INTEGER) AS n_bigrams,
           CAST(len(list_distinct(bg)) AS INTEGER) AS n_distinct,
           CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg)
             AS dup_fraction,
           CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg)
             <= {_REP_CUT} AS keep
    FROM b
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter: duplicate-bigram fraction per
    document, Gopher-style (Rae et al. 2021 repetition heuristics).

    Boilerplate and template spam repeat phrases; a high duplicate
    n-gram share is the cheap signal. Entirely per-row higher-order
    functions (no shuffle at all, no explode — the bigram list lives
    and dies inside one projection), so the filter runs at scan speed
    over 100 TB and composes with any downstream stage.
    """
    tune(spark)
    return repetition_scores(table(spark, sf_dir, "documents"))


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Per-document duplicate-bigram metrics. Stateless per-row
    expressions — shared by the registered batch query and the
    streaming curation log (streaming/curation.py)."""
    t = F.split(F.col("text"), " ")
    bg = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
    )
    dup_frac = (
        (F.size(bg) - F.size(F.array_distinct(bg))).cast("double") / F.size(bg)
    )
    return (
        docs.filter(F.size(t) >= 2)
        .select(
            "doc_id",
            F.size(bg).alias("n_bigrams"),
            F.size(F.array_distinct(bg)).alias("n_distinct"),
            dup_frac.alias("dup_fraction"),
            (dup_frac <= _REP_CUT).alias("keep"),
        )
    )


@query(
    "corpus_composition_stats",
    oracle="""
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
             AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT md5(text)) AS n_unique_texts,
           1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
             AS dup_ratio
    FROM documents
    GROUP BY source, lang
    """,
)
def corpus_composition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: per (source, language) document,
    token, and byte volume plus the exact-duplicate ratio.

    The mixture table every dataset card publishes and every sampling-
    weight decision reads. One hash-groupBy; the duplicate ratio
    counts distinct md5 digests so the distinct-aggregation state is
    fixed-width (32-byte digests, never document bodies) — the same
    trick as dedup_exact_documents, and the whole report is one
    shuffle at any corpus size.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    n_docs = F.count(F.lit(1))
    n_uniq = F.count_distinct(F.md5(F.col("text")))
    return d.groupBy("source", "lang").agg(
        n_docs.alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        n_uniq.alias("n_unique_texts"),
        (F.lit(1.0) - n_uniq.cast("double") / n_docs).alias("dup_ratio"),
    )


_SQL_CENTROID_ARR = f"""
    cent AS (
      SELECT label, p.pos,
             CAST(ROUND(CAST(embedding[p.pos + 1] AS DOUBLE) * {_FP})
                  AS BIGINT) AS xi
      FROM embeddings, UNNEST(range(len(embedding))) AS p(pos)),
    cmean AS (
      SELECT label, pos,
             CAST(SUM(xi) AS DOUBLE) / (COUNT(*) * {_FP}.0) AS x
      FROM cent GROUP BY label, pos),
    carr AS (
      SELECT label, list(x ORDER BY pos) AS c FROM cmean GROUP BY label)
"""


@query(
    "embedding_outlier_filter",
    oracle=f"""
    WITH {_SQL_CENTROID_ARR.strip()},
    d AS (
      SELECT e.vec_id, e.label,
             list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.c)
               + list_dot_product(c.c, c.c) AS dist2
      FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings) e
      JOIN carr c ON c.label = e.label),
    m AS (
      SELECT label,
             CAST(SUM(CAST(ROUND(dist2 * {_FP}) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * {_FP}.0) AS mean_d2
      FROM d GROUP BY label)
    SELECT d.vec_id, d.label, d.dist2, m.mean_d2,
           d.dist2 > 1.04 * m.mean_d2 AS is_outlier
    FROM d JOIN m ON m.label = d.label
    """,
)
def embedding_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier filter: distance of each vector to its
    label centroid, flagged when above 1.04x the label's mean squared
    distance — the standard mislabeled/noise-sample sweep before
    training on labeled embeddings. (These synthetic embeddings are
    near-uniform around their centroids — dist2/mean tops out at ~1.12
    — so the cut sits just inside that tail; a real embedding space
    would use a looser multiplier the same way.)

    Centroids come from the 1e-7 fixed-point integer sums (exact,
    associative — map-side partials; see embedding_label_centroids),
    collapse to one small array-of-structs frame, and broadcast onto
    the vectors: the per-vector distance pass is shuffle-free and
    embarrassingly parallel. Distances use the |v|^2 - 2v.c + |c|^2
    three-dot form whose left-to-right folds are bit-equal to DuckDB's
    list_dot_product, and the per-label mean re-quantizes dist2 so the
    second aggregation is exact too. Two tiny shuffles total
    ((label,pos) partials, (label) means) regardless of corpus size.
    """
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    cents = (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("x").cast("double") * _FP).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label", "pos",
            (F.col("s").cast("double") / (F.col("n") * float(_FP))).alias("x"),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "x"))), lambda s: s["x"]
            ).alias("c")
        )
    )
    v = e.select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    dist2 = (
        _ddot(F.col("v"), F.col("v"))
        - F.lit(2) * _ddot(F.col("v"), F.col("c"))
        + _ddot(F.col("c"), F.col("c"))
    )
    d = v.join(F.broadcast(cents), "label").select("vec_id", "label", dist2.alias("dist2"))
    m = d.groupBy("label").agg(
        (
            F.sum(F.round(F.col("dist2") * _FP).cast("long")).cast("double")
            / (F.count(F.lit(1)) * float(_FP))
        ).alias("mean_d2")
    )
    return d.join(F.broadcast(m), "label").select(
        "vec_id", "label", "dist2", "mean_d2",
        (F.col("dist2") > 1.04 * F.col("mean_d2")).alias("is_outlier"),
    )


_N_SHARDS = 16


@query(
    "shard_manifest",
    oracle=f"""
    SELECT {DUCKDB_MD5_LONG("CAST(doc_id AS VARCHAR)")} % {_N_SHARDS}
             AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
             AS total_tokens,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM documents
    GROUP BY 1
    """,
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic reshard manifest: every document hash-assigned to
    one of 16 training shards, with per-shard volume stats — the
    manifest a distributed tokenizer/loader consumes.

    Hash sharding (md5 of the id, not monotonic ranges) is the scale
    choice: shards stay balanced under any doc_id distribution, the
    assignment is reproducible run-to-run and engine-to-engine (same
    md5-derived integer on both sides), and appending new corpus
    batches never reshuffles old shards. The manifest itself is one
    hash-groupBy with integer sums — a 16-row result at any corpus
    size, and the same expression doubles as the write-path partition
    key (repartition(shard) before the sharded write).
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    shard = md5_long(F.col("doc_id").cast("string")) % _N_SHARDS
    return d.groupBy(shard.alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).alias(
            "total_tokens"
        ),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@query(
    "curation_keep_mask",
    oracle=f"""
    WITH canon AS (
      SELECT doc_id,
             doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
               AS is_canonical
      FROM documents),
    rep AS (
      SELECT doc_id,
             CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg)
               <= {_REP_CUT} AS keep_repetition
      FROM (SELECT doc_id,
                   list_transform(range(1, len(t)),
                                  i -> t[i] || ' ' || t[i+1]) AS bg
            FROM (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents
                  WHERE len(string_split(text, ' ')) >= 2) s1) s2),
    g AS ({_SQL_FIVEGRAMS}),
    bench AS (SELECT DISTINCT h FROM g WHERE doc_id % {_BENCH_MOD} = 0),
    contam AS (
      SELECT t.doc_id,
             COUNT(b.h) >= {_CONTAM_CUT} * COUNT(*) AS contaminated
      FROM (SELECT doc_id, h FROM g WHERE doc_id % {_BENCH_MOD} <> 0) t
      LEFT JOIN bench b ON b.h = t.h
      GROUP BY t.doc_id)
    SELECT d.doc_id,
           c.is_canonical,
           r.keep_repetition,
           NOT m.contaminated AS not_contaminated,
           c.is_canonical AND r.keep_repetition AND NOT m.contaminated
             AS final_keep
    FROM documents d
    JOIN canon c ON c.doc_id = d.doc_id
    JOIN rep r ON r.doc_id = d.doc_id
    JOIN contam m ON m.doc_id = d.doc_id
    WHERE d.doc_id % {_BENCH_MOD} <> 0
    """,
)
def curation_keep_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation decision: which training documents
    survive exact dedup (canonical copy only), repetition filtering,
    and benchmark decontamination — the keep mask the sharding stage
    consumes.

    Composes the registered stages rather than re-deriving them:
    canonicality is a window-min over the content hash (fixed-width
    md5 keys), repetition and contamination reuse the shared scorers
    (repetition_scores / contamination_scores — the same functions the
    streaming curation log runs), and the final mask is one boolean
    conjunction. Three bounded shuffles total; every input is scanned
    once per stage. Benchmark-slice documents are excluded up front —
    they are eval data, never training candidates.
    """
    tune(spark)
    d = fanout(table(spark, sf_dir, "documents"))
    canon = d.select(
        "doc_id",
        (
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy(F.md5(F.col("text"))))
        ).alias("is_canonical"),
    )
    train = d.filter(F.col("doc_id") % _BENCH_MOD != 0)
    rep = repetition_scores(train).select(
        "doc_id", F.col("keep").alias("keep_repetition")
    )
    contam = contamination_scores(train, bench_ngram_set(d)).select(
        "doc_id", (~F.col("contaminated")).alias("not_contaminated")
    )
    return (
        train.select("doc_id")
        .join(canon, "doc_id")
        .join(rep, "doc_id")
        .join(contam, "doc_id")
        .select(
            "doc_id",
            "is_canonical",
            "keep_repetition",
            "not_contaminated",
            (
                F.col("is_canonical")
                & F.col("keep_repetition")
                & F.col("not_contaminated")
            ).alias("final_keep"),
        )
    )


# -- corpus mixture weights --------------------------------------------------
# Square-root temperature reweighting of source domains (the DoReMi /
# multilingual-sampling family's alpha=0.5 baseline): upweight small
# domains relative to proportional sampling. SQRT is correctly-rounded
# IEEE (bit-identical across engines); each sqrt quantizes to a 1e-6
# fixed-point long BEFORE the normalizing sum so the total is an exact
# integer — the same determinism doctrine as sample_temperature_by_lang.
_MIX_FP = 1_000_000


@query(
    "corpus_mixture_weights",
    oracle=f"""
    WITH s AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    w AS (
      SELECT *, CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)) * {_MIX_FP})
                     AS BIGINT) AS w_fp
      FROM s)
    SELECT source, n_docs, n_tokens,
           CAST(w_fp AS DOUBLE) / (SELECT SUM(w_fp) FROM w) AS weight
    FROM w
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture weights per source domain: token counts and
    the sqrt-temperature sampling weight each domain gets in the
    training mix (proportional sampling would drown the tail domains;
    sqrt reweighting is the standard alpha=0.5 compromise).

    Scale: one groupBy on source (bounded domain count) with map-side
    combined integer sums; the normalizer is a broadcast 1-row
    aggregate joined back (never a global window), so the plan has no
    single-partition stage at any corpus size.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("n_tokens"),
    )
    w = s.withColumn(
        "w_fp",
        F.round(F.sqrt(F.col("n_tokens").cast("double")) * _MIX_FP).cast("long"),
    )
    total = w.agg(F.sum("w_fp").alias("w_total"))
    return (
        w.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.col("w_fp").cast("double") / F.col("w_total")).alias("weight"),
        )
    )


# token-budget corpus selection: tokens a source may contribute to the
# training mix. ~55% of each source's supply at this corpus's shape, so
# the cut bites on every source at every SF.
_BUDGET_TOKENS = 800


@query(
    "curation_token_budget",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {DUCKDB_MD5_LONG("'prio:' || CAST(doc_id AS VARCHAR)")} AS prio
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, n_tokens, prio,
             SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY prio, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, source, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           cum_tokens <= {_BUDGET_TOKENS} AS selected
    FROM ranked
    """,
)
def curation_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: each source domain contributes
    documents in (deterministic) priority order until its token budget
    is exhausted — the greedy knapsack every mixture-controlled
    training run executes once domain weights are fixed
    (``corpus_mixture_weights`` decides the budgets; this operator
    spends them). Priority here is a salted hash standing in for a
    model-based quality score (same contract: any total order works).

    Scale shape: one window partitioned by ``source`` (never global),
    running-sum frame over rows already co-partitioned by the
    mixture key; the token count is codegen'd `size(split(...))` at
    scan time. No joins, one shuffle on the partition key.
    """
    tune(spark)
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    prio = md5_long(F.concat(F.lit("prio:"), F.col("doc_id").cast("string")))
    scored = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        prio.alias("prio"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("prio", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return scored.withColumn("cum_tokens", F.sum("n_tokens").over(w)).select(
        "doc_id",
        "source",
        "n_tokens",
        "cum_tokens",
        (F.col("cum_tokens") <= _BUDGET_TOKENS).alias("selected"),
    )


# --------------------------------------------------------------------
# Water-filling token-budget allocation across sources
# --------------------------------------------------------------------

_SQL_WATERFILL = """
    WITH src AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))) AS BIGINT) AS c
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS total,
             CAST(SUM(c) // 2 AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS n_src
      FROM src),
    cand AS (
      SELECT a.source, a.c,
             CAST(SUM(CASE WHEN (b.c < a.c)
                             OR (b.c = a.c AND b.source <= a.source)
                      THEN b.c ELSE 0 END) AS BIGINT) AS s,
             CAST(SUM(CASE WHEN (b.c > a.c)
                             OR (b.c = a.c AND b.source > a.source)
                      THEN 1 ELSE 0 END) AS BIGINT) AS m
      FROM src a, src b GROUP BY a.source, a.c
      UNION ALL
      SELECT '', 0, 0, n_src FROM tot),
    best AS (
      SELECT c, s, m FROM cand, tot
      WHERE s + m * c <= b
      ORDER BY c DESC, source DESC LIMIT 1),
    lam AS (
      SELECT CASE WHEN m = 0 THEN NULL ELSE (b - s) // m END AS lam_floor,
             m AS m_best, b, total
      FROM best, tot)
    SELECT src.source,
           src.c AS c_tokens,
           CAST(CASE WHEN m_best = 0 THEN src.c
                     ELSE LEAST(src.c, lam_floor) END AS BIGINT)
             AS alloc_tokens,
           CAST(CASE WHEN m_best = 0 THEN src.c
                     ELSE LEAST(src.c, lam_floor) END AS DOUBLE)
             / CAST(src.c AS DOUBLE) AS keep_rate,
           b AS budget, lam_floor
    FROM src, lam
"""


@query("pipeline_token_budget_waterfill", oracle=_SQL_WATERFILL)
def pipeline_token_budget_waterfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Water-filling allocation of a 50%-of-corpus token budget across
    sources: every source keeps min(its tokens, lambda) where the
    water level lambda is chosen so the allocations exactly exhaust
    the budget — the DoReMi-ish mixture-rebalancing step that caps
    dominant domains while passing small ones through whole.

    Scale: per-source token counts are one map-side-combined aggregate
    over the corpus; everything after operates on the SOURCE table — a
    model-level object (tens..thousands of rows at any corpus size),
    so the candidate self-join is a broadcast nested loop over a tiny
    frame, never a corpus product. The prefix-feasibility rule
    (S_k + m_k*c_k <= B, maximal k) is the standard exact
    water-filling characterization; a synthetic empty-prefix candidate
    makes the degenerate all-capped case fall out of the same rule.

    Determinism: all counts exact int64; lambda is floored to an
    integer token level (alloc = min(c, floor((B-S)/m))) so the
    allocation itself is integer-exact (residual < #uncapped sources);
    keep_rate is one IEEE division. Ties on (c, source) are ordered by
    ASCII source name identically in both engines.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum(
            F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        )
        .cast("long")
        .alias("c")
    )
    return waterfill_from_counts(src)


def waterfill_from_counts(src: DataFrame) -> DataFrame:
    """Water-filling allocation from a mergeable (source, c) token
    count frame — the algebra half of
    ``pipeline_token_budget_waterfill``, shared with the streaming
    mixture monitor (``streaming/mixture.py``), whose per-batch
    partials merge into exactly this frame."""
    # Integer `div`, not double `/` + cast: above 2^53 total tokens
    # (real at 100-TB corpora) the double round-trip rounds while the
    # DuckDB oracle's `//` stays exact — keep both sides integral.
    tot = src.agg(
        F.sum("c").cast("long").alias("total"),
        F.expr("sum(c) div 2").cast("long").alias("b"),
        F.count(F.lit(1)).cast("long").alias("n_src"),
    )
    a = src.select(F.col("source").alias("sa"), F.col("c").alias("ca"))
    b = src.select(F.col("source").alias("sb"), F.col("c").alias("cb"))
    before = (F.col("cb") < F.col("ca")) | (
        (F.col("cb") == F.col("ca")) & (F.col("sb") <= F.col("sa"))
    )
    cand = (
        a.crossJoin(F.broadcast(b))
        .groupBy(F.col("sa").alias("source"), F.col("ca").alias("c"))
        .agg(
            F.sum(F.when(before, F.col("cb")).otherwise(0))
            .cast("long")
            .alias("s"),
            F.sum(F.when(~before, 1).otherwise(0)).cast("long").alias("m"),
        )
        .unionByName(
            tot.select(
                F.lit("").alias("source"),
                F.lit(0).cast("long").alias("c"),
                F.lit(0).cast("long").alias("s"),
                F.col("n_src").alias("m"),
            )
        )
    )
    best = (
        cand.crossJoin(F.broadcast(tot))
        .filter(F.col("s") + F.col("m") * F.col("c") <= F.col("b"))
        .agg(F.max(F.struct("c", "source", "s", "m")).alias("k"))
        .select("k.c", "k.s", "k.m")
    )
    lam = best.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("m") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("(b - s) div m").cast("long"))
        .alias("lam_floor"),
        F.col("m").alias("m_best"),
        "b",
        "total",
    )
    alloc = F.when(F.col("m_best") == 0, F.col("c")).otherwise(
        F.least(F.col("c"), F.col("lam_floor"))
    )
    return src.crossJoin(F.broadcast(lam)).select(
        "source",
        F.col("c").alias("c_tokens"),
        alloc.cast("long").alias("alloc_tokens"),
        (alloc.cast("double") / F.col("c").cast("double")).alias("keep_rate"),
        F.col("b").alias("budget"),
        "lam_floor",
    )


# --------------------------------------------------------------------
# First-occurrence n-gram novelty
# --------------------------------------------------------------------


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH g AS ({_SQL_FIVEGRAMS}),
    first_ AS (SELECT h, MIN(doc_id) AS fd FROM g GROUP BY h)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(SUM(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS novelty_share
    FROM g JOIN first_ f ON f.h = g.h
    GROUP BY g.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the share of a document's distinct
    5-grams whose first corpus occurrence (lowest doc_id — the stable
    stand-in for arrival order) is this document. Low-novelty
    documents are recombinations of earlier text — the
    data-mixing/dedup signal between exact dup (0 novelty against an
    identical earlier doc) and fully fresh prose (~1.0) — and the
    greedy-selection objective in coverage-maximizing corpus
    subsampling.

    Scale: one gram explode (the contamination scan's lineage), one
    groupBy(h) min — a map-side-combinable aggregate over fixed-width
    hashes — and one hash join back on h, partitioned by gram hash on
    both sides; per-doc totals then group on doc_id. No broadcasts of
    corpus-sized state, no windows; every stage is a plain shuffled
    aggregate that AQE can re-balance at 100 TB.
    """
    tune(spark)
    d = fanout(table(spark, sf_dir, "documents"))
    grams = (
        d.filter(F.size(F.split(F.col("text"), " ")) >= _CONTAM_N)
        .select("doc_id", F.explode(_fivegram_hashes()).alias("h"))
    )
    first = grams.groupBy("h").agg(F.min("doc_id").alias("fd"))
    return (
        grams.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("fd") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
            (
                F.sum(
                    F.when(F.col("fd") == F.col("doc_id"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("novelty_share"),
        )
    )


# --------------------------------------------------------------------
# Deterministic per-epoch training shuffle manifest
# --------------------------------------------------------------------

_EPOCHS = 3
_EPOCH_HEAD = 10


@query(
    "pipeline_epoch_shuffle",
    oracle=f"""
    WITH e(epoch) AS (VALUES (0), (1), (2)),
    h AS (
      SELECT e.epoch, d.doc_id,
             {DUCKDB_MD5_LONG(
                 "CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)",
                 salt="eshuf",
             )} AS h
      FROM documents d, e),
    r AS (
      SELECT epoch, doc_id, h,
             ROW_NUMBER() OVER (PARTITION BY epoch
                                ORDER BY h, doc_id) AS position
      FROM h)
    SELECT epoch, position, doc_id
    FROM r WHERE position <= {_EPOCH_HEAD}
    ORDER BY epoch, position
    """,
)
def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training shuffle: each epoch orders the
    corpus by a salted hash of (epoch, doc_id), so every epoch is an
    independent, reproducible permutation — the data-ordering
    contract a distributed trainer needs (re-runs and resumes see the
    SAME order, no shared-seed RNG across executors). Emitted as the
    head-of-order manifest (first {_EPOCH_HEAD} docs per epoch) that a
    resume-from-step audit checks.

    Scale: the permutation is never materialized — the head comes
    from :func:`bottomk_per_group` (hash-cutoff prune + probe), so
    each epoch scans the corpus with a codegen'd filter keeping ~80
    rows and only those enter a window. A trainer consuming the FULL
    epoch order would instead range-partition on h — same hash
    column, zero extra state.
    """
    tune(spark)
    from ..functions.ranks import bottomk_per_group

    d = table(spark, sf_dir, "documents").select("doc_id")
    long = d.select(
        "doc_id",
        F.explode(F.array(*[F.lit(e) for e in range(_EPOCHS)])).alias("epoch"),
    ).select(
        "epoch",
        "doc_id",
        md5_long(
            F.concat_ws(
                ":", F.col("epoch").cast("string"), F.col("doc_id").cast("string")
            ),
            salt="eshuf",
        ).alias("h"),
    )
    head = bottomk_per_group(long, ["epoch"], "h", ["doc_id"], _EPOCH_HEAD)
    return head.select(
        "epoch", F.col("rk").alias("position"), "doc_id"
    ).orderBy("epoch", "position")


# --------------------------------------------------------------------
# Curriculum difficulty deciles
# --------------------------------------------------------------------


@query(
    "pipeline_curriculum_buckets",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(FLOOR(CAST(len(list_filter(string_split(text, ' '),
                                             x -> x IN ('the', 'a', 'is',
                                                        'of', 'and')))
                             AS DOUBLE) * 1000000
                        / len(string_split(text, ' '))) AS BIGINT)
               AS ease_micro
      FROM documents),
    r AS (
      SELECT doc_id, n_tokens, ease_micro,
             ROW_NUMBER() OVER (ORDER BY ease_micro DESC, doc_id) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM d),
    b AS (
      SELECT CAST(((rk - 1) * 10) // n AS INTEGER) AS bucket,
             n_tokens, ease_micro
      FROM r)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(ease_micro) AS DOUBLE) / COUNT(*) / 1000000.0
             AS mean_ease,
           CAST(MIN(ease_micro) AS DOUBLE) / 1000000.0 AS min_ease
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def pipeline_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning difficulty deciles: documents are scored by
    an easiness proxy (stopword density — high function-word density
    correlates with simple prose), ranked corpus-wide, and cut into
    10 exact rank deciles; each bucket reports its token budget and
    easiness stats. This is the schedule table an easy-to-hard
    curriculum trainer consumes (bucket 0 first), built on the same
    doctrine as ``customer_pareto_curve``'s deciles.

    Scale: easiness is a map-only expression (one floor-quantized
    division per doc — no per-doc float accumulates anywhere); the
    global rank uses :func:`global_rank_desc` (percentile-sketch
    bucketed rank — never a global window over the corpus); decile
    ids are exact INTEGER arithmetic ((rk-1)*10 div n); bucket stats
    are exact integer sums with one IEEE tail per decile row.
    """
    tune(spark)
    from ..functions.ranks import global_rank_desc

    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(w) for w in ("the", "a", "is", "of", "and")])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    scored = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.floor(
            n_stop.cast("double") * 1000000 / F.size(toks)
        )
        .cast("long")
        .alias("ease_micro"),
    )
    ranked, n = global_rank_desc(scored, "ease_micro", "doc_id", "rk")
    b = ranked.select(
        F.expr(f"cast(((rk - 1) * 10) div {n} as int)").alias("bucket"),
        "n_tokens",
        "ease_micro",
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (
                F.sum("ease_micro").cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0)
            ).alias("mean_ease"),
            (F.min("ease_micro").cast("double") / F.lit(1000000.0)).alias(
                "min_ease"
            ),
        )
        .orderBy("bucket")
    )


_BAL_HASH = DUCKDB_MD5_LONG("CAST(doc_id AS VARCHAR)", salt="bal")


@query(
    "sample_class_balanced_downsample",
    oracle=f"""
    WITH sizes AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
    m AS (SELECT MIN(n) AS m FROM sizes),
    r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY {_BAL_HASH}, doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
    FROM r, m WHERE rk <= m.m
    """,
)
def sample_class_balanced_downsample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Class-balanced downsampling: keep exactly min-class-size
    documents PER LANGUAGE, selected by deterministic salted-hash
    order — the uniform-without-replacement per-class subsample that
    equalizes a skewed label distribution before training (the
    hard-quota sibling of ``sample_temperature_by_lang``'s soft
    reweighting). Every class ends up the same size by construction.

    Shape: per-class counts are one map-side aggregate; the min class
    size is an O(#classes) driver scalar (bounded-collect doctrine);
    per-class selection rides :func:`bottomk_per_group` — the hash
    cutoff keeps ~c0·k rows per class out of the scan, so no class's
    full row set ever streams through one window task, and the probe
    loop guarantees EXACT plain-window semantics (which is what the
    oracle expresses).
    """
    tune(spark)
    from ..functions.ranks import bottomk_per_group

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", md5_long(F.col("doc_id").cast("string"), salt="bal").alias("h")
    )
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("__n"))
    m = min(r["__n"] for r in counts.collect())
    kept = bottomk_per_group(d, ["lang"], "h", ["doc_id"], int(m), counts=counts)
    return kept.select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))
