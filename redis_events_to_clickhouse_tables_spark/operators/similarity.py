"""Similarity search over ``embeddings`` (north-star additions).

Brute-force cosine top-k as the exact baseline, a sign-bucket (LSH/IVF
style) variant as the scale path, and embedding-cosine near-dup
pairing. Every dot product folds in strict left-to-right double
precision — the same evaluation order DuckDB's ``list_dot_product``
uses, so cosines match bit-for-bit and the oracle can compare values
exactly. The brute-force top-k family (``sim_bruteforce_topk``, the
recall queries built on it, ``embedding_hubness_koccurrence``) scores
in one Arrow kernel, ``_cosine_topk``: numpy over each corpus batch,
returning only each probe's top k. The other queries use the JVM-side
``zip_with``/``aggregate`` higher-order functions ``_dot``/``_norm``
(``_ddot`` for the k-means ones), which Spark interprets element by
element.

Scale design: the exact top-k ships the (small) query set to the
kernel and streams the corpus once — no join, and only k rows per probe
and batch reach the ranking shuffle. The bucketed variant shows the
100-TB shape: partition the corpus by a cheap locality-sensitive
bucket, join queries only to their bucket, rank within. A real IVF
would learn centroids; the sign-bucket keeps it deterministic and
oracle-checkable.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.lineage import model_checkpoint
from ..functions.pyworker import worker_setup
from ..registry import query
from ..session import tune
from ..sources.tables import table

_N_QUERIES = 10  # vec_id < 10 are the query vectors
_TOP_K = 5


def _dot(a: str, b: str) -> Column:
    """Left-to-right double-precision dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(col: str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(col), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


_SQL_COSINE = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    "    * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)

# corpus rows x probes one kernel step scores: bounds each of its
# scratch arrays to 2 MB whatever the Arrow batch size
_KERNEL_CELLS = 1 << 18


def _cosine_topk(e: DataFrame, probe: Column, k: int) -> DataFrame:
    """Exact cosine top-``k`` of every probe (the rows of ``e`` that
    ``probe`` selects) over the corpus ``e``: ``(q_id, c_id, cosine,
    rk)``, a vector never matching its own ``vec_id``, the rows
    ``_dot``/``_norm`` give through a broadcast join and a window.

    The probes are bounded by the query (10 or 200 vectors), so they are
    collected once and shipped with the kernel, and the corpus streams
    through ``mapInArrow`` once. Per Arrow batch the kernel scores every
    probe against every row with numpy, folding dots and norms left to
    right in float64 (``acc = acc + a[i] * b[i]``, then a square root:
    the IEEE steps of ``_dot``/``_norm`` and of DuckDB's
    ``list_dot_product``), and keeps each probe's best ``k`` rows in
    Spark's order: cosine descending with NaN greatest and nulls last,
    then ``c_id``. A null vector or one holding a null has a null norm;
    vectors of different lengths have a null dot. The kernel returns the
    dot and both norms and Spark divides, so the cosine and a zero
    norm's null (or ANSI ``DIVIDE_BY_ZERO``) are Spark's own: one
    zero-denominator row per probe and batch passes the cut for that.
    The ``row_number`` window then ranks the survivors exactly.
    """

    def vectors(emb):
        """The well-formed vectors of a ``list<float>`` array grouped by
        length, ``[(rows, float64 matrix, norms)]``. A null vector and
        one holding a null are left out: their norm is null."""
        lens = pc.list_value_length(emb).fill_null(0).to_numpy()
        vals = emb.flatten()
        x = vals.fill_null(0).to_numpy().astype(np.float64)
        bad = emb.is_null().to_numpy(zero_copy_only=False).copy()
        if vals.null_count:
            holder = np.repeat(np.arange(len(emb)), lens)
            bad[holder[vals.is_null().to_numpy(zero_copy_only=False)]] = True
        starts = np.cumsum(lens) - lens
        groups = []
        for n in np.unique(lens[~bad]):
            rows = np.flatnonzero(~bad & (lens == n))
            m = x[starts[rows, None] + np.arange(n)]
            sq = np.zeros(len(rows))
            for i in range(n):
                sq += m[:, i] * m[:, i]
            groups.append((rows, m, np.sqrt(sq)))
        return groups

    probes = e.filter(probe).select("vec_id", "embedding").toArrow()
    q_id = probes.column(0).to_numpy()
    q_vecs = vectors(probes.column(1).combine_chunks())
    q_norm = np.zeros(len(q_id))
    q_ok = np.zeros(len(q_id), dtype=bool)
    for rows, _, norms in q_vecs:
        q_norm[rows], q_ok[rows] = norms, True

    def top(rb):
        """Each probe's best ``k`` rows of one corpus slice."""
        c_id = rb.column(0).to_numpy()
        n = len(c_id)
        dot = np.zeros((len(q_id), n))
        dot_ok = np.zeros((len(q_id), n), dtype=bool)
        c_norm = np.zeros(n)
        c_ok = np.zeros(n, dtype=bool)
        for rows, m, norms in vectors(rb.column(1)):
            c_norm[rows], c_ok[rows] = norms, True
            for q_rows, qm, _ in q_vecs:
                if qm.shape[1] != m.shape[1]:
                    continue  # zip_with pads with nulls: a null dot
                acc = np.zeros((len(q_rows), len(rows)))
                for i in range(m.shape[1]):
                    acc += np.multiply.outer(qm[:, i], m[:, i])
                dot[np.ix_(q_rows, rows)] = acc
                dot_ok[np.ix_(q_rows, rows)] = True
        den = np.multiply.outer(q_norm, c_norm)
        den_ok = np.logical_and.outer(q_ok, c_ok)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dot / den
        scored = dot_ok & den_ok & (den != 0)
        nan = scored & np.isnan(cos)
        live = np.not_equal.outer(q_id, c_id)
        # one float per cell, ordered like Spark but coarser (NaN ties
        # +inf, null ties -inf): ties only widen the cut below
        s = np.where(scored, np.where(nan, np.inf, cos), -np.inf)
        s[~live] = -np.inf
        cand = live
        if n > k:
            cand = live & (s >= np.partition(s, n - k, axis=1)[:, n - k, None])
        p, b = np.nonzero(cand)
        cls = np.where(nan[p, b], 0, np.where(scored[p, b], 1, 2))
        val = np.where(cls == 1, cos[p, b], 0.0)
        order = np.lexsort((c_id[b], -val, cls, p))
        p, b = p[order], b[order]
        rank = np.arange(len(p)) - np.searchsorted(p, p)  # p is sorted
        p, b = p[rank < k], b[rank < k]
        zero = live & den_ok & (den == 0)
        zero[p, b] = False
        zp = np.flatnonzero(zero.any(axis=1))
        p, b = np.r_[p, zp], np.r_[b, zero[zp].argmax(axis=1)]
        return pa.RecordBatch.from_arrays(
            [
                pa.array(q_id[p]),
                pa.array(c_id[b]),
                pa.array(dot[p, b], mask=~dot_ok[p, b]),
                pa.array(q_norm[p], mask=~q_ok[p]),
                pa.array(c_norm[b], mask=~c_ok[b]),
            ],
            names=["q_id", "c_id", "dot", "q_norm", "c_norm"],
        )

    def kernel(batches):
        worker_setup()
        step = max(1, _KERNEL_CELLS // max(1, len(q_id)))
        for batch in batches:
            for lo in range(0, batch.num_rows, step):
                yield top(batch.slice(lo, step))

    scored = (
        e.filter(F.col("vec_id").isNotNull())
        .select("vec_id", "embedding")
        .mapInArrow(
            kernel, "q_id long, c_id long, dot double, q_norm double, c_norm double"
        )
    )
    cosine = (F.col("dot") / (F.col("q_norm") * F.col("c_norm"))).alias("cosine")
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        scored.select("q_id", "c_id", cosine)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


@query(
    "sim_bruteforce_topk",
    oracle=f"""
    SELECT q_id, c_id, cosine, CAST(rk AS INTEGER) AS rk FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
             {_SQL_COSINE} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rk
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < {_N_QUERIES}) t
    WHERE rk <= {_TOP_K}
    """,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: the query vectors against one corpus scan
    (``_cosine_topk``), windowed rank."""
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    return _cosine_topk(e, F.col("vec_id") < _N_QUERIES, _TOP_K)


_SQL_BUCKET = (
    "(CASE WHEN {e}.embedding[1] > 0 THEN 1 ELSE 0 END"
    " + CASE WHEN {e}.embedding[2] > 0 THEN 2 ELSE 0 END"
    " + CASE WHEN {e}.embedding[3] > 0 THEN 4 ELSE 0 END"
    " + CASE WHEN {e}.embedding[4] > 0 THEN 8 ELSE 0 END)"
)


def _bucket(col: str) -> Column:
    """Sign bucket over the first 4 dimensions (16 buckets)."""
    out = F.lit(0)
    for i in range(4):
        out = out + F.when(F.element_at(F.col(col), i + 1) > 0, 2**i).otherwise(0)
    return out


@query(
    "sim_ivf_bucketed_topk",
    oracle=f"""
    SELECT q_id, c_id, cosine, CAST(rk AS INTEGER) AS rk FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
             {_SQL_COSINE} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rk
      FROM embeddings a
      JOIN embeddings b
        ON a.vec_id <> b.vec_id
       AND {_SQL_BUCKET.format(e="a")} = {_SQL_BUCKET.format(e="b")}
      WHERE a.vec_id < {_N_QUERIES}) t
    WHERE rk <= 3
    """,
)
def sim_ivf_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: join restricted to a sign-LSH bucket.

    The corpus is partitioned by bucket (equi-join key), so at scale
    each query only meets ~1/16th of the corpus — the IVF shape with a
    deterministic coarse quantizer.
    """
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_norm"),
        _bucket("embedding").alias("bucket"),
    )
    c = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        _norm("embedding").alias("c_norm"),
        _bucket("embedding").alias("bucket"),
    )
    pairs = c.join(F.broadcast(q), ["bucket"]).filter(F.col("q_id") != F.col("c_id"))
    cosine = (_dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))).alias("cosine")
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        pairs.select("q_id", "c_id", cosine)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


_SQL_BUCKET8 = " + ".join(
    "(CASE WHEN {e}.embedding[%d] > 0 THEN %d ELSE 0 END)" % (i + 1, 2**i)
    for i in range(8)
)


def _bucket8(col: str):
    """Sign bucket over the first 8 dimensions (256 buckets)."""
    out = F.lit(0)
    for i in range(8):
        out = out + F.when(F.element_at(F.col(col), i + 1) > 0, 2**i).otherwise(0)
    return out


def _bucket_pairs(e: DataFrame) -> DataFrame:
    """Every (vec_a < vec_b) embedding pair sharing a :func:`_bucket8`
    sign bucket, each side with its vector and norm for
    :func:`_pair_cosine` — an equi-join on the bucket, never
    all-pairs."""
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("a_emb"),
        _norm("embedding").alias("a_norm"),
        _bucket8("embedding").alias("bucket"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("b_emb"),
        _norm("embedding").alias("b_norm"),
        _bucket8("embedding").alias("bucket"),
    )
    return a.join(b, ["bucket"]).filter(F.col("vec_a") < F.col("vec_b"))


def _pair_cosine() -> Column:
    """Cosine of a :func:`_bucket_pairs` row."""
    return _dot("a_emb", "b_emb") / (F.col("a_norm") * F.col("b_norm"))


@query(
    "sim_embedding_neardup",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_SQL_COSINE} AS cosine
    FROM embeddings a
    JOIN embeddings b
      ON a.vec_id < b.vec_id
     AND {_SQL_BUCKET8.format(e="a")} = {_SQL_BUCKET8.format(e="b")}
    WHERE {_SQL_COSINE} >= 0.3
    """,
)
def sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.3) within
    sign-LSH buckets (first 8 dims, 256 buckets).

    This is deliberately NOT the all-pairs quadratic form: at 100 TB
    near-dup detection must bucket first (cost drops ~|buckets|x) and
    exact-verify only collided candidates. Sign-LSH recall for
    high-cosine pairs is the standard hyperplane-LSH tradeoff; more
    bands / multi-probe raise it. The oracle runs the identical
    bucketed algorithm, so results match exactly. The threshold sits
    at 0.3 because this corpus's synthetic embeddings top out near
    cosine 0.49 in-bucket — a 0.8 cut selected nothing at any SF,
    leaving the query value-unchecked; real near-dup deployments tune
    this cut to their embedding space the same way.
    """
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    return (
        _bucket_pairs(e)
        .select("vec_a", "vec_b", _pair_cosine().alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
    )


_K_CLUSTERS = 8  # k-means IVF: cluster count
_KM_ITERS = 2  # fixed Lloyd iterations (determinism > convergence)
_KM_FP = 10_000_000  # fixed-point quantum for exact centroid means


def _ddot(a: Column, b: Column) -> Column:
    """Left-to-right dot product of two double arrays (mirrors DuckDB
    list_dot_product exactly, so distances/cosines match bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _dist2(v: Column, c: Column) -> Column:
    """Squared L2 distance as |v|^2 - 2 v.c + |c|^2 — three list dots,
    the same expression tree the SQL oracle uses."""
    return _ddot(v, v) - F.lit(2) * _ddot(v, c) + _ddot(c, c)


def _km_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def _nearest_cid() -> Column:
    """The argmin fold over a row's ``cents`` array (cid-sorted
    (cid, c) structs): the cid of the centroid nearest to ``v`` by
    :func:`_dist2`. Strict ``<`` keeps the first (lowest-cid) centroid
    on distance ties."""
    return F.aggregate(
        F.col("cents"),
        F.struct(
            F.lit(float("inf")).alias("d"), F.lit(-1).cast("int").alias("cid")
        ),
        lambda acc, ct: F.when(
            _dist2(F.col("v"), ct["c"]) < acc["d"],
            F.struct(_dist2(F.col("v"), ct["c"]).alias("d"), ct["cid"].alias("cid")),
        ).otherwise(acc),
        lambda acc: acc["cid"],
    )


def _km_assign(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cid): nearest centroid per vector, WITHOUT a shuffle.

    The K centroids collapse to one array-of-structs row (sorted by
    cid), broadcast to every vector; the :func:`_nearest_cid` fold
    computes the argmin inline, keeping the lowest cid on distance ties
    — the same order the oracle's ROW_NUMBER ``ORDER BY dist, cid``
    picks. Per-row work is K x 3 list dots; the assignment stage is
    embarrassingly parallel at any scale.
    """
    arr = cents.agg(
        F.sort_array(F.collect_list(F.struct(F.col("cid"), F.col("c")))).alias("cents")
    )
    return vectors.crossJoin(F.broadcast(arr)).select(
        "vec_id", "v", _nearest_cid().alias("cid")
    )


def _km_update(assigned: DataFrame) -> DataFrame:
    """(cid, c): per-cluster mean vectors via 1e-7 fixed-point integer
    sums (exact + associative -> map-side partials, engine-identical
    bits; see embedding_label_centroids). One shuffle of (cid, pos)
    partials — K x dims rows per partition regardless of corpus size.
    Clusters that lost all members drop out, exactly like the oracle's
    GROUP BY."""
    sums = (
        assigned.select("cid", F.posexplode("v").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(
            F.sum(F.round(F.col("x") * _KM_FP).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    means = sums.select(
        "cid", "pos", (F.col("s").cast("double") / (F.col("n") * float(_KM_FP))).alias("x")
    )
    return means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "x"))), lambda s: s["x"]
        ).alias("c")
    )


def _km_fit_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, cid): every vector assigned to its cluster after
    ``_KM_ITERS`` deterministic Lloyd rounds (init = the K lowest
    vec_ids)."""
    # persist the corpus vectors once: every iteration's centroid
    # update AND the final assignment scan this frame — without the
    # persist each k-means round re-reads embeddings.parquet and
    # re-casts the arrays (VERDICT r8 item 5)
    v = _km_vectors(spark, sf_dir).persist()
    cents = v.filter(F.col("vec_id") < _K_CLUSTERS).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("c")
    )
    for _ in range(_KM_ITERS):
        # materialize each round's centroids (K x dims doubles) with a
        # lineage-cutting checkpoint (r10): the next assignment
        # broadcasts them, and persist alone left every round's plan
        # chained through all earlier rounds — Catalyst re-analysis of
        # the growing tree cost more than the Lloyd compute
        cents = model_checkpoint(_km_update(_km_assign(v, cents)))
    return _km_assign(v, cents)


def _km_fin_parts(k: int, iters: int) -> list[str]:
    """CTE parts unrolling the deterministic Lloyd pipeline up to the
    final assignment ``fin(vec_id, v, cid)`` — shared by every oracle
    that consumes the trained quantizer (top-k search, label purity)."""

    def dot(a: str, b: str) -> str:
        return f"list_dot_product({a}, {b})"

    def dist(v: str, c: str) -> str:
        return f"({dot(v, v)} - 2*{dot(v, c)} + {dot(c, c)})"

    parts = [
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS c FROM v"
        f" WHERE vec_id < {k})",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(
            f"a{i} AS (SELECT vec_id, v, cid,"
            f" ROW_NUMBER() OVER (PARTITION BY vec_id"
            f" ORDER BY {dist('v', 'c')}, cid) AS rk"
            f" FROM v CROSS JOIN {prev})"
        )
        parts.append(f"b{i} AS (SELECT vec_id, v, cid FROM a{i} WHERE rk = 1)")
        parts.append(
            f"s{i} AS (SELECT cid, p.pos,"
            f" CAST(ROUND(v[p.pos + 1] * {_KM_FP}) AS BIGINT) AS xi"
            f" FROM b{i}, UNNEST(range(len(v))) AS p(pos))"
        )
        parts.append(
            f"m{i} AS (SELECT cid, pos,"
            f" CAST(SUM(xi) AS DOUBLE) / (COUNT(*) * {_KM_FP}.0) AS x"
            f" FROM s{i} GROUP BY cid, pos)"
        )
        parts.append(f"c{i} AS (SELECT cid, list(x ORDER BY pos) AS c FROM m{i} GROUP BY cid)")
        prev = f"c{i}"
    parts.append(
        f"af AS (SELECT vec_id, v, cid,"
        f" ROW_NUMBER() OVER (PARTITION BY vec_id"
        f" ORDER BY {dist('v', 'c')}, cid) AS rk"
        f" FROM v CROSS JOIN {prev})"
    )
    parts.append("fin AS (SELECT vec_id, v, cid FROM af WHERE rk = 1)")
    return parts


def _kmeans_oracle_sql(k: int, iters: int, n_queries: int, topk: int) -> str:
    """The identical k-means top-k pipeline unrolled as DuckDB CTEs."""

    def dot(a: str, b: str) -> str:
        return f"list_dot_product({a}, {b})"

    parts = _km_fin_parts(k, iters)
    cos = f"{dot('a.v', 'b.v')} / (sqrt({dot('a.v', 'a.v')}) * sqrt({dot('b.v', 'b.v')}))"
    return (
        ",\n".join(parts)
        + f"""
    SELECT q_id, c_id, cosine, CAST(rk AS INTEGER) AS rk FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id, {cos} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY {cos} DESC, b.vec_id) AS rk
      FROM fin a JOIN fin b ON a.cid = b.cid AND a.vec_id <> b.vec_id
      WHERE a.vec_id < {n_queries}) t
    WHERE rk <= {topk}
    """
    )


@query(
    "sim_ivf_kmeans_topk",
    oracle=_kmeans_oracle_sql(_K_CLUSTERS, _KM_ITERS, _N_QUERIES, 3),
)
def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with a LEARNED coarse quantizer: deterministic k-means
    (VERDICT r1 item 4) instead of sign-LSH buckets.

    Lloyd's algorithm, made engine-exact: init = the K lowest vec_ids
    (data-derived, seed-free), a FIXED number of iterations, fixed-point
    centroid means, and strict-< argmin tiebreak on cid. The oracle
    unrolls the identical iterations as SQL CTEs, so this genuinely
    iterative trained-index pipeline is still value-checked exactly.

    Scale shape per iteration: assignment is a broadcast fold (no
    shuffle, linear scan); the centroid update shuffles only (cid, pos)
    fixed-point partial sums — K x dims rows. Search = queries join
    candidates on the learned cluster id, cosine-ranked within; each
    query meets ~1/K of the corpus, the IVF promise.
    """
    tune(spark)
    assigned = _km_fit_assign(spark, sf_dir)
    q = assigned.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_emb"),
        F.sqrt(_ddot(F.col("v"), F.col("v"))).alias("q_norm"),
        "cid",
    )
    c = assigned.select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("c_emb"),
        F.sqrt(_ddot(F.col("v"), F.col("v"))).alias("c_norm"),
        "cid",
    )
    pairs = c.join(F.broadcast(q), ["cid"]).filter(F.col("q_id") != F.col("c_id"))
    cosine = (
        _ddot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))
    ).alias("cosine")
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        pairs.select("q_id", "c_id", cosine)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


@query(
    "sim_ivf_recall",
    oracle=f"""
    WITH ex AS (
      SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rk
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {_N_QUERIES}) t
      WHERE rk <= 3),
    iv AS (
      SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rk
        FROM embeddings a
        JOIN embeddings b
          ON a.vec_id <> b.vec_id
         AND {_SQL_BUCKET.format(e="a")} = {_SQL_BUCKET.format(e="b")}
        WHERE a.vec_id < {_N_QUERIES}) t
      WHERE rk <= 3)
    SELECT ex.q_id, CAST(COUNT(iv.q_id) AS DOUBLE) / 3 AS recall_at_3
    FROM ex LEFT JOIN iv ON iv.q_id = ex.q_id AND iv.c_id = ex.c_id
    GROUP BY ex.q_id
    """,
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality metric: recall@3 of the sign-bucket IVF against
    exact brute-force top-3, per query vector.

    The measurement every ANN deployment runs before trusting an
    index: build the ground truth on a (small, broadcastable) query
    sample, left-join the approximate results onto it, and count hits.
    Composes the two registered pipelines unchanged, so the metric
    can't drift from what the index actually serves. At scale the
    ground-truth side is the expensive half — which is exactly why
    it runs over the bounded query set, not the corpus.
    """
    tune(spark)
    ex = sim_bruteforce_topk(spark, sf_dir).filter(F.col("rk") <= 3).select(
        "q_id", "c_id"
    )
    iv = sim_ivf_bucketed_topk(spark, sf_dir).select(
        "q_id", "c_id", F.lit(1).alias("hit")
    )
    return (
        ex.join(iv, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg((F.count("hit").cast("double") / F.lit(3)).alias("recall_at_3"))
    )


_FP_SCALE = 10_000_000  # fixed-point quantum for cross-engine-exact sums


@query(
    "embedding_label_centroids",
    oracle=f"""
    WITH u AS (
      SELECT label, p.pos,
             CAST(ROUND(CAST(embedding[p.pos + 1] AS DOUBLE) * {_FP_SCALE})
                  AS BIGINT) AS xi
      FROM embeddings, UNNEST(range(len(embedding))) AS p(pos))
    SELECT label, pos,
           CAST(SUM(xi) AS DOUBLE) / (COUNT(*) * {_FP_SCALE}.0) AS centroid
    FROM u GROUP BY label, pos
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vector, one row per (label, dimension).

    Double-precision sums are summation-order-dependent (and float32
    -> decimal rounding hits round-half ties differently across
    engines), so each coordinate is quantized to 1e-7 fixed-point
    BIGINTs first: integer sums are exact and associative, partial
    aggregation stays map-side, and both engines produce the same
    bits. The quantization is the documented semantic (standard for
    deterministic embedding aggregation); the final division is one
    IEEE op. At scale this is a single shuffle of (label, pos)
    partial sums — dims x labels rows per partition, regardless of
    row count.
    """
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("x").cast("double") * _FP_SCALE).cast("long")).alias(
                "s"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            "pos",
            (F.col("s").cast("double") / (F.col("n") * float(_FP_SCALE))).alias(
                "centroid"
            ),
        )
    )


_TRUNC_DIMS = 16  # head-dimension retrieval budget (of 64)

_SQL_COSINE_TRUNC = (
    f"list_dot_product(list_slice(a.embedding::DOUBLE[], 1, {_TRUNC_DIMS}),"
    f"                 list_slice(b.embedding::DOUBLE[], 1, {_TRUNC_DIMS}))"
    f" / (sqrt(list_dot_product(list_slice(a.embedding::DOUBLE[], 1, {_TRUNC_DIMS}),"
    f"                          list_slice(a.embedding::DOUBLE[], 1, {_TRUNC_DIMS})))"
    f"    * sqrt(list_dot_product(list_slice(b.embedding::DOUBLE[], 1, {_TRUNC_DIMS}),"
    f"                            list_slice(b.embedding::DOUBLE[], 1, {_TRUNC_DIMS}))))"
)


@query(
    "sim_truncated_dims_recall",
    oracle=f"""
    WITH ex AS (
      SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rk
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {_N_QUERIES}) t
      WHERE rk <= {_TOP_K}),
    tr AS (
      SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_COSINE_TRUNC} DESC, b.vec_id) AS rk
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {_N_QUERIES}) t
      WHERE rk <= {_TOP_K})
    SELECT ex.q_id, CAST(COUNT(tr.q_id) AS DOUBLE) / {_TOP_K} AS recall_at_5
    FROM ex LEFT JOIN tr ON tr.q_id = ex.q_id AND tr.c_id = ex.c_id
    GROUP BY ex.q_id
    """,
)
def sim_truncated_dims_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-dimension (matryoshka-style) retrieval quality: recall@5 of
    cosine top-k computed on only the first 16 of 64 dimensions,
    against the full-dimension ground truth.

    The measurement behind dimension-truncated serving: if head-dim
    recall holds, the index stores and scans a quarter of the vector
    bytes. The truncated pass reuses the brute-force shape (broadcast
    query side, one corpus stream, no shuffle) with ``slice`` applied
    before the dot product, so scan bytes genuinely shrink — column
    pruning can't do this (one array column), slicing inside the
    kernel is the array analog.
    """
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    tr = e.select("vec_id", F.slice("embedding", 1, _TRUNC_DIMS).alias("emb"))
    q = tr.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("qe")
    )
    c = tr.select(F.col("vec_id").alias("c_id"), F.col("emb").alias("ce"))
    cos = _dot("qe", "ce") / (_norm("qe") * _norm("ce"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    trunc5 = (
        F.broadcast(q)
        .join(c, F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOP_K)
        .select("q_id", "c_id", F.lit(1).alias("hit"))
    )
    ex = sim_bruteforce_topk(spark, sf_dir).select("q_id", "c_id")
    return (
        ex.join(trunc5, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(
            (F.count("hit").cast("double") / F.lit(_TOP_K)).alias("recall_at_5")
        )
    )


# -- product quantization (PQ) ----------------------------------------------
# The billion-scale ANN memory trick (Jegou et al. 2011, public): carve
# the 64-dim space into _PQ_M subspaces, k-means each subspace into
# _PQ_K codes, store every vector as _PQ_M small codes (here 4 x 3
# bits vs 64 x 8 bytes), and answer queries with Asymmetric Distance
# Computation — a per-query lookup table of query-to-centroid
# distances per subspace, so candidate scoring is _PQ_M table lookups
# + adds instead of a 64-dim dot product. Codebook training reuses the
# fixed-point Lloyd machinery of sim_ivf_kmeans_topk; the _PQ_M
# partial distances quantize to 1e-9 fixed-point longs before the sum
# so the ADC total is associative and engine-exact.
_PQ_M = 4
_PQ_SUB = 16  # 64 dims / 4 subspaces
_PQ_K = 8
_PQ_ITERS = 1  # fixed Lloyd rounds per subspace (determinism > fit)
_PQ_FP = 1_000_000_000


def _pq_oracle_sql() -> str:
    def dot(a: str, b: str) -> str:
        return f"list_dot_product({a}, {b})"

    def dist(v: str, c: str) -> str:
        return f"({dot(v, v)} - 2*{dot(v, c)} + {dot(c, c)})"

    parts = ["WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"]
    for m in range(_PQ_M):
        lo, hi = m * _PQ_SUB + 1, (m + 1) * _PQ_SUB
        parts.append(f"v{m} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM v)")
        parts.append(
            f"pc0_{m} AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS c"
            f" FROM v{m} WHERE vec_id < {_PQ_K})"
        )
        prev = f"pc0_{m}"
        for i in range(1, _PQ_ITERS + 1):
            parts.append(
                f"pa{i}_{m} AS (SELECT vec_id, v, cid,"
                f" ROW_NUMBER() OVER (PARTITION BY vec_id"
                f" ORDER BY {dist('v', 'c')}, cid) AS rk"
                f" FROM v{m} CROSS JOIN {prev})"
            )
            parts.append(
                f"pb{i}_{m} AS (SELECT vec_id, v, cid FROM pa{i}_{m} WHERE rk = 1)"
            )
            parts.append(
                f"ps{i}_{m} AS (SELECT cid, p.pos,"
                f" CAST(ROUND(v[p.pos + 1] * {_KM_FP}) AS BIGINT) AS xi"
                f" FROM pb{i}_{m}, UNNEST(range(len(v))) AS p(pos))"
            )
            parts.append(
                f"pm{i}_{m} AS (SELECT cid, pos,"
                f" CAST(SUM(xi) AS DOUBLE) / (COUNT(*) * {_KM_FP}.0) AS x"
                f" FROM ps{i}_{m} GROUP BY cid, pos)"
            )
            parts.append(
                f"pc{i}_{m} AS (SELECT cid, list(x ORDER BY pos) AS c"
                f" FROM pm{i}_{m} GROUP BY cid)"
            )
            prev = f"pc{i}_{m}"
        parts.append(
            f"enc_{m} AS (SELECT vec_id, cid FROM"
            f" (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id"
            f"  ORDER BY {dist('v', 'c')}, cid) AS rk"
            f"  FROM v{m} CROSS JOIN {prev}) t WHERE rk = 1)"
        )
        parts.append(
            f"lut_{m} AS (SELECT q.vec_id AS q_id, c.cid,"
            f" CAST(ROUND({dist('q.v', 'c.c')} * {_PQ_FP}) AS BIGINT) AS d_fp"
            f" FROM v{m} q CROSS JOIN {prev} c WHERE q.vec_id < {_N_QUERIES})"
        )
        parts.append(
            f"p_{m} AS (SELECT l.q_id, e.vec_id AS c_id, l.d_fp"
            f" FROM enc_{m} e JOIN lut_{m} l ON l.cid = e.cid)"
        )
    union = " UNION ALL ".join(f"SELECT * FROM p_{m}" for m in range(_PQ_M))
    return (
        ",\n".join(parts)
        + f""",
    allp AS ({union})
    SELECT q_id, c_id, adc_dist, CAST(rk AS INTEGER) AS rk FROM (
      SELECT q_id, c_id,
             CAST(SUM(d_fp) AS DOUBLE) / {_PQ_FP} AS adc_dist,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY SUM(d_fp), c_id) AS rk
      FROM allp WHERE q_id <> c_id GROUP BY q_id, c_id) t
    WHERE rk <= 3
    """
    )


def _km_assign_long(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """Long-form :func:`_km_assign`: vectors and centroids carry a
    subspace id ``m``; the per-``m`` centroid sets collapse to one
    array row each (sorted by cid — same tie order) and broadcast-join
    on ``m``. The argmin is the same :func:`_nearest_cid` fold,
    evaluated per (vec_id, m) — bit-for-bit the same assignment as running
    ``_km_assign`` once per subspace, in ONE corpus scan instead of
    ``_PQ_M``."""
    arr = cents.groupBy("m").agg(
        F.sort_array(F.collect_list(F.struct(F.col("cid"), F.col("c")))).alias("cents")
    )
    return sub.join(F.broadcast(arr), "m").select(
        "vec_id", "m", "v", _nearest_cid().alias("cid")
    )


def _km_update_long(assigned: DataFrame) -> DataFrame:
    """Long-form :func:`_km_update`: the same 1e-7 fixed-point mean,
    grouped by (m, cid, pos) so every subspace's update rides one
    shuffle of K x dims x _PQ_M partial rows."""
    sums = (
        assigned.select("m", "cid", F.posexplode("v").alias("pos", "x"))
        .groupBy("m", "cid", "pos")
        .agg(
            F.sum(F.round(F.col("x") * _KM_FP).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    means = sums.select(
        "m", "cid", "pos",
        (F.col("s").cast("double") / (F.col("n") * float(_KM_FP))).alias("x"),
    )
    return means.groupBy("m", "cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "x"))), lambda s: s["x"]
        ).alias("c")
    )


def _pq_codebook_and_codes(spark: SparkSession, sf_dir: str):
    """(codebook, codes): per-subspace centroids (m, cid, c) and the
    per-vector code words (vec_id, m, code), both in long form. The
    centroid frame is checkpoint-materialized (M x K rows; blocks
    release on GC), so callers no longer manage an unpersist.

    The previous shape looped ``_PQ_M`` independent
    slice->Lloyd->assign chains and unioned them — 4 corpus scans per
    phase and a plan whose scheduling overhead dwarfed the (tiny)
    data. Now the subspace id is DATA, not plan structure: one
    posexplode emits (vec_id, m, subvector) rows, and every phase is
    a single per-``m``-grouped operator over that long table. Values
    are unchanged (the per-``m`` groups don't interact anywhere), so
    the unrolled per-subspace DuckDB oracle still matches bit-exact.
    """
    vectors = _km_vectors(spark, sf_dir)
    sub = vectors.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("v", m * _PQ_SUB + 1, _PQ_SUB)
                    for m in range(_PQ_M)
                ]
            )
        ).alias("m", "v"),
    ).persist()  # every Lloyd round + the final encode re-scan this
    cents = sub.filter(F.col("vec_id") < _PQ_K).select(
        "m", F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("c")
    )
    for _ in range(_PQ_ITERS):
        cents = _km_update_long(_km_assign_long(sub, cents))
    # M x K rows; book, LUT and the code assignment all reuse it —
    # checkpoint (r10) so each consumer plans against a leaf instead
    # of replaying/re-analyzing the Lloyd lineage
    cents = model_checkpoint(cents)
    code = _km_assign_long(sub, cents).select(
        "vec_id", "m", F.col("cid").alias("code")
    )
    return cents, code


@query("sim_pq_adc_topk", oracle=_pq_oracle_sql())
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ top-3 per query vector via Asymmetric Distance Computation.

    Scale shape: codebooks are _PQ_M x _PQ_K tiny rows (broadcast);
    encoding is the shuffle-free broadcast-argmin of sim_ivf_kmeans;
    the per-query LUT is |queries| x _PQ_M x _PQ_K rows built against
    the broadcast codebook; candidate scoring joins the corpus's code
    words (fixed-width ints — the compressed index IS the shuffle
    payload, ~log2(K)*M bits/vector) against the LUT on (m, code) and
    sums _PQ_M fixed-point partials per (query, candidate). No stage
    ever touches the raw vectors after encoding — that's the PQ
    memory story.
    """
    tune(spark)
    from pyspark.sql import Window

    book, code = _pq_codebook_and_codes(spark, sf_dir)
    vectors = _km_vectors(spark, sf_dir)
    qsubs = []
    for m in range(_PQ_M):
        qsubs.append(
            vectors.filter(F.col("vec_id") < _N_QUERIES).select(
                F.col("vec_id").alias("q_id"),
                F.lit(m).alias("m"),
                F.slice("v", m * _PQ_SUB + 1, _PQ_SUB).alias("qv"),
            )
        )
    qsub = qsubs[0]
    for q in qsubs[1:]:
        qsub = qsub.unionByName(q)
    lut = qsub.join(F.broadcast(book), "m").select(
        "q_id",
        "m",
        "cid",
        F.round(_dist2(F.col("qv"), F.col("c")) * _PQ_FP)
        .cast("long")
        .alias("d_fp"),
    )
    lut_j = lut.select(
        "q_id", F.col("m").alias("lm"), F.col("cid").alias("lcid"), "d_fp"
    )
    scored = (
        code.join(
            F.broadcast(lut_j),
            (F.col("m") == F.col("lm")) & (F.col("code") == F.col("lcid")),
        )
        .select(F.col("vec_id").alias("c_id"), "q_id", "d_fp")
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.sum("d_fp").alias("fp"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("fp").asc(), F.col("c_id").asc())
    out = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "q_id",
            "c_id",
            (F.col("fp").cast("double") / _PQ_FP).alias("adc_dist"),
            F.col("rk").cast("int").alias("rk"),
        )
    )
    return out


_SQL_L2 = (
    "(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])"
    " - 2*list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " + list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))"
)


@query(
    "sim_pq_recall",
    oracle=f"""
    WITH ex AS (
      SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_L2}, b.vec_id) AS rk
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {_N_QUERIES}) t
      WHERE rk <= 3),
    pq AS (SELECT q_id, c_id FROM ({_pq_oracle_sql()}) s)
    SELECT ex.q_id, CAST(COUNT(pq.c_id) AS DOUBLE) / 3 AS recall_at_3
    FROM ex LEFT JOIN pq ON pq.q_id = ex.q_id AND pq.c_id = ex.c_id
    GROUP BY ex.q_id
    """,
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the PQ/ADC index against exact L2 top-3 — the
    compression-loss measurement a PQ deployment monitors (ADC
    approximates L2, so the ground truth here is L2, not cosine).
    Composes the two registered pipelines unchanged."""
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    d2 = (
        _dot("q_emb", "q_emb")
        - F.lit(2) * _dot("q_emb", "c_emb")
        + _dot("c_emb", "c_emb")
    )
    w = Window.partitionBy("q_id").orderBy(d2.asc(), F.col("c_id").asc())
    ex = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("c_id"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("q_id", "c_id")
    )
    pq = sim_pq_adc_topk(spark, sf_dir).select(
        "q_id", "c_id", F.lit(1).alias("hit")
    )
    return (
        ex.join(pq, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg((F.count("hit").cast("double") / F.lit(3)).alias("recall_at_3"))
    )


# --------------------------------------------------------------------
# SRP-LSH: random-hyperplane signatures with OR-amplified tables
# --------------------------------------------------------------------
#
# The other classic ANN scale path (Charikar'02 SimHash for vectors):
# project each embedding onto fixed pseudo-random ±1 hyperplanes; each
# sign is one signature bit; vectors agree on a bit with probability
# 1 - angle/pi. B bits per table make a bucket; L independent tables
# OR-amplify recall (a near neighbor is a candidate if it collides in
# ANY table). Unlike sim_ivf_bucketed_topk's axis-sign bucket, the
# hyperplanes mix ALL dimensions, so bucket balance doesn't depend on
# any single coordinate's distribution.
#
# Determinism: hyperplane entries are ±1 derived from md5 parity of
# "srp:{table}:{bit}:{dim}" — reproducible on any engine with no RNG.
# The projection is a dot product against a ±1 literal vector, summed
# strictly left-to-right in double (same order as DuckDB's
# list_dot_product), so signatures match bit-for-bit cross-engine.

_SRP_TABLES = 4
_SRP_BITS = 4
_SRP_DIM = 64


def _srp_signs(t: int, b: int) -> list[float]:
    import hashlib

    out = []
    for d in range(_SRP_DIM):
        h = hashlib.md5(f"srp:{t}:{b}:{d}".encode()).hexdigest()
        out.append(1.0 if int(h[:8], 16) & 1 else -1.0)
    return out


def _srp_dot(col: str, signs: list[float]) -> Column:
    arr = F.array(*[F.lit(s) for s in signs])
    return F.aggregate(
        F.zip_with(F.col(col), arr, lambda x, s: x.cast("double") * s),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _srp_bucket(col: str, t: int) -> Column:
    out = F.lit(0)
    for b in range(_SRP_BITS):
        out = out + F.when(_srp_dot(col, _srp_signs(t, b)) >= 0, 2**b).otherwise(0)
    return out


def _srp_bucket_sql(e: str, t: int) -> str:
    cases = []
    for b in range(_SRP_BITS):
        arr = ", ".join(str(s) for s in _srp_signs(t, b))
        cases.append(
            f"CASE WHEN list_dot_product({e}.embedding::DOUBLE[], "
            f"CAST([{arr}] AS DOUBLE[])) >= 0 THEN {2 ** b} ELSE 0 END"
        )
    return "(" + " + ".join(cases) + ")"


def _srp_topk_sql() -> str:
    unions = []
    for t in range(_SRP_TABLES):
        unions.append(
            f"""SELECT a.vec_id AS q_id, b.vec_id AS c_id
                FROM embeddings a JOIN embeddings b
                  ON {_srp_bucket_sql('a', t)} = {_srp_bucket_sql('b', t)}
                 AND a.vec_id <> b.vec_id
                WHERE a.vec_id < {_N_QUERIES}"""
        )
    cand = " UNION ".join(unions)
    return f"""
    WITH cand AS ({cand})
    SELECT q_id, c_id, cosine, CAST(rk AS INTEGER) AS rk FROM (
      SELECT cand.q_id, cand.c_id, {_SQL_COSINE} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY cand.q_id
                                ORDER BY {_SQL_COSINE} DESC, cand.c_id) AS rk
      FROM cand JOIN embeddings a ON a.vec_id = cand.q_id
                JOIN embeddings b ON b.vec_id = cand.c_id) t
    WHERE rk <= 3
    """


@query("sim_srp_lsh_topk", oracle=_srp_topk_sql())
def sim_srp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-3 via SRP-LSH: 4 hash tables x 4
    random-hyperplane sign bits, candidates = bucket collisions in
    ANY table, exact cosine rank within candidates. (These embeddings
    are near-orthogonal synthetic noise — the hardest case for LSH —
    so short codes + more tables hold recall; real embedding corpora
    with genuine near-neighbors would use longer codes.)

    Scale: signatures are one map-only pass (12 JVM-side dot products
    per row, no Python); each table's candidate join shuffles on a
    6-bit bucket key whose balance comes from full-dimension mixing;
    the exact rank touches only candidates. At 100 TB you'd raise B
    to keep bucket sizes bounded and L to hold recall — the knobs are
    the standard LSH amplification trade, and the plan shape (hash
    join per table + union + windowed rank) is unchanged.
    """
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    sig = e.select(
        "vec_id",
        "embedding",
        _norm("embedding").alias("nrm"),
        *[_srp_bucket("embedding", t).alias(f"b{t}") for t in range(_SRP_TABLES)],
    )
    q = sig.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
        *[F.col(f"b{t}").alias(f"qb{t}") for t in range(_SRP_TABLES)],
    )
    # r11 rewrite (guide §2.3/§2.4): the old per-table form unioned 4
    # separate sig-x-q joins, and each branch re-executed the corpus
    # scan PLUS all 16 SRP dot products per row (no exchange below the
    # branches, so nothing was reusable). Exploding each row into its
    # 4 (table, bucket) keys computes the signatures ONCE and a single
    # broadcast join replaces the union — identical candidate set
    # (bucket collision in ANY table), and the cosine is computed
    # BEFORE the dedup shuffle so the exchange carries 3 scalars per
    # candidate instead of two 64-double embeddings (§2.3; the value
    # is identical on every duplicate of a pair, so dropDuplicates
    # keeps the same number).
    tb = lambda pre: F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"), F.col(f"{pre}{t}").alias("bk")
                )
                for t in range(_SRP_TABLES)
            ]
        )
    ).alias("tb")
    c_side = sig.select("vec_id", "embedding", "nrm", tb("b")).select(
        "vec_id", "embedding", "nrm", "tb.t", "tb.bk"
    )
    q_side = q.select("q_id", "q_emb", "q_norm", tb("qb")).select(
        "q_id", "q_emb", "q_norm", "tb.t", "tb.bk"
    )
    cosine = (
        _dot("q_emb", "embedding") / (F.col("q_norm") * F.col("nrm"))
    ).alias("cosine")
    cand = (
        c_side.join(F.broadcast(q_side), ["t", "bk"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", F.col("vec_id").alias("c_id"), cosine)
        .dropDuplicates(["q_id", "c_id"])
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return cand.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 3
    )


@query(
    "sim_srp_recall",
    oracle=f"""
    WITH ex AS (
      SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rk
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {_N_QUERIES}) t
      WHERE rk <= 3),
    sr AS (SELECT q_id, c_id FROM ({_srp_topk_sql()}) s)
    SELECT ex.q_id, CAST(COUNT(sr.c_id) AS DOUBLE) / 3 AS recall_at_3
    FROM ex LEFT JOIN sr ON sr.q_id = ex.q_id AND sr.c_id = ex.c_id
    GROUP BY ex.q_id
    """,
)
def sim_srp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of SRP-LSH against exact cosine top-3, per query —
    the OR-amplification quality gauge (raise L if this drops).
    Composes the two registered pipelines unchanged."""
    tune(spark)
    ex = sim_bruteforce_topk(spark, sf_dir).filter(F.col("rk") <= 3).select(
        "q_id", "c_id"
    )
    sr = sim_srp_lsh_topk(spark, sf_dir).select(
        "q_id", "c_id", F.lit(1).alias("hit")
    )
    return (
        ex.join(sr, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg((F.count("hit").cast("double") / F.lit(3)).alias("recall_at_3"))
    )


# --------------------------------------------------------------------
# SemDeDup: embedding-cluster semantic pruning (keep/drop verdicts)
# --------------------------------------------------------------------

_SEMDEDUP_TAU = 0.3


@query(
    "dedup_semdedup_prune",
    oracle=f"""
    WITH dropped AS (
      SELECT DISTINCT b.vec_id AS vec_id
      FROM embeddings a
      JOIN embeddings b
        ON a.vec_id < b.vec_id
       AND {_SQL_BUCKET8.format(e="a")} = {_SQL_BUCKET8.format(e="b")}
      WHERE {_SQL_COSINE} >= {_SEMDEDUP_TAU}
    )
    SELECT e.vec_id AS vec_id,
           CAST({_SQL_BUCKET8.format(e="e")} AS INTEGER) AS bucket,
           (d.vec_id IS NULL) AS keep
    FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.vec_id
    """,
)
def dedup_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication verdicts (SemDeDup, Abbas et al. 2023):
    cluster embeddings with a cheap quantizer, compare pairs ONLY
    within a cluster, and drop every member that has a lower-id
    near-semantic twin (cosine >= tau) — keeping exactly one canonical
    representative per near-pair chain head.

    This completes the dedup family's embedding branch: exact/MinHash/
    SimHash catch lexical duplication; SemDeDup catches *paraphrases* —
    same meaning, different tokens — which lexical methods structurally
    miss. The output is the consumable per-document verdict table (the
    shape training runs actually read), not the pair list
    (``sim_embedding_neardup`` is the pair-level diagnostic).

    Keep-rule note: "drop b iff some a < b has cosine(a,b) >= tau" is
    the order-free, one-join form of the paper's keep-one-per-group
    rule; unlike iterative greedy selection it needs no sequential
    pass, and every near-pair still loses exactly one member.

    Scale: the quantizer is a deterministic sign-LSH bucket (256-way
    here; the k-means IVF in this module is the learned upgrade), so
    the candidate join is equi-keyed on the bucket — cost is bounded by
    bucket occupancy, never all-pairs. Hot buckets take the same
    slicing policy as the lexical dedup family. The verdict join is a
    dropped-id set vastly smaller than the corpus, and Spark's AQE
    broadcasts it when it fits.
    """
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    dropped = (
        _bucket_pairs(e)
        .filter(_pair_cosine() >= _SEMDEDUP_TAU)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return (
        e.select("vec_id", _bucket8("embedding").alias("bucket"))
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "bucket",
            F.col("__dropped").isNull().alias("keep"),
        )
    )


# --------------------------------------------------------------------
# Embedding drift between two corpus halves
# --------------------------------------------------------------------

_DRIFT_FP = 10_000  # 1e4 quantum: keeps sum-of-products << 2^63

_SQL_DRIFT = f"""
    WITH u AS (
      SELECT vec_id % 2 AS half, p.pos,
             CAST(ROUND(CAST(embedding[p.pos + 1] AS DOUBLE)
                        * {_DRIFT_FP}) AS BIGINT) AS xi
      FROM embeddings, UNNEST(range(len(embedding))) AS p(pos)),
    sums AS (
      SELECT half, pos, CAST(SUM(xi) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM u GROUP BY half, pos),
    j AS (
      SELECT a.pos, a.s AS s1, b.s AS s2, a.n AS n1, b.n AS n2
      FROM sums a JOIN sums b ON a.pos = b.pos
      WHERE a.half = 0 AND b.half = 1),
    dots AS (
      SELECT CAST(SUM(s1 * s2) AS BIGINT) AS nd,
             CAST(SUM(s1 * s1) AS BIGINT) AS d1,
             CAST(SUM(s2 * s2) AS BIGINT) AS d2,
             CAST(MAX(ABS(s1 * n2 - s2 * n1)) AS BIGINT) AS maxnum,
             MIN(n1) AS n1, MIN(n2) AS n2,
             CAST(COUNT(*) AS BIGINT) AS dims
      FROM j)
    SELECT n1 AS n_even, n2 AS n_odd, dims,
           CAST(nd AS DOUBLE)
             / (SQRT(CAST(d1 AS DOUBLE)) * SQRT(CAST(d2 AS DOUBLE)))
             AS mean_cosine,
           CAST(maxnum AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * {_DRIFT_FP})
             AS max_dim_shift
    FROM dots
"""


@query("embedding_drift_halves", oracle=_SQL_DRIFT)
def embedding_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift check: cosine between the mean
    vectors of two corpus halves (vec_id parity as the split — stands
    in for yesterday/today or shard A/B) plus the largest per-
    dimension mean shift. mean_cosine ~ 1 and max_dim_shift ~ 0 mean
    the embedding distribution is stable; production pipelines run
    exactly this check before trusting an ANN index built on older
    vectors.

    Scale: one explode to (half, pos, xi) fixed-point longs, one
    map-side-combined aggregate to 2*dims rows, then dims-sized
    algebra — the corpus is touched once, everything downstream is
    model-sized. Determinism: 1e-4 fixed-point per coordinate (sums of
    products stay < 2^63 for ~10^9-vector halves at 64 dims); cosine
    works on the raw integer sums (scale cancels), the max shift uses
    the exact cross-multiplied numerator |s1*n2 - s2*n1| so no
    division happens before the single final IEEE expression.
    int64->double conversions are correctly rounded in both engines.
    """
    tune(spark)
    emb = table(spark, sf_dir, "embeddings")
    u = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "half",
        "pos",
        F.round(F.col("x").cast("double") * _DRIFT_FP).cast("long").alias("xi"),
    )
    sums = u.groupBy("half", "pos").agg(
        F.sum("xi").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a = sums.filter(F.col("half") == 0).select(
        "pos", F.col("s").alias("s1"), F.col("n").alias("n1")
    )
    b = sums.filter(F.col("half") == 1).select(
        "pos", F.col("s").alias("s2"), F.col("n").alias("n2")
    )
    j = a.join(b, "pos")
    dots = j.agg(
        F.sum(F.col("s1") * F.col("s2")).cast("long").alias("nd"),
        F.sum(F.col("s1") * F.col("s1")).cast("long").alias("d1"),
        F.sum(F.col("s2") * F.col("s2")).cast("long").alias("d2"),
        F.max(F.abs(F.col("s1") * F.col("n2") - F.col("s2") * F.col("n1")))
        .cast("long")
        .alias("maxnum"),
        F.min("n1").alias("n1"),
        F.min("n2").alias("n2"),
        F.count(F.lit(1)).cast("long").alias("dims"),
    )
    return dots.select(
        F.col("n1").alias("n_even"),
        F.col("n2").alias("n_odd"),
        "dims",
        (
            F.col("nd").cast("double")
            / (
                F.sqrt(F.col("d1").cast("double"))
                * F.sqrt(F.col("d2").cast("double"))
            )
        ).alias("mean_cosine"),
        (
            F.col("maxnum").cast("double")
            / (
                F.col("n1").cast("double")
                * F.col("n2").cast("double")
                * F.lit(float(_DRIFT_FP))
            )
        ).alias("max_dim_shift"),
    )


# --------------------------------------------------------------------
# Cluster-vs-label agreement: purity and NMI of the learned quantizer
# --------------------------------------------------------------------


def _km_purity_oracle_sql(k: int, iters: int) -> str:
    parts = _km_fin_parts(k, iters)
    return (
        ",\n".join(parts)
        + """,
    cont AS (
      SELECT f.cid, e.label, CAST(COUNT(*) AS BIGINT) AS c
      FROM fin f JOIN embeddings e ON e.vec_id = f.vec_id
      GROUP BY f.cid, e.label),
    mc AS (SELECT cid, CAST(SUM(c) AS BIGINT) AS cc FROM cont GROUP BY cid),
    ml AS (SELECT label, CAST(SUM(c) AS BIGINT) AS cl FROM cont
           GROUP BY label),
    nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cont),
    pur AS (SELECT CAST(SUM(mx) AS BIGINT) AS p
            FROM (SELECT cid, MAX(c) AS mx FROM cont GROUP BY cid)),
    mi AS (
      SELECT CAST(SUM(c * lp6) AS BIGINT) AS smi FROM (
        SELECT c, CAST(FLOOR(log2(CAST(c AS DOUBLE) * n
                                  / (CAST(cc AS DOUBLE) * cl)) * 1000000)
                       AS BIGINT) AS lp6
        FROM cont JOIN mc USING (cid) JOIN ml USING (label)
                  CROSS JOIN nn)),
    hc AS (
      SELECT CAST(SUM(cc * l6) AS BIGINT) AS shc FROM (
        SELECT cc, CAST(FLOOR(log2(CAST(n AS DOUBLE) / cc) * 1000000)
                        AS BIGINT) AS l6
        FROM mc CROSS JOIN nn)),
    hl AS (
      SELECT CAST(SUM(cl * l6) AS BIGINT) AS shl FROM (
        SELECT cl, CAST(FLOOR(log2(CAST(n AS DOUBLE) / cl) * 1000000)
                        AS BIGINT) AS l6
        FROM ml CROSS JOIN nn))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM mc) AS n_clusters,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ml) AS n_labels,
           CAST(p AS DOUBLE) / n AS purity,
           (CAST(smi AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000))
             / (0.5 * (CAST(shc AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000)
                       + CAST(shl AS DOUBLE)
                         / (CAST(n AS DOUBLE) * 1000000))) AS nmi
    FROM pur, nn, mi, hc, hl
"""
    )


@query(
    "sim_kmeans_label_purity",
    oracle=_km_purity_oracle_sql(_K_CLUSTERS, _KM_ITERS),
)
def sim_kmeans_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External validation of the learned coarse quantizer: purity
    (majority-label mass per cluster) and normalized mutual
    information between the k-means assignment and the embeddings'
    ground-truth labels — the index-quality report that says whether
    the ANN clustering respects the data's semantic structure.

    Runs the deterministic Lloyd pipeline of ``sim_ivf_kmeans_topk``
    (:func:`_km_fit_assign`; same oracle CTE prefix via
    ``_km_fin_parts``), then: contingency cells and marginals are a
    K x |labels| model-level frame; every entropy/MI log2 is
    floor-quantized per CELL (quantize-the-model doctrine), the dot
    products are exact int64, and purity/NMI are final IEEE
    expressions — bit-exact cross-engine despite the iterative
    training inside.
    """
    tune(spark)
    assigned = _km_fit_assign(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cont = model_checkpoint(
        # labels are corpus-sized — a broadcast here would ship the
        # whole corpus to every executor at 100 TB; plain equi-join on
        # vec_id (AQE picks the strategy at fixture scale). The
        # contingency table is K x |labels| — model-sized — and feeds
        # ~12 downstream references (marginals, entropies, MI): the
        # checkpoint makes the corpus-scanning assignment run ONCE
        # (r10: the tail of this query dropped 4.7-6.3 s -> 1.6-2.5 s)
        assigned.join(e, "vec_id")
        .groupBy("cid", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    mc = cont.groupBy("cid").agg(F.sum("c").cast("long").alias("cc"))
    ml = cont.groupBy("label").agg(F.sum("c").cast("long").alias("cl"))
    nn = cont.agg(F.sum("c").cast("long").alias("n"))
    pur = (
        cont.groupBy("cid")
        .agg(F.max("c").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("p"))
    )
    lp6 = (
        F.floor(
            F.log2(
                F.col("c").cast("double")
                * F.col("n")
                / (F.col("cc").cast("double") * F.col("cl"))
            )
            * 1e6
        )
        .cast("long")
        .alias("lp6")
    )
    mi = (
        cont.join(F.broadcast(mc), "cid")
        .join(F.broadcast(ml), "label")
        .crossJoin(F.broadcast(nn))
        .select("c", lp6)
        .agg(F.sum(F.col("c") * F.col("lp6")).cast("long").alias("smi"))
    )

    def _entropy_sum(marg: DataFrame, cnt: str, alias: str) -> DataFrame:
        l6 = (
            F.floor(
                F.log2(F.col("n").cast("double") / F.col(cnt)) * 1e6
            )
            .cast("long")
            .alias("l6")
        )
        return (
            marg.crossJoin(F.broadcast(nn))
            .select(cnt, l6)
            .agg(F.sum(F.col(cnt) * F.col("l6")).cast("long").alias(alias))
        )

    hc = _entropy_sum(mc, "cc", "shc")
    hl = _entropy_sum(ml, "cl", "shl")
    ncl = mc.agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    nlb = ml.agg(F.count(F.lit(1)).cast("long").alias("n_labels"))
    base = (
        ncl.crossJoin(F.broadcast(nlb))
        .crossJoin(F.broadcast(pur))
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
    )
    nd = F.col("n").cast("double") * F.lit(1e6)
    out = base.select(
        "n_clusters",
        "n_labels",
        (F.col("p").cast("double") / F.col("n")).alias("purity"),
        (
            (F.col("smi").cast("double") / nd)
            / (
                F.lit(0.5)
                * (
                    F.col("shc").cast("double") / nd
                    + F.col("shl").cast("double") / nd
                )
            )
        ).alias("nmi"),
    )
    return out


# --------------------------------------------------------------------
# Per-dimension embedding statistics (feature-normalization table)
# --------------------------------------------------------------------

_DIMSTAT_FP = 10_000_000  # same 1e-7 fixed-point quantum as the k-means path


_SQL_DIM_STATS = f"""
    WITH u AS (
      SELECT p.pos AS pos, CAST(embedding[p.pos + 1] AS DOUBLE) AS x
      FROM embeddings, UNNEST(range(len(embedding))) AS p(pos)),
    f AS (
      SELECT pos, x, CAST(ROUND(x * {_DIMSTAT_FP}) AS BIGINT) AS xi
      FROM u),
    s AS (
      SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(xi AS HUGEINT)) AS sx,
             SUM(CAST(xi AS HUGEINT) * xi) AS sxx,
             MIN(x) AS min_x, MAX(x) AS max_x
      FROM f GROUP BY pos)
    SELECT CAST(pos AS INTEGER) AS pos, n,
           CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / {_DIMSTAT_FP} AS mean_x,
           SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                / CAST(n * (n - 1) AS DOUBLE)) / {_DIMSTAT_FP} AS std_x,
           min_x, max_x
    FROM s ORDER BY pos
"""


@query("embedding_dimension_stats", oracle=_SQL_DIM_STATS)
def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean / sample-std / min / max of the embedding
    matrix — the statistics table behind feature standardization
    (z-scoring before k-means or PQ), dead-dimension detection
    (std ~ 0), and range checks on an embedding export.

    Scale: posexplode fans each vector into (pos, x) rows once; the
    per-dimension aggregate is a single map-side-combinable groupBy
    on pos (at 1000 executors each task pre-aggregates its slice of
    vectors into #dims partials, and the shuffle moves only
    #dims x #tasks scalar rows, never the matrix). No window, no
    join, no collect.

    Determinism: float32 -> double casts are exact; sums quantize to
    the 1e-7 fixed-point grid (the k-means/_FP_SCALE doctrine) and
    accumulate in DECIMAL(38,0)/HUGEINT — sum(xi^2) ~ n*1e14 wraps
    int64 past ~90k vectors, so the wide type is load-bearing, not
    defensive. min/max involve no arithmetic at all. One
    correctly-rounded double conversion per sum, then an IEEE tail
    both engines execute identically.
    """
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    u = e.select(F.posexplode("embedding").alias("pos", "xf")).select(
        "pos", F.col("xf").cast("double").alias("x")
    )
    f = u.withColumn(
        "xi", F.round(F.col("x") * _DIMSTAT_FP).cast("long")
    )
    xi18 = F.col("xi").cast("decimal(18,0)")
    s = f.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xi18).cast("decimal(38,0)").alias("sx"),
        F.sum(xi18 * F.col("xi")).cast("decimal(38,0)").alias("sxx"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
    )
    n20 = F.col("n").cast("decimal(20,0)")
    var_num = (n20 * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "decimal(38,0)"
    )
    return s.select(
        F.col("pos").cast("int").alias("pos"),
        "n",
        (F.col("sx").cast("double") / F.col("n").cast("double") / _DIMSTAT_FP).alias(
            "mean_x"
        ),
        (
            F.sqrt(
                var_num.cast("double")
                / (F.col("n") * (F.col("n") - 1)).cast("double")
            )
            / _DIMSTAT_FP
        ).alias("std_x"),
        "min_x",
        "max_x",
    ).orderBy("pos")


# --------------------------------------------------------------------
# PCA top component via partial-Gram + 3 power iterations
# --------------------------------------------------------------------

_PCA_FP = 10_000_000  # 1e-7 embedding quantization (embedding_label_centroids)
_PCA_VFP = 1_000_000  # 1e-6 iteration-vector fixed point
_PCA_ITERS = 3


def _pca_round_sql(prev: str, i: int) -> str:
    return f"""
    w{i} AS (SELECT g.i AS i, SUM(g.g * {prev}.v) AS w
             FROM g JOIN {prev} ON {prev}.i = g.j GROUP BY g.i),
    m{i} AS (SELECT MAX(ABS(CAST(w AS DOUBLE))) AS m FROM w{i}),
    v{i} AS (SELECT i,
                    CAST(FLOOR(CAST(w AS DOUBLE) / m * {_PCA_VFP}) AS BIGINT)
                      AS v
             FROM w{i}, m{i})
    """


@query(
    "embedding_pca_top_component",
    oracle=f"""
    WITH qe AS (
      SELECT vec_id,
             [CAST(ROUND(CAST(e AS DOUBLE) * {_PCA_FP}) AS BIGINT)
              FOR e IN embedding] AS q
      FROM embeddings),
    g AS (
      SELECT ii.i AS i, jj.j AS j,
             SUM(CAST(q[ii.i] AS HUGEINT) * q[jj.j]) AS g
      FROM qe,
           UNNEST(range(1, len(q) + 1)) AS ii(i),
           UNNEST(range(1, len(q) + 1)) AS jj(j)
      GROUP BY 1, 2),
    dims AS (SELECT DISTINCT i FROM g),
    v0 AS (SELECT i, CAST({_PCA_VFP} AS BIGINT) AS v FROM dims),
    {_pca_round_sql("v0", 1)},
    {_pca_round_sql("v1", 2)},
    {_pca_round_sql("v2", 3)},
    s2 AS (SELECT CAST(SUM(v * v) AS BIGINT) AS s2 FROM v3)
    SELECT i - 1 AS pos, v AS v_fp,
           CAST(v AS DOUBLE) / SQRT(CAST(s2 AS DOUBLE)) AS component
    FROM v3, s2 ORDER BY pos
    """,
)
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud (uncentered PCA
    / dominant eigenvector of the Gram matrix), via the two-stage
    distributed-PCA recipe every large-scale pipeline uses: (1) each
    Arrow batch reduces to its LOCAL d x d Gram matrix — a numpy
    int64 matmul over quantized coordinates inside ``mapInPandas``,
    the only corpus-scale pass; (2) three fixed power iterations run
    on the merged model-level Gram frame (d^2 = 4096 rows). The
    component is the direction training-data curators project onto
    for diversity scoring and the first axis an IVF/PQ index would
    rotate out.

    Exactness: coordinates quantize to 1e-7 fixed point
    (``embedding_label_centroids`` doctrine), so every Gram cell is
    an EXACT integer (batch partials < 1e17 each fit int64; the merge
    sums them in DECIMAL(38,0) — HUGEINT in the oracle). Iterations
    renormalize to an L-inf 1e-6 grid via floor(w/max*FP) — one IEEE
    division per dim per round on identically-rounded doubles — so
    the oracle's three unrolled CTEs match bit-for-bit.

    Scale: the quantized-row pass is embarrassingly parallel; the
    driver never sees more than d^2 cells per batch, and the
    iteration joins touch only the 4096-row model frame. At 100 TB
    the Gram stage is the same single scan a mean/centroid pass
    costs.
    """
    tune(spark)
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    e = table(spark, sf_dir, "embeddings")
    q = e.select(
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * _PCA_FP).cast("long"),
        ).alias("q")
    )

    def gram_partials(batches):
        import numpy as np
        import pandas as pd

        worker_setup()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # n x d int64; per-batch |cell| <= (3e6)^2 * 10k rows ~ 1e17,
            # inside int64 at Arrow's default 10k-row batches
            mat = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            gm = mat.T @ mat
            d = gm.shape[0]
            yield pd.DataFrame(
                {
                    "i": np.repeat(np.arange(1, d + 1), d),
                    "j": np.tile(np.arange(1, d + 1), d),
                    "p": gm.ravel(),
                }
            )

    gram = q.mapInPandas(gram_partials, schema="i int, j int, p long")
    g = gram.groupBy("i", "j").agg(
        F.sum(F.col("p").cast("decimal(18,0)")).cast("decimal(25,0)").alias("g")
    )
    dims = g.select("i").distinct()
    v = dims.select("i", F.lit(_PCA_VFP).cast("long").alias("v"))
    for _ in range(_PCA_ITERS):
        w = (
            g.join(v.select(F.col("i").alias("j"), "v"), "j")
            .groupBy("i")
            .agg(
                F.sum(F.col("g") * F.col("v").cast("decimal(12,0)"))
                .cast("decimal(38,0)")
                .alias("w")
            )
        )
        m = w.agg(F.max(F.abs(F.col("w").cast("double"))).alias("m"))
        v = w.crossJoin(F.broadcast(m)).select(
            "i",
            F.floor(F.col("w").cast("double") / F.col("m") * _PCA_VFP)
            .cast("long")
            .alias("v"),
        )
    s2 = v.agg(F.sum(F.col("v") * F.col("v")).cast("long").alias("s2"))
    return (
        v.crossJoin(F.broadcast(s2))
        .select(
            (F.col("i") - 1).cast("long").alias("pos"),
            F.col("v").alias("v_fp"),
            (
                F.col("v").cast("double")
                / F.sqrt(F.col("s2").cast("double"))
            ).alias("component"),
        )
        .orderBy("pos")
    )


# --------------------------------------------------------------------
# Fixed-radius neighborhood counts (range search)
# --------------------------------------------------------------------

_RADIUS_LO = 0.70
_RADIUS_HI = 0.80


@query(
    "sim_radius_count",
    oracle=f"""
    SELECT a.vec_id AS q_id,
           CAST(SUM(CASE WHEN {_SQL_COSINE} >= {_RADIUS_LO} THEN 1 ELSE 0
                    END) AS BIGINT) AS n_r070,
           CAST(SUM(CASE WHEN {_SQL_COSINE} >= {_RADIUS_HI} THEN 1 ELSE 0
                    END) AS BIGINT) AS n_r080,
           MAX({_SQL_COSINE}) AS max_cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < {_N_QUERIES}
    GROUP BY a.vec_id ORDER BY q_id
    """,
)
def sim_radius_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-radius range search: for each query vector, how many
    corpus vectors fall within cosine radius 0.70 / 0.80, and the
    nearest cosine — the density probe run before choosing a top-k
    (a query whose 0.8-ball holds thousands of points needs dedup,
    not retrieval; one whose ball is empty needs a coarser radius).
    Complements ``sim_bruteforce_topk`` (same scan shape, count
    aggregate instead of rank window).

    Scale: broadcast the #queries rows against one corpus scan —
    map-side partial counts, NO window and no per-query sort at all
    (radius counting is cheaper than top-k: the aggregate is
    commutative). Determinism: the cosine is the shared bit-identical
    expression (``_SQL_COSINE``/``_dot``), so threshold comparisons
    and MAX involve no arithmetic ambiguity.
    """
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_norm"),
    )
    c = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        _norm("embedding").alias("c_norm"),
    )
    pairs = c.join(F.broadcast(q), F.col("q_id") != F.col("c_id"))
    cosine = _dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))
    return (
        pairs.select("q_id", cosine.alias("cosine"))
        .groupBy("q_id")
        .agg(
            F.sum(F.when(F.col("cosine") >= _RADIUS_LO, 1).otherwise(0))
            .cast("long")
            .alias("n_r070"),
            F.sum(F.when(F.col("cosine") >= _RADIUS_HI, 1).otherwise(0))
            .cast("long")
            .alias("n_r080"),
            F.max("cosine").alias("max_cosine"),
        )
        .orderBy("q_id")
    )


_MMR_POOL = 20
_MMR_K = 5
_MMR_LAMBDA = "0.7"
_MMR_1ML = "0.3"


def _mmr_sql() -> str:
    cos_q = (
        "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(a.embedding::DOUBLE[],"
        " a.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(b.embedding::DOUBLE[],"
        " b.embedding::DOUBLE[])))"
    )
    stages = [
        f"""
    sel1 AS (
      SELECT CAST(1 AS INTEGER) AS pick_order, c_id, cosine,
             {_MMR_LAMBDA} * cosine AS mmr_score
      FROM cand ORDER BY cosine DESC, c_id LIMIT 1)"""
    ]
    for k in range(2, _MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT c_id FROM sel{i}" for i in range(1, k)
        )
        stages.append(
            f"""
    sel{k} AS (
      SELECT CAST({k} AS INTEGER) AS pick_order, d.c_id, d.cosine,
             {_MMR_LAMBDA} * d.cosine - {_MMR_1ML} * (
               SELECT MAX(p.cos) FROM pc p
               WHERE p.x = d.c_id AND p.y IN ({prev})) AS mmr_score
      FROM cand d
      WHERE d.c_id NOT IN ({prev})
      ORDER BY mmr_score DESC, d.c_id LIMIT 1)"""
        )
    final = " UNION ALL ".join(
        f"SELECT * FROM sel{i}" for i in range(1, _MMR_K + 1)
    )
    return f"""
    WITH cand AS (
      SELECT c_id, cosine FROM (
        SELECT b.vec_id AS c_id, {cos_q} AS cosine,
               ROW_NUMBER() OVER (ORDER BY {cos_q} DESC, b.vec_id) AS rk
        FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
        WHERE a.vec_id = 0) t
      WHERE rk <= {_MMR_POOL}),
    pc AS (
      SELECT a.vec_id AS x, b.vec_id AS y, {_SQL_COSINE} AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id IN (SELECT c_id FROM cand)
        AND b.vec_id IN (SELECT c_id FROM cand)),
    {",".join(stages)}
    {final}
    """


@query("sim_mmr_diversified_topk", oracle=_mmr_sql())
def sim_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance: greedily pick 5 of the query's
    top-20 cosine candidates, each round maximizing
    0.7·sim(query, d) − 0.3·max_{s∈selected} sim(d, s) — the
    diversified retrieval / diverse-exemplar-sampling operator that
    plain top-k (``sim_bruteforce_topk``) lacks: near-duplicate
    candidates can't all win because the second one pays its
    similarity to the first.

    Shape: one broadcast corpus scan finds the pool (global
    TakeOrdered — no window), then EVERYTHING is model-level: the
    20×20 candidate cosine matrix and five greedy rounds of
    anti-join → max-sim aggregate → TakeOrdered(1), chained lazily
    over broadcast-sized frames (the oracle unrolls the same five
    stages as CTEs). Determinism: cosines are the shared
    left-to-right ``_dot`` fold; the MMR score is one shared
    expression tree; every argmax carries the c_id tiebreak.
    """
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("q_emb"), _norm("embedding").alias("q_norm")
        )
    )
    # r10: leaf plans for the rounds
    cand = model_checkpoint(
        e.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            F.col("vec_id").alias("c_id"),
            "embedding",
            (
                _dot("embedding", "q_emb")
                / (_norm("embedding") * F.col("q_norm"))
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "c_id")
        .limit(_MMR_POOL)
    )
    ca = cand.select(
        F.col("c_id").alias("x"),
        F.col("embedding").alias("ea"),
    )
    cb = cand.select(
        F.col("c_id").alias("y"), F.col("embedding").alias("eb")
    )
    pc = model_checkpoint(
        ca.join(F.broadcast(cb), F.col("x") != F.col("y")).select(
            "x",
            "y",
            (_dot("ea", "eb") / (_norm("ea") * _norm("eb"))).alias("cos"),
        )
    )
    lam, oml = F.lit(0.7), F.lit(0.3)
    # Greedy rounds materialize ONE row each to the driver (an O(k)
    # scalar collect — the bounded-collect doctrine) and the growing
    # "selected" set is re-fed as a literal frame: a fully lazy chain
    # reads `selected` three times per round, which cubes the plan
    # (observed: 244 broadcast-join nodes for 5 rounds). With literal
    # picks every round is one flat job over the cached 20-row pool.
    first = (
        cand.orderBy(F.desc("cosine"), "c_id")
        .limit(1)
        .select("c_id", "cosine", (lam * F.col("cosine")).alias("mmr_score"))
        .collect()[0]
    )
    picks = [(1, first["c_id"], first["cosine"], first["mmr_score"])]
    for k in range(2, _MMR_K + 1):
        sel_ids = [p[1] for p in picks]
        rem = cand.filter(~F.col("c_id").isin(sel_ids))
        ms = (
            pc.filter(F.col("y").isin(sel_ids))
            .groupBy("x")
            .agg(F.max("cos").alias("maxsim"))
        )
        row = (
            rem.join(ms, rem["c_id"] == ms["x"])
            .select(
                "c_id",
                "cosine",
                (lam * F.col("cosine") - oml * F.col("maxsim")).alias(
                    "mmr_score"
                ),
            )
            .orderBy(F.desc("mmr_score"), "c_id")
            .limit(1)
            .collect()[0]
        )
        picks.append((k, row["c_id"], row["cosine"], row["mmr_score"]))
    return spark.createDataFrame(
        picks, "pick_order int, c_id long, cosine double, mmr_score double"
    )


def _probe_sql(np_: int) -> str:
    """Hamming-ball probe-bucket predicate for the sign-bucket IVF:
    nprobe=1 is the query's own bucket; nprobe=5 adds the four
    buckets at Hamming distance 1 (one sign bit flipped)."""
    qa = _SQL_BUCKET.format(e="a")
    qb = _SQL_BUCKET.format(e="b")
    if np_ == 1:
        return f"{qa} = {qb}"
    return f"xor({qa}, {qb}) IN (0, 1, 2, 4, 8)"


@query(
    "sim_ivf_nprobe_sweep",
    oracle=f"""
    WITH ex AS (
      SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rk
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {_N_QUERIES}) t
      WHERE rk <= 3),
    iv1 AS (
      SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rk
        FROM embeddings a JOIN embeddings b
          ON a.vec_id <> b.vec_id AND {_probe_sql(1)}
        WHERE a.vec_id < {_N_QUERIES}) t
      WHERE rk <= 3),
    iv5 AS (
      SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rk
        FROM embeddings a JOIN embeddings b
          ON a.vec_id <> b.vec_id AND {_probe_sql(5)}
        WHERE a.vec_id < {_N_QUERIES}) t
      WHERE rk <= 3)
    SELECT 1 AS nprobe,
           CAST(COUNT(iv1.q_id) AS BIGINT) AS n_hits,
           CAST(COUNT(iv1.q_id) AS DOUBLE) / COUNT(*) AS avg_recall_at_3
    FROM ex LEFT JOIN iv1 ON iv1.q_id = ex.q_id AND iv1.c_id = ex.c_id
    UNION ALL
    SELECT 5,
           CAST(COUNT(iv5.q_id) AS BIGINT),
           CAST(COUNT(iv5.q_id) AS DOUBLE) / COUNT(*)
    FROM ex LEFT JOIN iv5 ON iv5.q_id = ex.q_id AND iv5.c_id = ex.c_id
    """,
)
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-probe-cost curve of the sign-bucket IVF: recall@3
    against exact brute force when probing 1 bucket (the query's own)
    vs 5 buckets (its Hamming-1 ball — one flipped sign bit). The
    tuning table an ANN deployment reads to pick nprobe: each step of
    probe fan-out multiplies scan cost and buys back the neighbors
    that fell just across a quantization boundary.

    Shape: ground truth runs once over the bounded query set; each
    sweep point is the same bucketed join with a widened probe-bucket
    predicate (candidate volume ~ nprobe/2^bits of the corpus — the
    plan stays bucket-bounded); recall aggregates exact hit counts
    with one division.
    """
    tune(spark)
    # checkpoint (r10): the ground-truth frame feeds both sweep points;
    # a leaf keeps the brute-force lineage out of their plans
    ex = model_checkpoint(
        sim_bruteforce_topk(spark, sf_dir)
        .filter(F.col("rk") <= 3)
        .select("q_id", "c_id")
    )
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_norm"),
        _bucket("embedding").alias("q_bkt"),
    )
    c = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        _norm("embedding").alias("c_norm"),
        _bucket("embedding").alias("c_bkt"),
    )
    rows = []
    for np_ in (1, 5):
        if np_ == 1:
            pred = F.col("q_bkt") == F.col("c_bkt")
        else:
            pred = (
                F.col("q_bkt").bitwiseXOR(F.col("c_bkt")).isin(0, 1, 2, 4, 8)
            )
        pairs = c.join(F.broadcast(q), pred & (F.col("q_id") != F.col("c_id")))
        cosine = (
            _dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cosine")
        w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
        iv = (
            pairs.select("q_id", "c_id", cosine)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("q_id", "c_id", F.lit(1).alias("hit"))
        )
        rows.append(
            ex.join(iv, ["q_id", "c_id"], "left").agg(
                F.lit(np_).alias("nprobe"),
                F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias(
                    "n_hits"
                ),
                (
                    F.sum(F.coalesce("hit", F.lit(0))).cast("double")
                    / F.count(F.lit(1))
                ).alias("avg_recall_at_3"),
            )
        )
    return rows[0].unionByName(rows[1])


@query(
    "embedding_centroid_separation",
    oracle=f"""
    WITH u AS (
      SELECT label, p.pos,
             CAST(ROUND(CAST(embedding[p.pos + 1] AS DOUBLE) * {_FP_SCALE})
                  AS BIGINT) AS xi
      FROM embeddings, UNNEST(range(len(embedding))) AS p(pos)),
    c AS (
      SELECT label, pos,
             CAST(SUM(xi) AS DOUBLE) / (COUNT(*) * {_FP_SCALE}.0) AS m
      FROM u GROUP BY label, pos),
    d AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(ROUND((a.m - b.m) * {_FP_SCALE}) AS BIGINT) AS dq
      FROM c a JOIN c b ON b.pos = a.pos AND a.label < b.label)
    SELECT label_a, label_b,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           sqrt(CAST(SUM(dq * dq) AS DOUBLE)) / {_FP_SCALE} AS centroid_l2
    FROM d GROUP BY 1, 2
    """,
)
def embedding_centroid_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Class-separation matrix: L2 distance between every pair of
    label centroids — the separability table read before trusting a
    labeled embedding space (tight-but-distant centroids retrieve
    cleanly; overlapping ones predict ANN confusion, the same signal
    ``sim_kmeans_label_purity`` measures from the cluster side).

    Exactness rides the ``embedding_label_centroids`` doctrine: exact
    fixed-point integer coordinate sums -> one IEEE division per
    centroid coordinate, then the per-dimension DIFFERENCE is
    re-quantized to 1e-7 so the cross-pair reduction sums exact
    int64 squares (bounded by the coordinate range, not the row
    count — no overflow at any scale). The pair join operates on the
    labels x dims centroid frame, broadcastable at any corpus size.
    """
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    c = (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(
                F.round(F.col("x").cast("double") * _FP_SCALE).cast("long")
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            "pos",
            (F.col("s").cast("double") / (F.col("n") * float(_FP_SCALE))).alias(
                "m"
            ),
        )
    )
    a = c.select(
        F.col("label").alias("label_a"), F.col("pos").alias("pa"),
        F.col("m").alias("ma"),
    )
    b = c.select(
        F.col("label").alias("label_b"), F.col("pos").alias("pb"),
        F.col("m").alias("mb"),
    )
    dq = F.round((F.col("ma") - F.col("mb")) * _FP_SCALE).cast("long")
    return (
        a.join(
            F.broadcast(b),
            (F.col("pb") == F.col("pa"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .select("label_a", "label_b", dq.alias("dq"))
        .groupBy("label_a", "label_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            (
                F.sqrt(F.sum(F.col("dq") * F.col("dq")).cast("double"))
                / _FP_SCALE
            ).alias("centroid_l2"),
        )
    )


_HUB_QUERIES = 200  # vec_id < 200 sample the query workload
_HUB_K = 5


@query(
    "embedding_hubness_koccurrence",
    oracle=f"""
    WITH ranked AS (
      SELECT b.vec_id AS c_id,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rk
      FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
      WHERE a.vec_id < {_HUB_QUERIES}),
    occ AS (
      SELECT c_id, CAST(COUNT(*) AS BIGINT) AS k_occ
      FROM ranked WHERE rk <= {_HUB_K} GROUP BY c_id),
    corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus
               FROM embeddings),
    dist AS (
      SELECT k_occ, CAST(COUNT(*) AS BIGINT) AS n_vectors FROM occ
      GROUP BY k_occ
      UNION ALL
      SELECT CAST(0 AS BIGINT) AS k_occ,
             n_corpus - (SELECT COUNT(*) FROM occ) AS n_vectors
      FROM corpus)
    SELECT k_occ, n_vectors FROM dist
    """,
)
def embedding_hubness_koccurrence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hubness profile of the embedding space: how many corpus vectors
    appear in exactly j of the sampled queries' top-5 neighbor lists
    (including j = 0, the never-retrieved "anti-hubs") — the
    curse-of-dimensionality diagnostic (Radovanovic et al. 2010): a
    heavy right tail means a few hub vectors dominate every neighbor
    list, and ANN recall targets / dedup thresholds tuned on average
    behavior will mislead.

    Scale shape: the query side is a FIXED 200-vector sample
    (workload sample, constant at any corpus size), so the scan is
    corpus x 200 map-only cosines into a per-query bounded top-k —
    the ``sim_bruteforce_topk`` kernel (``_cosine_topk``);
    k-occurrence and its distribution are two map-side-combinable
    groupBys. Cosines are shared IEEE chains on float32 inputs
    promoted identically.
    """
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    occ = (
        _cosine_topk(e, F.col("vec_id") < _HUB_QUERIES, _HUB_K)
        .groupBy("c_id")
        .agg(F.count(F.lit(1)).cast("long").alias("k_occ"))
    )
    # checkpoint (r10): occ feeds the count and the histogram — one
    # materialization of the corpus x queries scan, leaf plans after
    occ = model_checkpoint(occ)
    corpus = e.agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
    n_occ = occ.agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    dist = occ.groupBy("k_occ").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    zero = (
        corpus.crossJoin(F.broadcast(n_occ))
        .select(
            F.lit(0).cast("long").alias("k_occ"),
            (F.col("n_corpus") - F.col("n_occ")).cast("long").alias(
                "n_vectors"
            ),
        )
    )
    return dist.unionAll(zero)
