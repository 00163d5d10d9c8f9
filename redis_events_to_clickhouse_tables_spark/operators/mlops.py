"""Model-evaluation operators: gains/lift deciles, a precision/recall
threshold sweep, and an A/B sample-ratio-mismatch (SRM) guardrail.

North-star additions (the reference ETL worker ships events into
ClickHouse and implements no analytics — SURVEY §2.9): these are the
offline-eval tables every training-data pipeline publishes next to a
model or an experiment. The shared fixture is the ``documents`` table
with the deterministic proxy task the existing eval family
(``eval_auc_doc_length_en``) already uses: score = ``n_chars``,
positive class = ``lang = 'en'`` — no model weights, so both engines
rank the exact same integers.

Scale notes (the 100-TB story):

- Deciles come from ``functions.ranks.global_rank_desc`` (range-
  bucketed exact global rank — the registry-wide plan gate forbids
  global windows) + the shared exact-NTILE integer formula; the
  10-row cumulative is a broadcast self-join, not a window.
- The threshold sweep is a map-only x|T| fan-out (explode a literal
  array) into one map-side-combinable groupBy — no join, no window.
- SRM is a single groupBy with conditional distinct counts.
- Every count is an exact int64; each output ratio is a fixed chain
  of IEEE double ops both engines evaluate identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import tune
from ..sources.tables import table

# Precision/recall sweep cutoffs over the observed n_chars range
# (48..553 at every SF — the synthetic doc-length distribution is
# SF-invariant); endpoints outside the range pin the degenerate
# all-positive / no-positive rows.
_PR_THRESHOLDS = [0, 100, 150, 200, 250, 300, 350, 400, 450, 500, 600]

_SRM_CRIT = 3.841458820694124  # chi-square(1) upper 5% point


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "n_chars",
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("pos"),
    )


@query(
    "ml_gains_lift_deciles",
    oracle="""
    WITH d AS (
      SELECT doc_id, n_chars,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(pos) AS BIGINT) AS tp FROM d),
    ranked AS (
      SELECT pos, NTILE(10) OVER (ORDER BY n_chars DESC, doc_id) AS decile
      FROM d),
    dec AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(pos) AS BIGINT) AS n_pos
      FROM ranked GROUP BY 1),
    cum AS (
      SELECT a.decile, a.n_docs, a.n_pos,
             CAST(SUM(b.n_docs) AS BIGINT) AS cn,
             CAST(SUM(b.n_pos) AS BIGINT) AS cp
      FROM dec a JOIN dec b ON b.decile <= a.decile
      GROUP BY 1, 2, 3)
    SELECT CAST(decile AS INTEGER) AS decile, n_docs, n_pos,
           CAST(cp AS DOUBLE) / (SELECT tp FROM n) AS cum_gain,
           (CAST(cp AS DOUBLE) / cn)
             / (CAST((SELECT tp FROM n) AS DOUBLE) / (SELECT n FROM n))
             AS cum_lift
    FROM cum
    """,
)
def ml_gains_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table: documents ranked by score (``n_chars`` desc,
    ``doc_id`` tiebreak) into 10 equal-count deciles; per decile the
    positive count, cumulative gain (share of all positives captured
    by deciles 1..k) and cumulative lift (capture rate vs the base
    rate) — the "top 20% of scores find 60% of the positives" table
    behind every targeting/triage model review.

    Exact global NTILE without a global window (``global_rank_desc``
    + the shared integer NTILE-of-rank formula); the 10-row cumulative
    is a broadcast self-join, mirroring ``customer_pareto_curve``.
    """
    tune(spark)
    from ..functions.ranks import global_rank_desc
    from .timeseries import _exact_ntile_expr

    d = _docs(spark, sf_dir)
    ranked, n_total = global_rank_desc(d, "n_chars", "doc_id")
    by_dec = (
        ranked.select(_exact_ntile_expr("r", n_total, 10).alias("decile"), "pos")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
    )
    totals = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("tp"),
    )
    a = by_dec.select(
        F.col("decile").alias("da"),
        F.col("n_docs").alias("nda"),
        F.col("n_pos").alias("npa"),
    )
    b = by_dec.select(
        F.col("decile").alias("db"), F.col("n_docs").alias("ndb"),
        F.col("n_pos").alias("npb"),
    )
    cum = (
        a.join(F.broadcast(b), F.col("db") <= F.col("da"))
        .groupBy("da", "nda", "npa")
        .agg(
            F.sum("ndb").cast("long").alias("cn"),
            F.sum("npb").cast("long").alias("cp"),
        )
    )
    return cum.crossJoin(F.broadcast(totals)).select(
        F.col("da").cast("int").alias("decile"),
        F.col("nda").alias("n_docs"),
        F.col("npa").alias("n_pos"),
        (F.col("cp").cast("double") / F.col("tp")).alias("cum_gain"),
        (
            (F.col("cp").cast("double") / F.col("cn"))
            / (F.col("tp").cast("double") / F.col("n"))
        ).alias("cum_lift"),
    )


@query(
    "ml_pr_threshold_sweep",
    oracle=f"""
    WITH d AS (
      SELECT n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents),
    sweep AS (
      SELECT t.threshold,
             CAST(SUM(CASE WHEN n_chars >= t.threshold
                           THEN pos ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN n_chars >= t.threshold
                           THEN 1 - pos ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN n_chars < t.threshold
                           THEN pos ELSE 0 END) AS BIGINT) AS fn
      FROM d CROSS JOIN (
        SELECT UNNEST({_PR_THRESHOLDS}) AS threshold) t
      GROUP BY 1)
    SELECT CAST(threshold AS BIGINT) AS threshold, tp, fp, fn,
           CASE WHEN tp + fp > 0
                THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
           CASE WHEN tp + fn > 0
                THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN 2.0 * tp / (2 * tp + fp + fn) END AS f1
    FROM sweep
    """,
)
def ml_pr_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at a fixed grid of score cutoffs — the
    operating-point table a reviewer reads before picking a filter
    threshold (complements the rank-based ``ml_gains_lift_deciles``
    with absolute-threshold semantics).

    One map-only x|T| fan-out (explode a literal threshold array) into
    a single map-side-combinable groupBy: no join, no window, and the
    confusion entries stay exact int64. F1 uses the division-stable
    ``2tp / (2tp + fp + fn)`` identity so there is exactly ONE IEEE
    division per output ratio.
    """
    tune(spark)
    d = _docs(spark, sf_dir)
    swept = d.select(
        "pos",
        "n_chars",
        F.explode(
            F.array(*[F.lit(t) for t in _PR_THRESHOLDS])
        ).alias("threshold"),
    )
    hit = F.col("n_chars") >= F.col("threshold")
    agg = swept.groupBy("threshold").agg(
        F.sum(F.when(hit, F.col("pos")).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(hit, 1 - F.col("pos")).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~hit, F.col("pos")).otherwise(0)).cast("long").alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return agg.select(
        F.col("threshold").cast("long").alias("threshold"),
        "tp",
        "fp",
        "fn",
        F.when(tp + fp > 0, tp.cast("double") / (tp + fp)).alias("precision"),
        F.when(tp + fn > 0, tp.cast("double") / (tp + fn)).alias("recall"),
        F.when(
            2 * tp + fp + fn > 0, F.lit(2.0) * tp / (2 * tp + fp + fn)
        ).alias("f1"),
    )


@query(
    "stats_ab_srm_check",
    oracle=f"""
    WITH assigned AS (
      SELECT DISTINCT event_type, user_id, user_id % 2 AS arm
      FROM events),
    counts AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS users_control,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS users_treatment
      FROM assigned GROUP BY 1)
    SELECT event_type, users_control, users_treatment,
           CAST((users_control - users_treatment)
                * (users_control - users_treatment) AS DOUBLE)
             / (users_control + users_treatment) AS chi2,
           CAST((users_control - users_treatment)
                * (users_control - users_treatment) AS DOUBLE)
             / (users_control + users_treatment) > {_SRM_CRIT}
             AS srm_flag
    FROM counts
    """,
)
def stats_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: users deterministically
    assigned to two arms (``user_id % 2`` — the stand-in for the
    production bucketing hash), exposure counted per event_type, and
    the 50/50 split tested with the one-degree chi-square
    ``(a-b)^2/(a+b)``. An SRM flag is the first thing an experiment
    review checks — a skewed split invalidates every downstream
    metric (``stats_ab_test_conversion`` assumes this gate passed).

    One distinct + one groupBy (both map-side combinable, keyed by
    event_type x user so no skew hot-spot); the squared difference is
    exact int64 and the statistic is a single IEEE division.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    assigned = e.select(
        "event_type", "user_id", (F.col("user_id") % 2).alias("arm")
    ).distinct()
    counts = assigned.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("users_control"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("users_treatment"),
    )
    diff = F.col("users_control") - F.col("users_treatment")
    tot = F.col("users_control") + F.col("users_treatment")
    chi2 = (diff * diff).cast("double") / tot
    return counts.select(
        "event_type",
        "users_control",
        "users_treatment",
        chi2.alias("chi2"),
        (chi2 > _SRM_CRIT).alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# Calibration scalars: Brier decomposition + expected calibration error
# (fixture: ml_calibration_bins' discount->return-flag score/outcome pair,
# prediction p_k = discount_pct/100)
# ---------------------------------------------------------------------------

_CAL_BINS = """
    scored AS (
      SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS k,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem),
    bins AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS s
      FROM scored GROUP BY k)
"""


def _calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, n, s): the Spark twin of ``_CAL_BINS`` — per predicted
    percentage k (the discount), ``n`` lineitems, ``s`` returned."""
    li = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("long").alias("k"),
        F.when(F.col("l_returnflag") == "R", 1)
        .otherwise(0)
        .cast("long")
        .alias("pos"),
    )
    return li.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("s"),
    )


@query(
    "eval_brier_decomposition",
    oracle=f"""
    WITH {_CAL_BINS},
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(s) AS BIGINT) AS pp,
             CAST(SUM(n * k * k - 200 * k * s + 10000 * s) AS BIGINT)
               AS bnum,
             list({{'k': k, 'n': n, 's': s}} ORDER BY k) AS bs
      FROM bins)
    SELECT nn AS n,
           CAST(pp AS DOUBLE) / nn AS base_rate,
           CAST(bnum AS DOUBLE)
             / (CAST(10000 AS DOUBLE) * CAST(nn AS DOUBLE)) AS brier,
           list_reduce(
             list_prepend(
               CAST(0 AS DOUBLE),
               list_transform(
                 bs,
                 b -> CAST(CAST(b.k * b.n - 100 * b.s AS HUGEINT)
                           * (b.k * b.n - 100 * b.s) AS DOUBLE)
                      / (CAST(10000 AS DOUBLE) * CAST(b.n AS DOUBLE)))),
             (a, v) -> a + v) / nn AS reliability,
           list_reduce(
             list_prepend(
               CAST(0 AS DOUBLE),
               list_transform(
                 bs,
                 b -> CAST(CAST(b.s * nn - pp * b.n AS HUGEINT)
                           * (b.s * nn - pp * b.n) AS DOUBLE)
                      / (CAST(b.n AS DOUBLE) * CAST(nn AS DOUBLE)
                         * CAST(nn AS DOUBLE)))),
             (a, v) -> a + v) / nn AS resolution,
           (CAST(pp AS DOUBLE) / nn)
             * (CAST(1 AS DOUBLE) - CAST(pp AS DOUBLE) / nn) AS uncertainty
    FROM tot
    """,
)
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for the calibration
    fixture (prediction p_k = discount_pct/100, outcome = returned):
    BS = reliability - resolution + uncertainty — the one-row scorecard
    that says WHY a probabilistic score is good or bad (miscalibrated
    vs uninformative).

    Exactness: with per-bin constant predictions, 10000*N*BS is the
    INTEGER ``sum(n*k^2 - 200*k*s + 10000*s)``; reliability and
    resolution terms have integer numerators (squared via
    DECIMAL(38,0)/HUGEINT) over per-bin denominators, and the across-
    bin sum of those 11 doubles runs as an ORDERED FOLD (array sorted
    by bin; Spark ``aggregate`` == DuckDB ``list_reduce`` — the
    ``timeseries_ses_level`` parity doctrine), so even the float
    summation order is pinned. Scale: one map-side-combinable groupBy
    to an 11-row bin frame, then a 1-row fold — nothing downstream of
    the scan depends on corpus size.
    """
    tune(spark)
    bins = _calibration_bins(spark, sf_dir)
    tot = bins.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("pp"),
        F.sum(
            F.col("n") * F.col("k") * F.col("k")
            - 200 * F.col("k") * F.col("s")
            + 10000 * F.col("s")
        )
        .cast("long")
        .alias("bnum"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("k").alias("k"),
                    F.col("n").alias("n"),
                    F.col("s").alias("s"),
                )
            )
        ).alias("bs"),
    )

    def fold_sum(terms: F.Column) -> F.Column:
        return F.aggregate(terms, F.lit(0.0), lambda a, v: a + v)

    def rel_term(b: F.Column) -> F.Column:
        d = b.getField("k") * b.getField("n") - 100 * b.getField("s")
        return (d.cast("decimal(19,0)") * d).cast("double") / (
            F.lit(10000.0) * b.getField("n").cast("double")
        )

    def res_term(b: F.Column) -> F.Column:
        d = b.getField("s") * F.col("nn") - F.col("pp") * b.getField("n")
        return (d.cast("decimal(19,0)") * d).cast("double") / (
            b.getField("n").cast("double")
            * F.col("nn").cast("double")
            * F.col("nn").cast("double")
        )

    base = F.col("pp").cast("double") / F.col("nn")
    return tot.select(
        F.col("nn").alias("n"),
        base.alias("base_rate"),
        (
            F.col("bnum").cast("double")
            / (F.lit(10000.0) * F.col("nn").cast("double"))
        ).alias("brier"),
        (fold_sum(F.transform(F.col("bs"), rel_term)) / F.col("nn")).alias(
            "reliability"
        ),
        (fold_sum(F.transform(F.col("bs"), res_term)) / F.col("nn")).alias(
            "resolution"
        ),
        (base * (F.lit(1.0) - base)).alias("uncertainty"),
    )


@query(
    "eval_expected_calibration_error",
    oracle=f"""
    WITH {_CAL_BINS}
    SELECT CAST(SUM(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(ABS(100 * s - k * n)) AS DOUBLE)
             / (CAST(100 AS DOUBLE) * CAST(SUM(n) AS DOUBLE)) AS ece,
           MAX(CAST(ABS(100 * s - k * n) AS DOUBLE)
               / (CAST(100 AS DOUBLE) * CAST(n AS DOUBLE))) AS mce
    FROM bins
    """,
)
def eval_expected_calibration_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Expected and maximum calibration error for the calibration
    fixture: ECE = sum_k (n_k/N)*|obs_k - p_k|, MCE = max_k |obs_k -
    p_k| — the two headline numbers quoted from every reliability
    diagram.

    Fully exact: ECE's numerator telescopes to the INTEGER
    ``sum(|100*s_k - k*n_k|)`` (weighting by n_k cancels the per-bin
    denominator), so the only float ops are one shared division per
    output; MCE is a max over 11 identically-computed doubles.
    Scale: one map-side-combinable groupBy to the bin frame, then a
    1-row aggregate.
    """
    tune(spark)
    bins = _calibration_bins(spark, sf_dir)
    err = F.abs(100 * F.col("s") - F.col("k") * F.col("n"))
    return bins.agg(
        F.sum("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        (
            F.sum(err).cast("double")
            / (F.lit(100.0) * F.sum("n").cast("double"))
        ).alias("ece"),
        F.max(
            err.cast("double") / (F.lit(100.0) * F.col("n").cast("double"))
        ).alias("mce"),
    )


_Z975 = 1.959963984540054  # two-sided 95% normal quantile


@query(
    "eval_auc_delong_se",
    oracle="""
    WITH d AS (
      SELECT n_chars AS v,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents),
    dv AS (
      SELECT v, CAST(SUM(pos) AS BIGINT) AS a,
             CAST(COUNT(*) - SUM(pos) AS BIGINT) AS b
      FROM d GROUP BY v),
    tot AS (SELECT CAST(SUM(a) AS BIGINT) AS m,
                   CAST(SUM(b) AS BIGINT) AS n FROM dv),
    cum AS (
      SELECT a, b,
             SUM(a) OVER (ORDER BY v) AS ca,
             SUM(b) OVER (ORDER BY v) AS cb
      FROM dv),
    pl AS (
      SELECT a, b,
             2 * (cb - b) + b AS p,
             2 * (m - ca) + a AS q
      FROM cum, tot),
    s AS (
      SELECT CAST(SUM(a * p) AS BIGINT) AS sp1,
             SUM(CAST(a AS HUGEINT) * p * p) AS sp2,
             CAST(SUM(b * q) AS BIGINT) AS sq1,
             SUM(CAST(b AS HUGEINT) * q * q) AS sq2
      FROM pl),
    f AS (
      SELECT m, n,
             CAST(sp1 AS DOUBLE)
               / (CAST(2 AS DOUBLE) * CAST(n AS DOUBLE)
                  * CAST(m AS DOUBLE)) AS auc,
             (CAST(m * sp2 - CAST(sp1 AS HUGEINT) * sp1 AS DOUBLE)
              / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE)))
               / (CAST(4 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
               AS var_v10,
             (CAST(n * sq2 - CAST(sq1 AS HUGEINT) * sq1 AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
               / (CAST(4 AS DOUBLE) * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
               AS var_v01
      FROM s, tot)
    SELECT m AS n_pos, n AS n_neg, auc,
           sqrt(var_v10 / m + var_v01 / n) AS se_delong,
           auc - 1.959963984540054 * sqrt(var_v10 / m + var_v01 / n)
             AS ci95_lo,
           auc + 1.959963984540054 * sqrt(var_v10 / m + var_v01 / n)
             AS ci95_hi
    FROM f
    """,
)
def eval_auc_delong_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC with its DeLong (1988) standard error and 95% CI for the
    shared eval fixture (score = ``n_chars``, positive = ``lang =
    'en'``) — the number that turns ``eval_auc_doc_length_en``'s point
    estimate into a defensible "is model A actually better than B"
    statement.

    DeLong's estimator needs per-observation placement values; the
    trick that keeps it distributed AND exact is that every positive
    at distinct score v shares the INTEGER placement ``p_v =
    2*negatives_below + ties`` (and dually for negatives), so the
    required variances are integer power sums over the distinct-value
    frame — the ``stats_mann_whitney_u`` prefix-scan shape
    (``bucketed_prefix_sums``, never a global window), squared in
    DECIMAL(38,0)/HUGEINT, with one shared IEEE chain at the end.
    """
    tune(spark)
    from ..functions.ranks import bucketed_prefix_sums

    d = _docs(spark, sf_dir)
    dv = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum("pos").cast("long").alias("a"),
        (F.count(F.lit(1)) - F.sum("pos")).cast("long").alias("b"),
    )
    cum = bucketed_prefix_sums(dv, "v", ["a", "b"])
    tot = dv.agg(
        F.sum("a").cast("long").alias("m"),
        F.sum("b").cast("long").alias("n"),
    )
    pl = cum.crossJoin(F.broadcast(tot)).select(
        "a",
        "b",
        "m",
        "n",
        (2 * (F.col("cum_b") - F.col("b")) + F.col("b")).alias("p"),
        (2 * (F.col("m") - F.col("cum_a")) + F.col("a")).alias("q"),
    )
    s = pl.agg(
        F.min("m").alias("m"),
        F.min("n").alias("n"),
        F.sum(F.col("a") * F.col("p")).cast("long").alias("sp1"),
        F.sum(
            F.col("a").cast("decimal(19,0)") * F.col("p") * F.col("p")
        ).alias("sp2"),
        F.sum(F.col("b") * F.col("q")).cast("long").alias("sq1"),
        F.sum(
            F.col("b").cast("decimal(19,0)") * F.col("q") * F.col("q")
        ).alias("sq2"),
    )
    md, nd = F.col("m").cast("double"), F.col("n").cast("double")
    auc = F.col("sp1").cast("double") / (F.lit(2.0) * nd * md)
    var_v10 = (
        (
            F.col("m").cast("decimal(10,0)") * F.col("sp2")
            - F.col("sp1").cast("decimal(19,0)") * F.col("sp1")
        ).cast("double")
        / (md * (F.col("m") - 1).cast("double"))
    ) / (F.lit(4.0) * nd * nd)
    var_v01 = (
        (
            F.col("n").cast("decimal(10,0)") * F.col("sq2")
            - F.col("sq1").cast("decimal(19,0)") * F.col("sq1")
        ).cast("double")
        / (nd * (F.col("n") - 1).cast("double"))
    ) / (F.lit(4.0) * md * md)
    se = F.sqrt(var_v10 / F.col("m") + var_v01 / F.col("n"))
    return s.select(
        F.col("m").alias("n_pos"),
        F.col("n").alias("n_neg"),
        auc.alias("auc"),
        se.alias("se_delong"),
        (auc - F.lit(_Z975) * se).alias("ci95_lo"),
        (auc + F.lit(_Z975) * se).alias("ci95_hi"),
    )


@query(
    "ml_gini_feature_gain",
    oracle="""
    WITH li AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS f_disc,
             CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS f_qty,
             CASE WHEN l_extendedprice >= 30000 THEN 1 ELSE 0 END AS f_price
      FROM lineitem),
    expl AS (
      SELECT u.f AS feature, u.v AS flag, y FROM li,
        UNNEST([
          {'f': 'discount_ge_5pct', 'v': f_disc},
          {'f': 'quantity_ge_25', 'v': f_qty},
          {'f': 'price_ge_30k', 'v': f_price}
        ]) AS t(u)),
    cells AS (
      SELECT feature, flag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS s
      FROM expl GROUP BY 1, 2),
    tot AS (
      SELECT feature, CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(s) AS BIGINT) AS st
      FROM cells GROUP BY 1),
    g AS (
      SELECT cells.feature,
             nt AS n_rows, st AS n_pos,
             CAST(2 AS DOUBLE) * st / nt
               * (CAST(1 AS DOUBLE) - CAST(st AS DOUBLE) / nt)
               AS gini_parent,
             SUM((CAST(n AS DOUBLE) / nt)
                 * (CAST(2 AS DOUBLE) * s / n
                    * (CAST(1 AS DOUBLE) - CAST(s AS DOUBLE) / n)))
               AS gini_children
      FROM cells JOIN tot ON tot.feature = cells.feature
      GROUP BY cells.feature, nt, st)
    SELECT feature, n_rows, n_pos, gini_parent, gini_children,
           gini_parent - gini_children AS gini_gain
    FROM g
    """,
)
def ml_gini_feature_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity gain of three one-split candidate features
    (discount >= 5%, quantity >= 25, price >= $30k) against the
    return-flag outcome — the feature-importance table a decision-tree
    trainer's first split would read; the ranking says which signal a
    returns model should consume first.

    Exactness: all cell counts are exact int64; parent and weighted
    child impurities ``2p(1-p)`` are fixed IEEE chains over those
    integers — the across-cell sum has exactly TWO summands per
    feature (flag 0/1), evaluated in the same grouped-aggregate order
    by both engines after the integer groupBy. Scale: one literal x3
    fan-out into a 6-cell map-side-combinable groupBy — no join of
    fact data, no window.
    """
    tune(spark)
    li = table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("f_disc"),
        F.when(F.col("l_quantity") >= 25, 1).otherwise(0).alias("f_qty"),
        F.when(F.col("l_extendedprice") >= 30000, 1)
        .otherwise(0)
        .alias("f_price"),
    )
    expl = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("discount_ge_5pct").alias("f"),
                    F.col("f_disc").alias("v"),
                ),
                F.struct(
                    F.lit("quantity_ge_25").alias("f"), F.col("f_qty").alias("v")
                ),
                F.struct(
                    F.lit("price_ge_30k").alias("f"),
                    F.col("f_price").alias("v"),
                ),
            )
        ).alias("u"),
        "y",
    ).select(
        F.col("u.f").alias("feature"), F.col("u.v").alias("flag"), "y"
    )
    cells = expl.groupBy("feature", "flag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    tot = cells.groupBy(F.col("feature").alias("f2")).agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
    )
    j = cells.join(tot, F.col("feature") == F.col("f2"))
    child = (F.col("n").cast("double") / F.col("nt")) * (
        F.lit(2.0)
        * F.col("s")
        / F.col("n")
        * (F.lit(1.0) - F.col("s").cast("double") / F.col("n"))
    )
    g = j.groupBy("feature").agg(
        F.max("nt").alias("n_rows"),
        F.max("st").alias("n_pos"),
        (
            F.lit(2.0)
            * F.max("st")
            / F.max("nt")
            * (
                F.lit(1.0)
                - F.max("st").cast("double") / F.max("nt")
            )
        ).alias("gini_parent"),
        F.sum(child).alias("gini_children"),
    )
    return g.select(
        "feature",
        "n_rows",
        "n_pos",
        "gini_parent",
        "gini_children",
        (F.col("gini_parent") - F.col("gini_children")).alias("gini_gain"),
    )


_UPLIFT_CUT = "1995-09-01"  # activity window start for the outcome


@query(
    "ml_uplift_aa_screen",
    oracle=f"""
    WITH cust AS (
      SELECT c_custkey AS k, c_mktsegment AS segment,
             CAST({{md5}} % 2 AS INTEGER) AS treat
      FROM customer),
    act AS (
      SELECT o_custkey AS k, CAST(1 AS INTEGER) AS active
      FROM orders
      WHERE o_orderdate >= DATE '{_UPLIFT_CUT}'
      GROUP BY 1),
    j AS (
      SELECT segment, treat, COALESCE(active, 0) AS y
      FROM cust LEFT JOIN act ON act.k = cust.k),
    cells AS (
      SELECT segment,
             CAST(SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_t,
             CAST(SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_c,
             CAST(SUM(CASE WHEN treat = 1 THEN y ELSE 0 END) AS BIGINT)
               AS s_t,
             CAST(SUM(CASE WHEN treat = 0 THEN y ELSE 0 END) AS BIGINT)
               AS s_c
      FROM j GROUP BY 1)
    SELECT segment, n_t, n_c,
           CAST(s_t AS DOUBLE) / n_t AS rate_treat,
           CAST(s_c AS DOUBLE) / n_c AS rate_control,
           CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c AS uplift,
           ABS(CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c)
             > 2 * sqrt(
                 (CAST(s_t AS DOUBLE) / n_t)
                   * (CAST(1 AS DOUBLE) - CAST(s_t AS DOUBLE) / n_t) / n_t
                 + (CAST(s_c AS DOUBLE) / n_c)
                   * (CAST(1 AS DOUBLE) - CAST(s_c AS DOUBLE) / n_c) / n_c)
             AS aa_alarm
    FROM cells
    """.replace(
        "{md5}",
        "CAST(('0x' || substr(md5('aa:' || c_custkey), 1, 15)) AS BIGINT)",
    ),
)
def ml_uplift_aa_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A uplift screen per market segment: customers are split by a
    deterministic md5 coin into placebo "treatment"/"control", the
    outcome is recent-activity (any order after {cut}), and the
    uplift plus a 2-sigma alarm is reported — the null-experiment
    harness every uplift pipeline must pass BEFORE a real treatment
    is trusted (a firing alarm here means the assignment, join, or
    variance math is broken, not the product).

    Exactness: assignment is the cross-engine md5 mixer
    (``functions/hashing``); counts are exact int64; rates, uplift,
    and the pooled-variance bound are one shared IEEE chain, so the
    alarm bit is identical in both engines. Scale: one broadcast-dim
    hash assignment, one date-filtered activity groupBy (pushed-down
    predicate), one left join on the customer key.
    """
    tune(spark)
    from ..functions.hashing import md5_long

    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("segment"),
        (md5_long(F.col("c_custkey").cast("string"), salt="aa") % 2)
        .cast("int")
        .alias("treat"),
    )
    o = table(spark, sf_dir, "orders")
    act = (
        o.filter(F.col("o_orderdate") >= F.lit(_UPLIFT_CUT))
        .groupBy(F.col("o_custkey").alias("k2"))
        .agg(F.lit(1).cast("int").alias("active"))
    )
    j = c.join(act, F.col("k") == F.col("k2"), "left").select(
        "segment", "treat", F.coalesce(F.col("active"), F.lit(0)).alias("y")
    )
    cells = j.groupBy("segment").agg(
        F.sum(F.when(F.col("treat") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_t"),
        F.sum(F.when(F.col("treat") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_c"),
        F.sum(F.when(F.col("treat") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("s_t"),
        F.sum(F.when(F.col("treat") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("s_c"),
    )
    rt = F.col("s_t").cast("double") / F.col("n_t")
    rc = F.col("s_c").cast("double") / F.col("n_c")
    se2 = rt * (F.lit(1.0) - rt) / F.col("n_t") + rc * (
        F.lit(1.0) - rc
    ) / F.col("n_c")
    return cells.select(
        "segment",
        "n_t",
        "n_c",
        rt.alias("rate_treat"),
        rc.alias("rate_control"),
        (rt - rc).alias("uplift"),
        (F.abs(rt - rc) > 2 * F.sqrt(se2)).alias("aa_alarm"),
    )


_LC_FRACS = [1, 2, 4, 8, 16]  # keep 16/m of the md5 buckets => m in list


@query(
    "ml_stump_learning_curve",
    oracle="""
    WITH li AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS flag,
             CAST(('0x' || substr(md5('lcv:' || l_orderkey || ':'
                                       || l_linenumber), 1, 15)) AS BIGINT)
               % 16 AS bucket
      FROM lineitem),
    full_ AS (
      SELECT flag, CAST(COUNT(*) AS BIGINT) AS nf,
             CAST(SUM(y) AS BIGINT) AS sf
      FROM li GROUP BY 1),
    ms AS (SELECT UNNEST([1, 2, 4, 8, 16]) AS m),
    train AS (
      SELECT m, flag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS s
      FROM li JOIN ms ON bucket < m
      GROUP BY m, flag),
    pred AS (
      SELECT m, flag,
             CASE WHEN 2 * s > n THEN 1 ELSE 0 END AS yhat,
             n AS train_n
      FROM train),
    gmaj AS (
      SELECT CASE WHEN 2 * SUM(sf) > SUM(nf) THEN 1 ELSE 0 END AS g
      FROM full_),
    acc AS (
      SELECT ms.m,
             CAST(COALESCE(SUM(pred.train_n), 0) AS BIGINT) AS train_rows,
             CAST(SUM(CASE WHEN COALESCE(pred.yhat, g) = 1
                           THEN sf ELSE nf - sf END)
                  AS BIGINT) AS n_correct,
             CAST(SUM(nf) AS BIGINT) AS n_total
      FROM ms CROSS JOIN full_ CROSS JOIN gmaj
      LEFT JOIN pred ON pred.m = ms.m AND pred.flag = full_.flag
      GROUP BY ms.m)
    SELECT m AS n_buckets, train_rows, n_correct, n_total,
           CAST(n_correct AS DOUBLE) / n_total AS accuracy
    FROM acc
    """,
)
def ml_stump_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve of a one-split decision stump (quantity >= 25
    predicting the return flag): the stump is fit on deterministic
    md5-bucket samples of 1/16, 2/16, ... 16/16 of the data and
    scored on the FULL set — the "how much labeled data do we
    actually need" table that decides whether to buy more labels or
    more features. A stable curve by 2/16 means the signal saturates
    early; majority-class flips across fractions mean the feature is
    noise.

    Exactness: sampling is the cross-engine md5 mixer; the stump's
    per-branch majority is the exact integer test ``2s > n``;
    accuracy is exact integer counts with one shared division.
    Scale: one md5 per row, a literal x5 threshold join on the
    16-value bucket column, and two tiny grouped aggregates — the
    fact table is scanned twice (train cells, full cells), never
    joined to itself.
    """
    tune(spark)
    from ..functions.hashing import md5_long

    li = table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.when(F.col("l_quantity") >= 25, 1).otherwise(0).alias("flag"),
        (
            md5_long(
                F.concat_ws(
                    ":",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                ),
                salt="lcv",
            )
            % 16
        ).alias("bucket"),
    )
    li = li.persist()
    full_ = li.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("nf"),
        F.sum("y").cast("long").alias("sf"),
    )
    ms = li.sparkSession.createDataFrame(
        [(m,) for m in _LC_FRACS], "m long"
    )
    train = (
        li.join(F.broadcast(ms), F.col("bucket") < F.col("m"))
        .groupBy("m", "flag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("s"),
        )
    )
    pred = train.select(
        "m",
        "flag",
        F.when(2 * F.col("s") > F.col("n"), 1).otherwise(0).alias("yhat"),
        F.col("n").alias("train_n"),
    )
    f2 = full_.select(
        F.col("flag").alias("flag2"), "nf", "sf"
    )
    # score on the genuinely FULL set (ADVICE r8): every (m, branch)
    # cell exists via ms x full_, a branch absent from the training
    # sample predicts the GLOBAL majority class, and the denominator
    # is always SUM(nf) over all branches
    glob = full_.agg(
        F.when(2 * F.sum("sf") > F.sum("nf"), 1).otherwise(0).alias("g")
    )
    grid = F.broadcast(ms).crossJoin(F.broadcast(f2)).crossJoin(
        F.broadcast(glob)
    )
    acc = (
        grid.join(
            pred,
            (pred["m"] == grid["m"]) & (pred["flag"] == grid["flag2"]),
            "left",
        )
        .groupBy(grid["m"])
        .agg(
            F.coalesce(F.sum("train_n"), F.lit(0))
            .cast("long")
            .alias("train_rows"),
            F.sum(
                F.when(
                    F.coalesce(F.col("yhat"), F.col("g")) == 1, F.col("sf")
                ).otherwise(F.col("nf") - F.col("sf"))
            )
            .cast("long")
            .alias("n_correct"),
            F.sum("nf").cast("long").alias("n_total"),
        )
    )
    out = acc.select(
        F.col("m").alias("n_buckets"),
        "train_rows",
        "n_correct",
        "n_total",
        (F.col("n_correct").cast("double") / F.col("n_total")).alias(
            "accuracy"
        ),
    )
    rows = out.persist()
    rows.count()
    li.unpersist()
    return rows
