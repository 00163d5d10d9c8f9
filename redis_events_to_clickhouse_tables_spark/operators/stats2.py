"""Second statistics wave: paired / blocked nonparametrics, agreement
measures, and sequential-drift diagnostics.

Same exactness doctrine as ``stats.py``: every sum runs in exact
integers (cents) or DECIMAL(38,0); ranks use the doubled-midrank
trick so ties stay integral; transcendental-free statistics are one
shared IEEE expression over exact inputs, so Spark and DuckDB produce
bit-identical doubles. Scale doctrine: no global windows — ordered
scans go through the bucketed prefix primitives (functions/ranks.py),
model frames (per-day, per-block) are value-space-bounded.

Reference parity note: the reference ETL (src/main.ts) has no
statistics operators; this is Layer-B training-data-pipeline surface
(paired A/B readouts, labeling-agreement QA, ingest-drift alarms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import DUCKDB_MD5_LONG
from ..functions.lineage import model_checkpoint
from ..functions.numeric import dec
from ..functions.ranks import bucketed_prefix_min, bucketed_prefix_sums
from ..registry import query
from ..session import tune
from ..sources.tables import table

_SPLIT_DATE = "1998-06-01"  # orders midpoint-ish: ~1.5k paired customers/sf0.01

_CENTS = "CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)"
_DAY = "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))"


def _spend_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer exact spend (cents) in each half of the order
    history; only customers active in BOTH halves (the paired-design
    requirement)."""
    o = table(spark, sf_dir, "orders")
    h = o.groupBy("o_custkey").agg(
        F.sum(
            F.when(
                F.col("o_orderdate") < F.lit(_SPLIT_DATE).cast("date"),
                (dec("o_totalprice", 14) * 100).cast("long"),
            )
        ).alias("s1"),
        F.sum(
            F.when(
                F.col("o_orderdate") >= F.lit(_SPLIT_DATE).cast("date"),
                (dec("o_totalprice", 14) * 100).cast("long"),
            )
        ).alias("s2"),
    )
    return h.filter(F.col("s1").isNotNull() & F.col("s2").isNotNull())


@query(
    "stats_wilcoxon_signed_rank",
    oracle=f"""
    WITH h AS (
      SELECT o_custkey,
             SUM(CASE WHEN o_orderdate < DATE '{_SPLIT_DATE}'
                 THEN CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                 END) AS s1,
             SUM(CASE WHEN o_orderdate >= DATE '{_SPLIT_DATE}'
                 THEN CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                 END) AS s2
      FROM orders GROUP BY 1),
    d AS (
      SELECT CAST(s2 - s1 AS BIGINT) AS diff
      FROM h WHERE s1 IS NOT NULL AND s2 IS NOT NULL AND s2 <> s1),
    dv AS (
      SELECT ABS(diff) AS ad,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(COUNT(CASE WHEN diff > 0 THEN 1 END) AS BIGINT) AS cp
      FROM d GROUP BY 1),
    r AS (
      SELECT ad, c, cp,
             2 * (SUM(c) OVER (ORDER BY ad) - c) + c + 1 AS mr2
      FROM dv),
    s AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(cp * mr2) AS BIGINT) AS w2p
      FROM r)
    SELECT n AS n_pairs,
           CAST(w2p AS DOUBLE) / 2 AS w_plus,
           (CAST(w2p AS DOUBLE) / 2
              - CAST(n AS DOUBLE) * (n + 1) / 4)
           / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24)
             AS z_approx
    FROM s
    """,
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired per-customer spend (first
    half vs second half of the order history): the nonparametric
    paired-difference readout — did the SAME population shift? —
    where Mann-Whitney (independent groups) would be the wrong
    design.

    Exactness: diffs are exact cents; |diff| midranks use the doubled
    domain (tied ranks stay integral); W+ accumulates cp*mr2 in int64.
    Halves of the doubled W are exactly representable, and the normal
    approximation is one fixed IEEE tail. Scale: the midrank scan is
    ``bucketed_prefix_sums`` over DISTINCT |diff| values — no global
    window, no per-row rank shuffle.
    """
    tune(spark)
    h = _spend_halves(spark, sf_dir)
    d = h.filter(F.col("s2") != F.col("s1")).select(
        (F.col("s2") - F.col("s1")).alias("diff")
    )
    dv = d.groupBy(F.abs(F.col("diff")).alias("ad")).agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.count(F.when(F.col("diff") > 0, 1)).cast("long").alias("cp"),
    )
    r = bucketed_prefix_sums(dv, "ad", ["c"]).select(
        "ad",
        "c",
        "cp",
        (2 * (F.col("cum_c") - F.col("c")) + F.col("c") + 1).alias("mr2"),
    )
    s = r.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("cp") * F.col("mr2")).cast("long").alias("w2p"),
    )
    n = F.col("n").cast("double")
    wp = F.col("w2p").cast("double") / 2
    return s.select(
        F.col("n").alias("n_pairs"),
        wp.alias("w_plus"),
        (
            (wp - n * (F.col("n") + 1) / 4)
            / F.sqrt(n * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24)
        ).alias("z_approx"),
    )


@query(
    "stats_mcnemar_urgent_halves",
    oracle=f"""
    WITH flags AS (
      SELECT c.c_custkey,
             COALESCE(MAX(CASE WHEN o.o_orderpriority = '1-URGENT'
                 AND o.o_orderdate < DATE '{_SPLIT_DATE}'
                 THEN 1 END), 0) AS x1,
             COALESCE(MAX(CASE WHEN o.o_orderpriority = '1-URGENT'
                 AND o.o_orderdate >= DATE '{_SPLIT_DATE}'
                 THEN 1 END), 0) AS x2
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1),
    cells AS (
      SELECT CAST(COUNT(CASE WHEN x1 = 1 AND x2 = 1 THEN 1 END) AS BIGINT) AS a,
             CAST(COUNT(CASE WHEN x1 = 1 AND x2 = 0 THEN 1 END) AS BIGINT) AS b,
             CAST(COUNT(CASE WHEN x1 = 0 AND x2 = 1 THEN 1 END) AS BIGINT) AS c,
             CAST(COUNT(CASE WHEN x1 = 0 AND x2 = 0 THEN 1 END) AS BIGINT) AS d
      FROM flags)
    SELECT a, b, c, d,
           CAST((b - c) * (b - c) AS DOUBLE) / (b + c) AS chi2,
           CAST((ABS(b - c) - 1) * (ABS(b - c) - 1) AS DOUBLE) / (b + c)
             AS chi2_cc
    FROM cells
    """,
)
def stats_mcnemar_urgent_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on a paired binary outcome: per customer, "had
    an URGENT order" in the first vs second half of the history. Only
    the discordant cells (b: yes->no, c: no->yes) carry information —
    the marginal-homogeneity readout a naive chi-square on the pooled
    2x2 gets wrong because the samples are the same customers.

    Cells are exact int64 counts from one grouped pass over the
    customer left join; chi2 (plain and continuity-corrected) is a
    single integer-ratio division each.
    """
    tune(spark)
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders")
    flags = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.max(
                    F.when(
                        (F.col("o_orderpriority") == "1-URGENT")
                        & (
                            F.col("o_orderdate")
                            < F.lit(_SPLIT_DATE).cast("date")
                        ),
                        1,
                    )
                ),
                F.lit(0),
            ).alias("x1"),
            F.coalesce(
                F.max(
                    F.when(
                        (F.col("o_orderpriority") == "1-URGENT")
                        & (
                            F.col("o_orderdate")
                            >= F.lit(_SPLIT_DATE).cast("date")
                        ),
                        1,
                    )
                ),
                F.lit(0),
            ).alias("x2"),
        )
    )
    cells = flags.agg(
        F.count(F.when((F.col("x1") == 1) & (F.col("x2") == 1), 1))
        .cast("long")
        .alias("a"),
        F.count(F.when((F.col("x1") == 1) & (F.col("x2") == 0), 1))
        .cast("long")
        .alias("b"),
        F.count(F.when((F.col("x1") == 0) & (F.col("x2") == 1), 1))
        .cast("long")
        .alias("c"),
        F.count(F.when((F.col("x1") == 0) & (F.col("x2") == 0), 1))
        .cast("long")
        .alias("d"),
    )
    bc = F.col("b") - F.col("c")
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        ((bc * bc).cast("double") / (F.col("b") + F.col("c"))).alias("chi2"),
        (
            ((F.abs(bc) - 1) * (F.abs(bc) - 1)).cast("double")
            / (F.col("b") + F.col("c"))
        ).alias("chi2_cc"),
    )


_KAPPA_CHARS = 306  # corpus median n_chars
_KAPPA_TOKS = 56  # corpus median whitespace tokens


@query(
    "stats_cohens_kappa_raters",
    oracle=f"""
    WITH r AS (
      SELECT CASE WHEN n_chars >= {_KAPPA_CHARS} THEN 1 ELSE 0 END AS r1,
             CASE WHEN len(string_split(text, ' ')) >= {_KAPPA_TOKS}
                  THEN 1 ELSE 0 END AS r2
      FROM documents),
    cells AS (
      SELECT CAST(COUNT(CASE WHEN r1 = 1 AND r2 = 1 THEN 1 END) AS BIGINT) AS a,
             CAST(COUNT(CASE WHEN r1 = 1 AND r2 = 0 THEN 1 END) AS BIGINT) AS b,
             CAST(COUNT(CASE WHEN r1 = 0 AND r2 = 1 THEN 1 END) AS BIGINT) AS c,
             CAST(COUNT(CASE WHEN r1 = 0 AND r2 = 0 THEN 1 END) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM r)
    SELECT a, b, c, d, n,
           CAST(a + d AS DOUBLE) / n AS p_observed,
           CAST((a + b) * (a + c) + (c + d) * (b + d) AS DOUBLE) / (n * n)
             AS p_expected,
           CAST(n * (a + d) - ((a + b) * (a + c) + (c + d) * (b + d))
                AS DOUBLE)
           / (n * n - ((a + b) * (a + c) + (c + d) * (b + d))) AS kappa
    FROM cells
    """,
)
def stats_cohens_kappa_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document "raters"
    (char-length rule vs token-count rule): the chance-corrected
    agreement score every labeling/QA pipeline reports before
    trusting a rater pair.

    kappa = (n(a+d) - [(a+b)(a+c)+(c+d)(b+d)]) / (n^2 - [...]) — the
    whole statistic reduces to ONE division of exact int64 products,
    so it hash-matches bit-for-bit. One grouped pass, no shuffle
    beyond the 1-row aggregate.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    r = d.select(
        F.when(F.col("n_chars") >= _KAPPA_CHARS, 1).otherwise(0).alias("r1"),
        F.when(
            F.size(F.split(F.col("text"), " ")) >= _KAPPA_TOKS, 1
        )
        .otherwise(0)
        .alias("r2"),
    )
    cells = r.agg(
        F.count(F.when((F.col("r1") == 1) & (F.col("r2") == 1), 1))
        .cast("long")
        .alias("a"),
        F.count(F.when((F.col("r1") == 1) & (F.col("r2") == 0), 1))
        .cast("long")
        .alias("b"),
        F.count(F.when((F.col("r1") == 0) & (F.col("r2") == 1), 1))
        .cast("long")
        .alias("c"),
        F.count(F.when((F.col("r1") == 0) & (F.col("r2") == 0), 1))
        .cast("long")
        .alias("d"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    pe_num = (F.col("a") + F.col("b")) * (F.col("a") + F.col("c")) + (
        F.col("c") + F.col("d")
    ) * (F.col("b") + F.col("d"))
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        "n",
        ((F.col("a") + F.col("d")).cast("double") / F.col("n")).alias(
            "p_observed"
        ),
        (pe_num.cast("double") / (F.col("n") * F.col("n"))).alias("p_expected"),
        (
            (F.col("n") * (F.col("a") + F.col("d")) - pe_num).cast("double")
            / (F.col("n") * F.col("n") - pe_num)
        ).alias("kappa"),
    )


@query(
    "stats_friedman_priority_by_month",
    oracle="""
    WITH cell AS (
      SELECT CAST(month(o_orderdate) AS BIGINT) AS blk, o_orderpriority AS trt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)
               AS v
      FROM orders GROUP BY 1, 2),
    dv AS (
      SELECT blk, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM cell GROUP BY 1, 2),
    mr AS (
      SELECT blk, v,
             2 * (SUM(c) OVER (PARTITION BY blk ORDER BY v) - c) + c + 1
               AS mr2
      FROM dv),
    ranked AS (
      SELECT cell.trt, mr.mr2
      FROM cell JOIN mr ON cell.blk = mr.blk AND cell.v = mr.v),
    rj AS (
      SELECT trt, CAST(SUM(mr2) AS BIGINT) AS r2j,
             CAST(COUNT(*) AS BIGINT) AS n_blocks
      FROM ranked GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(r2j * r2j) AS BIGINT) AS sr2,
             CAST(MAX(n_blocks) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM rj)
    SELECT rj.trt AS o_orderpriority,
           CAST(rj.r2j AS DOUBLE) / 2 AS rank_sum,
           CAST(3 * (tot.sr2 - tot.n * tot.n * tot.k
                     * (tot.k + 1) * (tot.k + 1)) AS DOUBLE)
           / (tot.n * tot.k * (tot.k + 1)) AS friedman_q
    FROM rj CROSS JOIN tot
    """,
)
def stats_friedman_priority_by_month(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Friedman test: do order priorities rank consistently across
    calendar-month blocks (revenue per (month, priority) cell)? The
    within-block rank test for a randomized-block design — the
    repeated-measures ANOVA's nonparametric sibling, next to
    Kruskal-Wallis (independent groups).

    The (12 x 5) cell frame is value-space-bounded, so within-block
    doubled midranks come from a tiny partitioned window (blk
    partitions — never global). Q reduces to one exact-integer ratio:
    Q = 3(sum R2_j^2 - n^2 k (k+1)^2) / (n k (k+1)) in the doubled
    domain. Every row carries Q plus its own rank sum.
    """
    tune(spark)
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.month("o_orderdate").cast("long").alias("blk"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(F.sum((dec("o_totalprice", 14) * 100)).cast("long").alias("v"))
    dv = cell.groupBy("blk", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = (
        Window.partitionBy("blk")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mr = dv.select(
        "blk",
        "v",
        (2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") + 1).alias("mr2"),
    )
    ranked = cell.join(mr, ["blk", "v"]).select("trt", "mr2")
    rj = ranked.groupBy("trt").agg(
        F.sum("mr2").cast("long").alias("r2j"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    tot = rj.agg(
        F.sum(F.col("r2j") * F.col("r2j")).cast("long").alias("sr2"),
        F.max("n_blocks").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return rj.crossJoin(F.broadcast(tot)).select(
        F.col("trt").alias("o_orderpriority"),
        (F.col("r2j").cast("double") / 2).alias("rank_sum"),
        (
            (
                3
                * (
                    F.col("sr2")
                    - F.col("n")
                    * F.col("n")
                    * F.col("k")
                    * (F.col("k") + 1)
                    * (F.col("k") + 1)
                )
            ).cast("double")
            / (F.col("n") * F.col("k") * (F.col("k") + 1))
        ).alias("friedman_q"),
    )


_PH_LAMBDA_CENTS = 2_000_000  # alarm when drift exceeds $20k x D days


def page_hinkley_from_daily(spark: SparkSession, daily: DataFrame) -> DataFrame:
    """The Page-Hinkley trace over a ``(d long, x long)`` daily-cents
    frame — shared verbatim by the batch query below and the
    streaming maintainer (streaming/drift_monitor.py), so stream and
    batch agree bit-for-bit by construction."""
    tot = daily.agg(
        F.sum("x").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    base = daily.crossJoin(F.broadcast(tot)).select(
        "d", "x", (F.col("x") * F.col("nd") - F.col("s")).alias("dev"), "nd"
    )
    cum = bucketed_prefix_sums(base, "d", ["dev"]).withColumnRenamed(
        "cum_dev", "md"
    )
    mm = bucketed_prefix_min(cum, "d", "md", out_col="md_min")
    return mm.select(
        F.col("d").cast("long").alias("day_idx"),
        F.col("x").cast("long").alias("daily_cents"),
        F.col("md").cast("long").alias("ph_scaled"),
        (F.col("md") - F.col("md_min")).cast("long").alias("ph_rise"),
        (
            (F.col("md") - F.col("md_min"))
            > F.lit(_PH_LAMBDA_CENTS).cast("long") * F.col("nd")
        ).alias("alarm"),
    )



@query(
    "stats_page_hinkley_daily",
    oracle=f"""
    WITH daily AS (
      SELECT {_DAY} AS d, SUM({_CENTS}) AS x
      FROM events GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(x) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS nd
      FROM daily),
    m AS (
      SELECT d, x,
             SUM(CAST(x AS BIGINT) * nd - s)
               OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS md
      FROM daily CROSS JOIN tot),
    mm AS (
      SELECT d, x, md,
             MIN(md) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS md_min
      FROM m)
    SELECT mm.d AS day_idx, CAST(mm.x AS BIGINT) AS daily_cents,
           CAST(mm.md AS BIGINT) AS ph_scaled,
           CAST(mm.md - mm.md_min AS BIGINT) AS ph_rise,
           mm.md - mm.md_min > CAST({_PH_LAMBDA_CENTS} AS BIGINT) * tot.nd
             AS alarm
    FROM mm CROSS JOIN tot
    """,
)
def stats_page_hinkley_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift detector over daily event value: the
    sequential changepoint alarm (cumulative deviation from the global
    mean minus its running minimum) that streaming ingest monitors run
    — here as the exact batch replay.

    Exact-arithmetic trick: multiply through by D (the day count) so
    m_t = sum(D*x_i - S) stays int64 — no float mean ever enters. The
    cumulative sum is ``bucketed_prefix_sums`` and the running minimum
    is ``bucketed_prefix_min`` — both distributed scans, no global
    window (the plan gate enforces it), even though a day frame is
    small: the same query must hold on a years-deep event log.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    cents = F.round(dec("value", 10) * 100).cast("long")
    daily = e.groupBy(
        F.expr("datediff(to_date(ts), date'1970-01-01')").alias("d")
    ).agg(F.sum(cents).alias("x"))
    return page_hinkley_from_daily(spark, daily)


@query(
    "stats_durbin_watson_daily",
    oracle=f"""
    WITH daily AS (
      SELECT {_DAY} AS d, SUM({_CENTS}) AS y
      FROM events GROUP BY 1),
    idx AS (
      SELECT d, y,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
      FROM daily),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(t * t) AS BIGINT) AS stt,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(t * y) AS BIGINT) AS sty
      FROM idx),
    resid AS (
      SELECT t,
             y * (n * stt - st * st)
               - ((sy * stt - st * sty) + (n * sty - st * sy) * t) AS e
      FROM idx CROSS JOIN s),
    dw AS (
      SELECT CAST(SUM(CAST(b.e - a.e AS HUGEINT) * (b.e - a.e)) AS DOUBLE)
               AS num
      FROM resid a JOIN resid b ON b.t = a.t + 1),
    den AS (
      SELECT CAST(SUM(CAST(e AS HUGEINT) * e) AS DOUBLE) AS den
      FROM resid)
    SELECT (SELECT CAST(n AS BIGINT) FROM s) AS n_days,
           dw.num / den.den AS durbin_watson
    FROM dw CROSS JOIN den
    """,
)
def stats_durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation diagnostic on the residuals of
    the daily-revenue-vs-time OLS line: DW ~ 2 means the trend line
    left white noise, DW << 2 means sticky positive autocorrelation
    (the "my trend model is missing a regime" alarm).

    Exactness: residuals are scaled by the OLS denominator
    (e*den = y*den - alpha_num - beta_num*t), keeping EVERYTHING
    integral until the single final division — DW is scale-invariant
    so den cancels. Squares run in DECIMAL(38,0) (HUGEINT in DuckDB;
    both convert correctly-rounded to double once). The day index t
    comes from a row_number over the tiny distinct-day frame — but
    partitioned bucketed rank is used Spark-side to honor the
    no-global-window gate.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    cents = F.round(dec("value", 10) * 100).cast("long")
    daily = e.groupBy(
        F.expr("datediff(to_date(ts), date'1970-01-01')").alias("d")
    ).agg(F.sum(cents).alias("y"))
    ones = daily.withColumn("one", F.lit(1).cast("long"))
    idx = bucketed_prefix_sums(ones, "d", ["one"]).select(
        "d", "y", F.col("cum_one").alias("t")
    )
    s = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
    )
    resid = idx.crossJoin(F.broadcast(s)).select(
        "t",
        (
            F.col("y") * (F.col("n") * F.col("stt") - F.col("st") * F.col("st"))
            - (
                (F.col("sy") * F.col("stt") - F.col("st") * F.col("sty"))
                + (F.col("n") * F.col("sty") - F.col("st") * F.col("sy"))
                * F.col("t")
            )
        ).alias("e"),
        "n",
    )
    a = resid.select(F.col("t").alias("ta"), F.col("e").alias("ea"))
    b = resid.select(F.col("t").alias("tb"), F.col("e").alias("eb"))
    num = (
        a.join(b, F.col("tb") == F.col("ta") + 1)
        .agg(
            F.sum(
                (F.col("eb") - F.col("ea")).cast("decimal(38,0)")
                * (F.col("eb") - F.col("ea"))
            )
            .cast("double")
            .alias("num")
        )
    )
    den = resid.agg(
        F.sum(F.col("e").cast("decimal(38,0)") * F.col("e"))
        .cast("double")
        .alias("den"),
        F.max("n").alias("n_days"),
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("n_days").cast("long").alias("n_days"),
        (F.col("num") / F.col("den")).alias("durbin_watson"),
    )


_LB_MAX_LAG = 7


def _daily_autocovariances(
    spark: SparkSession, sf_dir: str, max_lag: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """n-scaled autocovariances of the daily event counts as (tot, ak,
    a0): the 1-row (n days, s events), sum((x_d*n - s)(x_{d+k}*n - s))
    per lag k in 1..max_lag, and the 1-row lag-0 sum, each summed
    exactly in DECIMAL(38,0) and turned into one double."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.expr("datediff(to_date(ts), date'1970-01-01')").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    da = daily.crossJoin(F.broadcast(tot)).select(
        "d", (F.col("x") * F.col("n") - F.col("s")).alias("ca")
    )
    db = da.select(F.col("d").alias("d2"), F.col("ca").alias("cb"))
    lags = spark.range(1, max_lag + 1).select(F.col("id").alias("k"))
    ak = (
        F.broadcast(lags)
        .join(da, F.lit(True))
        .join(db, F.col("d2") == F.col("d") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(F.col("ca").cast("decimal(38,0)") * F.col("cb"))
            .cast("double")
            .alias("ak")
        )
    )
    a0 = da.agg(
        F.sum(F.col("ca").cast("decimal(38,0)") * F.col("ca"))
        .cast("double")
        .alias("a0")
    )
    return tot, ak, a0


@query(
    "stats_ljung_box_daily_counts",
    oracle=f"""
    WITH daily AS (
      SELECT {_DAY} AS d, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
      FROM daily),
    a AS (
      SELECT l.k,
             CAST(SUM((a.x * n - s) * CAST(b.x * n - s AS HUGEINT))
                  AS DOUBLE) AS ak
      FROM (SELECT unnest(range(1, {_LB_MAX_LAG} + 1)) AS k) l
      CROSS JOIN tot
      JOIN daily a ON TRUE
      JOIN daily b ON b.d = a.d + l.k
      GROUP BY 1),
    a0 AS (
      SELECT CAST(SUM(CAST(x * n - s AS HUGEINT) * (x * n - s)) AS DOUBLE)
               AS a0
      FROM daily CROSS JOIN tot),
    terms AS (
      SELECT CAST(a.k AS BIGINT) AS lag,
             a.ak / a0.a0 AS r_k,
             CAST(FLOOR((a.ak / a0.a0) * (a.ak / a0.a0)
                        / (n - a.k) * 1000000000 ) AS BIGINT) AS term_fp
      FROM a CROSS JOIN a0 CROSS JOIN tot)
    SELECT t.lag, t.r_k,
           CAST(n AS DOUBLE) * (n + 2)
             * (SELECT SUM(u.term_fp) FROM terms u WHERE u.lag <= t.lag)
             / 1000000000.0 AS q_cumulative
    FROM terms t CROSS JOIN tot
    """,
)
def stats_ljung_box_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on daily event counts: are the first
    7 autocorrelations jointly zero (white noise), or does the arrival
    process remember itself? The standard residual-whiteness gate
    after any forecasting fit.

    Exactness: autocovariances are n-scaled integers (x*n - s), summed
    in DECIMAL(38,0)/HUGEINT; each r_k is one double division. The
    cross-lag accumulation sums DOUBLES in lag order — order-dependent
    — so each lag's Q contribution is floor-quantized to 1e-9
    fixed-point first and the cumulative Q is an exact integer sum
    (quantize-the-model doctrine, same as the textstats entropy
    family). Lags are a 7-row model frame joined against the day
    table; no global window.
    """
    tune(spark)
    tot, ak, a0 = _daily_autocovariances(spark, sf_dir, _LB_MAX_LAG)
    terms = (
        ak.crossJoin(F.broadcast(a0))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("long").alias("lag"),
            (F.col("ak") / F.col("a0")).alias("r_k"),
            F.floor(
                (F.col("ak") / F.col("a0"))
                * (F.col("ak") / F.col("a0"))
                / (F.col("n") - F.col("k"))
                * F.lit(1_000_000_000)
            )
            .cast("long")
            .alias("term_fp"),
            "n",
        )
    )
    t2 = terms.select(
        F.col("lag").alias("lag2"), F.col("term_fp").alias("term2")
    )
    return (
        terms.join(F.broadcast(t2), F.col("lag2") <= F.col("lag"))
        .groupBy("lag", "r_k", "n")
        .agg(F.sum("term2").cast("long").alias("qfp"))
        .select(
            "lag",
            "r_k",
            (
                F.col("n").cast("double")
                * (F.col("n") + 2)
                * F.col("qfp")
                / F.lit(1_000_000_000.0)
            ).alias("q_cumulative"),
        )
    )


_VR_Q = 5


@query(
    "stats_variance_ratio_daily",
    oracle=f"""
    WITH daily AS (
      SELECT {_DAY} AS d, SUM({_CENTS}) AS x
      FROM events GROUP BY 1),
    d1 AS (
      SELECT CAST(b.x - a.x AS BIGINT) AS v
      FROM daily a JOIN daily b ON b.d = a.d + 1),
    dq AS (
      SELECT CAST(b.x - a.x AS BIGINT) AS v
      FROM daily a JOIN daily b ON b.d = a.d + {_VR_Q}),
    s1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n1, CAST(SUM(v) AS BIGINT) AS sv1,
             CAST(SUM(CAST(v AS HUGEINT) * v) AS DOUBLE) AS sq1,
             CAST(CAST(SUM(v) AS HUGEINT) * SUM(v) AS DOUBLE) AS svsq1
      FROM d1),
    sq AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nq, CAST(SUM(v) AS BIGINT) AS svq,
             CAST(SUM(CAST(v AS HUGEINT) * v) AS DOUBLE) AS sqq,
             CAST(CAST(SUM(v) AS HUGEINT) * SUM(v) AS DOUBLE) AS svsqq
      FROM dq)
    SELECT n1 AS n_diffs_1, nq AS n_diffs_q,
           ((sqq - svsqq / nq) / nq)
             / ({_VR_Q} * ((sq1 - svsq1 / n1) / n1)) AS variance_ratio
    FROM s1 CROSS JOIN sq
    """,
)
def stats_variance_ratio_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio statistic on daily revenue: if the
    series is a random walk, the variance of {q}-day changes is q
    times the 1-day variance (VR ~ 1); VR < 1 flags mean reversion,
    VR > 1 momentum. The quick market-microstructure-style test for
    "is this KPI drifting or just diffusing".

    Both difference sets come from day-offset self-joins on the
    distinct-day frame (no window at all); power sums are exact
    DECIMAL(38,0)/HUGEINT, and VR is one shared IEEE expression over
    their correctly-rounded double images.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    cents = F.round(dec("value", 10) * 100).cast("long")
    daily = e.groupBy(
        F.expr("datediff(to_date(ts), date'1970-01-01')").alias("d")
    ).agg(F.sum(cents).alias("x"))
    b = daily.select(F.col("d").alias("d2"), F.col("x").alias("x2"))

    def diff_stats(lag: int, pre: str):
        dd = daily.join(b, F.col("d2") == F.col("d") + lag).select(
            (F.col("x2") - F.col("x")).alias("v")
        )
        return dd.agg(
            F.count(F.lit(1)).cast("long").alias(f"n{pre}"),
            F.sum("v").cast("long").alias(f"sv{pre}"),
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
            .cast("double")
            .alias(f"sq{pre}"),
            (
                F.sum("v").cast("decimal(38,0)")
                * F.sum("v").cast("decimal(38,0)")
            )
            .cast("double")
            .alias(f"svsq{pre}"),
        )

    s1 = diff_stats(1, "1")
    sq = diff_stats(_VR_Q, "q")
    return s1.crossJoin(F.broadcast(sq)).select(
        F.col("n1").alias("n_diffs_1"),
        F.col("nq").alias("n_diffs_q"),
        (
            ((F.col("sqq") - F.col("svsqq") / F.col("nq")) / F.col("nq"))
            / (
                F.lit(_VR_Q)
                * ((F.col("sq1") - F.col("svsq1") / F.col("n1")) / F.col("n1"))
            )
        ).alias("variance_ratio"),
    )


@query(
    "eval_auc_doc_length_en",
    oracle="""
    WITH rows_ AS (
      SELECT CAST(n_chars AS BIGINT) AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents),
    dv AS (
      SELECT score, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(pos) AS BIGINT) AS cp
      FROM rows_ GROUP BY 1),
    r AS (
      SELECT score, c, cp,
             2 * (SUM(c) OVER (ORDER BY score) - c) + c + 1 AS mr2
      FROM dv),
    s AS (
      SELECT CAST(SUM(cp) AS BIGINT) AS np,
             CAST(SUM(c - cp) AS BIGINT) AS nn,
             CAST(SUM(cp * mr2) AS BIGINT) AS rp2
      FROM r)
    SELECT np AS n_positive, nn AS n_negative,
           (CAST(rp2 AS DOUBLE) / 2 - CAST(np AS DOUBLE) * (np + 1) / 2)
           / (CAST(np AS DOUBLE) * nn) AS auc
    FROM s
    """,
)
def eval_auc_doc_length_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of document length as a predictor of lang == 'en', via
    the rank-sum identity AUC = (R+ - n+(n+1)/2) / (n+ n-): the
    standard threshold-free readout for a candidate quality/filter
    signal, with exact tie handling (ties count half, which the
    doubled-midrank domain keeps integral).

    Same distributed-scan shape as the Wilcoxon/MWU family: midranks
    over DISTINCT score values via ``bucketed_prefix_sums``, one
    int64 dot product, one final double expression.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    rows = d.select(
        F.col("n_chars").cast("long").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    dv = rows.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("pos").cast("long").alias("cp"),
    )
    r = bucketed_prefix_sums(dv, "score", ["c"]).select(
        "score",
        "c",
        "cp",
        (2 * (F.col("cum_c") - F.col("c")) + F.col("c") + 1).alias("mr2"),
    )
    s = r.agg(
        F.sum("cp").cast("long").alias("np"),
        F.sum(F.col("c") - F.col("cp")).cast("long").alias("nn"),
        F.sum(F.col("cp") * F.col("mr2")).cast("long").alias("rp2"),
    )
    np_, nn = F.col("np").cast("double"), F.col("nn")
    return s.select(
        F.col("np").alias("n_positive"),
        F.col("nn").alias("n_negative"),
        (
            (F.col("rp2").cast("double") / 2 - np_ * (F.col("np") + 1) / 2)
            / (np_ * nn)
        ).alias("auc"),
    )


_Z_ALPHA2 = 1.959963984540054  # two-sided 5%
_Z_BETA = 0.8416212335729143  # 80% power


def _urgent_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_custkey, grp, hit) per customer: ``grp`` = AUTOMOBILE segment,
    ``hit`` = placed at least one URGENT order (0 without orders)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(
            "c_custkey", (F.col("c_mktsegment") == "AUTOMOBILE").alias("grp")
        )
        .agg(
            F.coalesce(
                F.max(F.when(F.col("o_orderpriority") == "1-URGENT", 1)),
                F.lit(0),
            ).alias("hit")
        )
    )


@query(
    "stats_sample_size_two_prop",
    oracle=f"""
    WITH flags AS (
      SELECT c.c_mktsegment = 'AUTOMOBILE' AS grp,
             COALESCE(MAX(CASE WHEN o.o_orderpriority = '1-URGENT'
                               THEN 1 END), 0) AS hit
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, 1),
    s AS (
      SELECT CAST(COUNT(CASE WHEN grp THEN 1 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN grp THEN hit ELSE 0 END) AS BIGINT) AS k1,
             CAST(COUNT(CASE WHEN NOT grp THEN 1 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN NOT grp THEN hit ELSE 0 END) AS BIGINT)
               AS k2
      FROM flags),
    p AS (
      SELECT n1, k1, n2, k2,
             CAST(k1 AS DOUBLE) / n1 AS p1,
             CAST(k2 AS DOUBLE) / n2 AS p2,
             CAST(k1 + k2 AS DOUBLE) / (n1 + n2) AS pbar
      FROM s)
    SELECT n1, k1, n2, k2, p1, p2,
           CEIL(
             ({_Z_ALPHA2} * sqrt(2 * pbar * (1 - pbar))
              + {_Z_BETA} * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
             * ({_Z_ALPHA2} * sqrt(2 * pbar * (1 - pbar))
                + {_Z_BETA} * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
             / ((p1 - p2) * (p1 - p2))) AS n_per_arm
    FROM p
    """,
)
def stats_sample_size_two_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test sample-size calculator seeded from observed data: the
    required n per arm to detect the OBSERVED urgent-order-rate gap
    between AUTOMOBILE and other customers at alpha=5% (two-sided),
    power=80% — the pre-registration power analysis every experiment
    design needs, computed in-warehouse from the live baseline.

    p1/p2/pbar are exact count ratios; the z quantiles are fixed
    literals; the whole formula is one shared IEEE expression (the
    squared numerator is written as an explicit product — no pow()),
    and ceil() of identical doubles is identical.  Spark's ceil()
    returns LONG while DuckDB's CEIL returns DOUBLE, so n_per_arm is
    cast back to double to keep the output type (and hence the
    driver's canonical hash) aligned with the oracle; the value itself
    is an exact small integer either way.
    """
    tune(spark)
    flags = _urgent_flags(spark, sf_dir)
    s = flags.agg(
        F.count(F.when(F.col("grp"), 1)).cast("long").alias("n1"),
        F.sum(F.when(F.col("grp"), F.col("hit")).otherwise(0))
        .cast("long")
        .alias("k1"),
        F.count(F.when(~F.col("grp"), 1)).cast("long").alias("n2"),
        F.sum(F.when(~F.col("grp"), F.col("hit")).otherwise(0))
        .cast("long")
        .alias("k2"),
    )
    p1 = F.col("k1").cast("double") / F.col("n1")
    p2 = F.col("k2").cast("double") / F.col("n2")
    pbar = (F.col("k1") + F.col("k2")).cast("double") / (
        F.col("n1") + F.col("n2")
    )
    num = F.lit(_Z_ALPHA2) * F.sqrt(2 * pbar * (1 - pbar)) + F.lit(
        _Z_BETA
    ) * F.sqrt(p1 * (1 - p1) + p2 * (1 - p2))
    return s.select(
        "n1",
        "k1",
        "n2",
        "k2",
        p1.alias("p1"),
        p2.alias("p2"),
        F.ceil(num * num / ((p1 - p2) * (p1 - p2)))
        .cast("double")
        .alias("n_per_arm"),
    )


# SPRT fixed-point log-likelihood weights for H0: p=0.15 vs H1: p=0.25
# (precomputed once in Python and embedded as identical literals in
# both engines — round(ln(p1/p0)*1e9) etc.)
_SPRT_WK = 510825624  # ln(0.25/0.15) * 1e9
_SPRT_WN = -125163143  # ln(0.75/0.85) * 1e9
_SPRT_A = 2944438979  # ln(0.95/0.05) * 1e9  (accept H1 above)
_SPRT_B = -2944438979  # ln(0.05/0.95) * 1e9  (accept H0 below)


@query(
    "stats_sprt_conversion_trace",
    oracle=f"""
    WITH daily AS (
      SELECT {_DAY} AS d,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                  AS BIGINT) AS k
      FROM events GROUP BY 1),
    llr AS (
      SELECT d, n, k,
             k * CAST({_SPRT_WK} AS BIGINT)
               + (n - k) * CAST({_SPRT_WN} AS BIGINT) AS day_llr_fp
      FROM daily),
    cum AS (
      SELECT d, n, k, day_llr_fp,
             SUM(day_llr_fp) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
               AS cum_fp
      FROM llr)
    SELECT d AS day_idx, n AS n_events, k AS n_conversions,
           CAST(cum_fp AS DOUBLE) / 1000000000 AS cum_llr,
           CASE WHEN cum_fp > {_SPRT_A} THEN 'accept_h1'
                WHEN cum_fp < {_SPRT_B} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM cum
    """,
)
def stats_sprt_conversion_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT trace on the daily purchase-conversion rate (H0:
    p=0.15 vs H1: p=0.25, alpha=beta=5%): the cumulative binomial
    log-likelihood ratio with the accept/continue decision per day —
    the always-valid sequential test a metrics platform runs instead
    of a fixed-horizon z-test.

    The LLR weights are precomputed fixed-point constants embedded
    identically in both engines, so every increment k*wk + (n-k)*wn
    is exact int64 and the cumulative trace (bucketed prefix sums —
    no global window) hash-matches bit-for-bit; only the display
    column divides once.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.expr("datediff(to_date(ts), date'1970-01-01')").alias("d")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("k"),
    )
    llr = daily.select(
        "d",
        "n",
        "k",
        (
            F.col("k") * F.lit(_SPRT_WK) + (F.col("n") - F.col("k")) * F.lit(_SPRT_WN)
        ).alias("day_llr_fp"),
    )
    cum = bucketed_prefix_sums(llr, "d", ["day_llr_fp"])
    return cum.select(
        F.col("d").cast("long").alias("day_idx"),
        F.col("n").alias("n_events"),
        F.col("k").alias("n_conversions"),
        (F.col("cum_day_llr_fp").cast("double") / F.lit(1_000_000_000)).alias(
            "cum_llr"
        ),
        F.when(F.col("cum_day_llr_fp") > _SPRT_A, "accept_h1")
        .when(F.col("cum_day_llr_fp") < _SPRT_B, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


@query(
    "stats_iqr_fences_by_priority",
    oracle="""
    WITH rows_ AS (
      SELECT o_orderpriority AS pri,
             CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS cents
      FROM orders),
    dv AS (
      SELECT pri, cents, CAST(COUNT(*) AS BIGINT) AS c
      FROM rows_ GROUP BY 1, 2),
    cum AS (
      SELECT pri, cents, c,
             SUM(c) OVER (PARTITION BY pri ORDER BY cents) AS cl
      FROM dv),
    tot AS (SELECT pri, CAST(SUM(c) AS BIGINT) AS n FROM dv GROUP BY 1),
    q AS (
      SELECT cum.pri,
             MIN(CASE WHEN cl >= CAST(CEIL(0.25 * n) AS BIGINT)
                      THEN cents END) AS q1,
             MIN(CASE WHEN cl >= CAST(CEIL(0.75 * n) AS BIGINT)
                      THEN cents END) AS q3
      FROM cum JOIN tot ON tot.pri = cum.pri
      GROUP BY 1)
    SELECT q.pri AS o_orderpriority,
           tot.n AS n_orders, q.q1, q.q3, q.q3 - q.q1 AS iqr,
           CAST((SELECT COALESCE(SUM(c), 0) FROM cum
                 WHERE cum.pri = q.pri
                   AND 2 * cents < 2 * q.q1 - 3 * (q.q3 - q.q1))
                AS BIGINT) AS n_low_outliers,
           CAST((SELECT COALESCE(SUM(c), 0) FROM cum
                 WHERE cum.pri = q.pri
                   AND 2 * cents > 2 * q.q3 + 3 * (q.q3 - q.q1))
                AS BIGINT) AS n_high_outliers
    FROM q JOIN tot ON tot.pri = q.pri
    """,
)
def stats_iqr_fences_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tukey IQR outlier fences per order priority with EXACT type-1
    quartiles (the smallest value whose cumulative count reaches
    ceil(q*n) — real data values, no interpolation) and exact fence
    tests doubled through integers (2x < 2q1 - 3*IQR), so not a
    single float enters the outlier decision — the boxplot-rule
    screen that feeds anomaly review queues.

    Quartiles come from per-group cumulative counts over DISTINCT
    cent values (group-partitioned windows, bounded by the group's
    value space); fence counts are two conditional re-aggregations of
    the same distinct-value frame.
    """
    tune(spark)
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    rows = o.select(
        F.col("o_orderpriority").alias("pri"),
        (dec("o_totalprice", 14) * 100).cast("long").alias("cents"),
    )
    dv = rows.groupBy("pri", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = (
        Window.partitionBy("pri")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dv.withColumn("cl", F.sum("c").over(w))
    tot = dv.groupBy("pri").agg(F.sum("c").cast("long").alias("n"))
    j = cum.join(tot, "pri")
    q = j.groupBy("pri").agg(
        F.min(
            F.when(
                F.col("cl") >= F.ceil(0.25 * F.col("n")).cast("long"),
                F.col("cents"),
            )
        ).alias("q1"),
        F.min(
            F.when(
                F.col("cl") >= F.ceil(0.75 * F.col("n")).cast("long"),
                F.col("cents"),
            )
        ).alias("q3"),
    )
    fen = cum.join(q, "pri")
    low = fen.filter(
        2 * F.col("cents") < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1"))
    ).groupBy("pri").agg(F.sum("c").cast("long").alias("n_low"))
    high = fen.filter(
        2 * F.col("cents") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1"))
    ).groupBy("pri").agg(F.sum("c").cast("long").alias("n_high"))
    return (
        q.join(tot, "pri")
        .join(low, "pri", "left")
        .join(high, "pri", "left")
        .select(
            F.col("pri").alias("o_orderpriority"),
            F.col("n").alias("n_orders"),
            "q1",
            "q3",
            (F.col("q3") - F.col("q1")).alias("iqr"),
            F.coalesce("n_low", F.lit(0)).cast("long").alias("n_low_outliers"),
            F.coalesce("n_high", F.lit(0))
            .cast("long")
            .alias("n_high_outliers"),
        )
    )


@query(
    "stats_cochran_armitage_trend",
    oracle=f"""
    WITH daily AS (
      SELECT {_DAY} AS d,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                  AS BIGINT) AS k
      FROM events GROUP BY 1),
    idx AS (
      SELECT d, n, k,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
      FROM daily),
    s AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(k) AS BIGINT) AS kk,
             CAST(SUM(k * t) AS BIGINT) AS skt,
             CAST(SUM(n * t) AS BIGINT) AS snt,
             SUM(CAST(n AS HUGEINT) * t * t) AS sntt
      FROM idx)
    SELECT nn AS n_events, kk AS n_conversions,
           CAST(nn * skt - CAST(kk AS HUGEINT) * snt AS DOUBLE)
           * CAST(nn * skt - CAST(kk AS HUGEINT) * snt AS DOUBLE)
           * nn
           / (CAST(kk AS DOUBLE) * (nn - kk)
              * CAST(nn * sntt - CAST(snt AS HUGEINT) * snt AS DOUBLE))
             AS ca_chi2
    FROM s
    """,
)
def stats_cochran_armitage_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Armitage trend test: is the daily purchase-conversion
    RATE trending monotonically over the day index? The ordered-dose
    chi-square (1 dof) that catches a drift an unordered homogeneity
    test dilutes away — the metrics-platform sibling of the SPRT
    trace.

    chi2 = N (N*Skt - K*Snt)^2 / (K (N-K) (N*Sntt - Snt^2)) — every
    sum exact int64/DECIMAL(38,0)/HUGEINT; the day index comes from
    the bucketed prefix count, and the statistic is one shared IEEE
    expression.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.expr("datediff(to_date(ts), date'1970-01-01')").alias("d")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("k"),
    )
    ones = daily.withColumn("one", F.lit(1).cast("long"))
    idx = bucketed_prefix_sums(ones, "d", ["one"]).select(
        "d", "n", "k", F.col("cum_one").alias("t")
    )
    s = idx.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("k").cast("long").alias("kk"),
        F.sum(F.col("k") * F.col("t")).cast("long").alias("skt"),
        F.sum(F.col("n") * F.col("t")).cast("long").alias("snt"),
        F.sum(
            F.col("n").cast("decimal(38,0)") * F.col("t") * F.col("t")
        ).alias("sntt"),
    )
    num = (
        F.col("nn") * F.col("skt")
        - F.col("kk").cast("decimal(38,0)") * F.col("snt")
    ).cast("double")
    return s.select(
        F.col("nn").alias("n_events"),
        F.col("kk").alias("n_conversions"),
        (
            num
            * num
            * F.col("nn")
            / (
                F.col("kk").cast("double")
                * (F.col("nn") - F.col("kk"))
                * (
                    F.col("nn") * F.col("sntt")
                    - F.col("snt").cast("decimal(38,0)") * F.col("snt")
                ).cast("double")
            )
        ).alias("ca_chi2"),
    )


@query(
    "stats_fisher_exact_logp",
    oracle="""
    WITH flags AS (
      SELECT c.c_mktsegment = 'AUTOMOBILE' AS grp,
             COALESCE(MAX(CASE WHEN o.o_orderpriority = '1-URGENT'
                               THEN 1 END), 0) AS hit
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, 1),
    cells AS (
      SELECT CAST(SUM(CASE WHEN grp AND hit = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN grp AND hit = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(SUM(CASE WHEN NOT grp AND hit = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(SUM(CASE WHEN NOT grp AND hit = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM flags),
    lf AS (
      SELECT cells.a, cells.b, cells.c, cells.d,
             cells.a + cells.b + cells.c + cells.d AS n,
             SUM(CASE WHEN i <= cells.a THEN il ELSE 0 END) AS la,
             SUM(CASE WHEN i <= cells.b THEN il ELSE 0 END) AS lb,
             SUM(CASE WHEN i <= cells.c THEN il ELSE 0 END) AS lc,
             SUM(CASE WHEN i <= cells.d THEN il ELSE 0 END) AS ld,
             SUM(CASE WHEN i <= cells.a + cells.b THEN il ELSE 0 END) AS lab,
             SUM(CASE WHEN i <= cells.c + cells.d THEN il ELSE 0 END) AS lcd,
             SUM(CASE WHEN i <= cells.a + cells.c THEN il ELSE 0 END) AS lac,
             SUM(CASE WHEN i <= cells.b + cells.d THEN il ELSE 0 END) AS lbd,
             SUM(il) AS ln_
      FROM cells, (
        SELECT CAST(t.i AS BIGINT) AS i,
               CAST(FLOOR(log2(CAST(t.i AS DOUBLE)) * 1000000) AS BIGINT)
                 AS il
        FROM cells, UNNEST(range(2, a + b + c + d + 1)) AS t(i)) r
      GROUP BY 1, 2, 3, 4, 5)
    SELECT a, b, c, d,
           CAST(lab + lcd + lac + lbd - ln_ - la - lb - lc - ld AS BIGINT)
             AS logp_fp,
           CAST(lab + lcd + lac + lbd - ln_ - la - lb - lc - ld AS DOUBLE)
             / 1000000 * 0.6931471805599453 AS log_p
    FROM lf
    """,
)
def stats_fisher_exact_logp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact hypergeometric log-probability of the observed
    2x2 table (AUTOMOBILE segment x had-an-URGENT-order): ln P =
    sum(lfact(margins)) - lfact(n) - sum(lfact(cells)) — the exact
    small-sample companion to the chi-square/odds-ratio views, with
    every log-factorial an EXACT integer sum of quantized log2 terms
    (lfact(x) = sum_{{i<=x}} floor(log2(i)*1e6)), so the fixed-point
    column hash-matches bit-for-bit and only the display column
    multiplies through ln 2.

    The nine lfacts come from ONE conditional aggregate over a single
    integer range scan (linear, fully parallel; a production variant
    would switch to Stirling above a size threshold — kept exact here
    because the oracle contract demands it). Cell counts arrive as
    four 1-row driver scalars (the repo's O(1)-scalar budget).
    """
    tune(spark)
    flags = _urgent_flags(spark, sf_dir)
    cells = flags.agg(
        F.sum(F.when(F.col("grp") & (F.col("hit") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("grp") & (F.col("hit") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(~F.col("grp") & (F.col("hit") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(~F.col("grp") & (F.col("hit") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    ).collect()[0]
    a, b, cc, dd = cells["a"], cells["b"], cells["c"], cells["d"]
    n = a + b + cc + dd
    r = (
        spark.range(2, n + 1)
        .select(
            F.col("id").alias("i"),
            F.floor(F.log2(F.col("id").cast("double")) * F.lit(1e6))
            .cast("long")
            .alias("il"),
        )
    )

    def lf(x: int):
        return F.sum(F.when(F.col("i") <= x, F.col("il")).otherwise(0))

    s = r.agg(
        lf(a).alias("la"),
        lf(b).alias("lb"),
        lf(cc).alias("lc"),
        lf(dd).alias("ld"),
        lf(a + b).alias("lab"),
        lf(cc + dd).alias("lcd"),
        lf(a + cc).alias("lac"),
        lf(b + dd).alias("lbd"),
        F.sum("il").alias("ln_"),
    )
    fp = (
        F.col("lab")
        + F.col("lcd")
        + F.col("lac")
        + F.col("lbd")
        - F.col("ln_")
        - F.col("la")
        - F.col("lb")
        - F.col("lc")
        - F.col("ld")
    )
    return s.select(
        F.lit(a).cast("long").alias("a"),
        F.lit(b).cast("long").alias("b"),
        F.lit(cc).cast("long").alias("c"),
        F.lit(dd).cast("long").alias("d"),
        fp.cast("long").alias("logp_fp"),
        (
            fp.cast("double") / F.lit(1_000_000) * F.lit(0.6931471805599453)
        ).alias("log_p"),
    )


@query(
    "stats_hodges_lehmann_shift",
    oracle="""
    WITH px AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    cy AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE event_type = 'click' GROUP BY 1),
    diffs AS (SELECT px.x - cy.y AS diff FROM px CROSS JOIN cy)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM px) AS n_days_x,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cy) AS n_days_y,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           MEDIAN(diff) AS hl_shift
    FROM diffs
    """,
)
def stats_hodges_lehmann_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann shift estimator between daily purchase and click
    volumes: the median of ALL cross-pair differences — the robust
    location-shift companion to Mann-Whitney (breaks down only past
    29% contamination, unlike the difference of means).

    Exactness: diffs are int64; both engines midpoint-interpolate the
    even-count median ((a+b)/2 of two ints — exact in binary64).
    Scale: the pair explosion is over DAILY AGGREGATES (bounded by the
    calendar, ~n_days^2 rows — model-level), never over raw events;
    the broadcast cross join is the same shape as the corr-matrix
    family."""
    tune(spark)
    e = table(spark, sf_dir, "events")
    daily = lambda t, col: (
        e.filter(F.col("event_type") == t)
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias(col))
    )
    px, cy = daily("purchase", "x"), daily("click", "y")
    diffs = px.crossJoin(F.broadcast(cy)).select((F.col("x") - F.col("y")).alias("diff"))
    nx = px.agg(F.count(F.lit(1)).cast("long").alias("n_days_x"))
    ny = cy.agg(F.count(F.lit(1)).cast("long").alias("n_days_y"))
    return (
        diffs.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.median("diff").alias("hl_shift"),
        )
        .crossJoin(F.broadcast(nx))
        .crossJoin(F.broadcast(ny))
        .select("n_days_x", "n_days_y", "n_pairs", "hl_shift")
    )


@query(
    "stats_logrank_test",
    oracle="""
    WITH fe AS (
      SELECT user_id,
             CASE WHEN FIRST(event_type ORDER BY ts, event_id) = 'signup'
                  THEN 1 ELSE 0 END AS g1,
             date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE))
               AS t
      FROM events GROUP BY user_id),
    by_t AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS d,
                    CAST(SUM(g1) AS BIGINT) AS d1
             FROM fe GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
                   CAST(SUM(g1) AS BIGINT) AS n1_total
            FROM fe),
    cum AS (SELECT t, d, d1,
                   SUM(d) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd,
                   SUM(d1) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd1
            FROM by_t),
    terms AS (SELECT d, d1,
                     (SELECT n_total FROM tot) - (cd - d) AS n,
                     (SELECT n1_total FROM tot) - (cd1 - d1) AS n1
              FROM cum),
    fp AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1,
                  CAST(SUM((d * n1 * 1000000) // n) AS BIGINT) AS e1_fp,
                  CAST(SUM(CASE WHEN n > 1 THEN
                         ((d * (n - d) * 1000) // (n - 1))
                         * ((n1 * (n - n1) * 1000) // (n * n))
                       ELSE 0 END) AS BIGINT) AS v_fp
           FROM terms)
    SELECT (SELECT n_total FROM tot) AS n_users,
           (SELECT n1_total FROM tot) AS n_group1,
           o1 AS observed_g1, e1_fp AS expected_g1_fp, v_fp AS variance_fp,
           CAST(o1 * 1000000 - e1_fp AS DOUBLE)
             * CAST(o1 * 1000000 - e1_fp AS DOUBLE)
             / (CAST(v_fp AS DOUBLE) * 1000000) AS logrank_chi2
    FROM fp
    """,
)
def stats_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test on user lifetimes (signup-first users vs
    the rest; lifetime = days from first to last event, every lifetime
    observed): O1 = sum d1_t, E1 = sum d_t*n1_t/n_t over event times,
    V = sum hypergeometric variances, chi2 = (O1-E1)^2/V — THE
    survival-curve comparison (Kaplan-Meier's companion test).

    Exactness (extends the oracle doctrine to per-time rationals):
    every rational term is floored by POSITIVE INTEGER DIVISION —
    Spark ``div`` == DuckDB ``//`` exactly, no floating log/floor
    boundary at all — at 1e6 (E1 terms) and 1e3 x 1e3 (the variance's
    two factors, floored separately so int64 never overflows:
    d*(n-d)*1e3/(n-1) times n1*(n-n1)*1e3/n^2). Quantization: each E1
    term errs < 1e-6, each V term < ~d*1e-3 relative-ish — pinned
    against exact Fractions in tests/test_rows_only_invariants.py.
    The chi2 is one shared IEEE expression over the exact integers.

    Scale: per-user fold (shuffle on user_id), then everything is
    model-level — per-day event counts through the bucketed prefix
    scan (no global window), a broadcast totals row, one final
    reduce."""
    tune(spark)
    e = table(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.when(
            F.min(F.struct("ts", "event_id", "event_type")).getField("event_type")
            == "signup",
            1,
        )
        .otherwise(0)
        .alias("g1"),
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias("t"),
    )
    by_t = per.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum("g1").cast("long").alias("d1"),
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("g1").cast("long").alias("n1_total"),
    )
    cum = bucketed_prefix_sums(by_t, "t", ["d", "d1"])
    terms = cum.crossJoin(F.broadcast(tot)).select(
        "d",
        "d1",
        (F.col("n_total") - (F.col("cum_d") - F.col("d"))).alias("n"),
        (F.col("n1_total") - (F.col("cum_d1") - F.col("d1"))).alias("n1"),
    )
    fp = terms.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum(F.expr("(d * n1 * 1000000) div n")).cast("long").alias("e1_fp"),
        F.sum(
            F.when(
                F.col("n") > 1,
                F.expr("(d * (n - d) * 1000) div (n - 1)")
                * F.expr("(n1 * (n - n1) * 1000) div (n * n)"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("v_fp"),
    )
    diff = (F.col("o1") * 1000000 - F.col("e1_fp")).cast("double")
    return fp.crossJoin(F.broadcast(tot)).select(
        F.col("n_total").alias("n_users"),
        F.col("n1_total").alias("n_group1"),
        F.col("o1").alias("observed_g1"),
        F.col("e1_fp").alias("expected_g1_fp"),
        F.col("v_fp").alias("variance_fp"),
        (diff * diff / (F.col("v_fp").cast("double") * F.lit(1000000.0))).alias(
            "logrank_chi2"
        ),
    )


_LN2 = 0.6931471805599453  # the one double constant in the G statistic


@query(
    "stats_g_test_nation_segment",
    oracle=f"""
    WITH cells AS (
      SELECT c_nationkey AS nk, c_mktsegment AS seg, COUNT(*) AS c
      FROM customer GROUP BY 1, 2),
    rl AS (SELECT nk, CAST(SUM(c) AS BIGINT) AS cr FROM cells GROUP BY nk),
    cl AS (SELECT seg, CAST(SUM(c) AS BIGINT) AS cc FROM cells GROUP BY seg),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT nk) AS BIGINT) AS nr,
                   CAST(COUNT(DISTINCT seg) AS BIGINT) AS nc
            FROM cells),
    terms AS (
      SELECT c,
             CAST(FLOOR(log2(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                             / (CAST(cr AS DOUBLE) * CAST(cc AS DOUBLE)))
                        * 1000000) AS BIGINT) AS lp6,
             n, nr, nc
      FROM cells JOIN rl USING (nk) JOIN cl USING (seg) CROSS JOIN tot)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           MIN(n) AS n_customers,
           (MIN(nr) - 1) * (MIN(nc) - 1) AS dof,
           2 * {_LN2} * CAST(SUM(c * lp6) AS DOUBLE) / 1000000 AS g_stat
    FROM terms
    """,
)
def stats_g_test_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood-ratio chi-square) of independence for
    customer nation x market segment — the additive alternative to
    Pearson's ``stats_chi2_nation_segment`` (G decomposes exactly
    across nested partitions, which is why corpus studies prefer it).
    ``G = 2 * sum c * ln(c*N / (rowsum*colsum))``.

    Same fixed-point construction as
    ``stats_mutual_information_lang_source`` (G = 2*ln2*N*MI): each
    cell's log2 ratio is floor-quantized at 1e6 into an int64 the
    exact integer reduction sums — one groupBy for the cells, two
    tiny broadcast marginals, one final double scaling.
    """
    tune(spark)
    c = table(spark, sf_dir, "customer")
    cells = c.groupBy(
        F.col("c_nationkey").alias("nk"), F.col("c_mktsegment").alias("seg")
    ).agg(F.count(F.lit(1)).alias("c"))
    rl = cells.groupBy("nk").agg(F.sum("c").cast("long").alias("cr"))
    cl = cells.groupBy("seg").agg(F.sum("c").cast("long").alias("cc"))
    tot = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.count_distinct("nk").cast("long").alias("nr"),
        F.count_distinct("seg").cast("long").alias("nc"),
    )
    terms = (
        cells.join(F.broadcast(rl), "nk")
        .join(F.broadcast(cl), "seg")
        .crossJoin(F.broadcast(tot))
        .select(
            "c",
            F.floor(
                F.log2(
                    F.col("c").cast("double")
                    * F.col("n").cast("double")
                    / (F.col("cr").cast("double") * F.col("cc").cast("double"))
                )
                * 1e6
            )
            .cast("long")
            .alias("lp6"),
            "n",
            "nr",
            "nc",
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.min("n").alias("n_customers"),
        ((F.min("nr") - 1) * (F.min("nc") - 1)).alias("dof"),
        (
            2 * F.lit(_LN2) * F.sum(F.col("c") * F.col("lp6")).cast("double") / 1e6
        ).alias("g_stat"),
    )


# ---------------------------------------------------------------------------
# Cramér–von Mises two-sample test (ECDF formulation, tie-aware, exact)
# ---------------------------------------------------------------------------

_CVM_A = "1-URGENT"
_CVM_B = "5-LOW"
_CVM_CRIT = 0.461  # 5% asymptotic critical value of T


@query(
    "stats_cramer_von_mises",
    oracle=f"""
    WITH rows_ AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_orderpriority = '{_CVM_A}' THEN 1 ELSE 0 END AS ia
      FROM orders
      WHERE o_orderpriority IN ('{_CVM_A}', '{_CVM_B}')),
    dv AS (
      SELECT cents,
             CAST(SUM(ia) AS BIGINT) AS a,
             CAST(COUNT(*) - SUM(ia) AS BIGINT) AS b
      FROM rows_ GROUP BY cents),
    cum AS (
      SELECT a, b,
             SUM(a) OVER (ORDER BY cents) AS ca,
             SUM(b) OVER (ORDER BY cents) AS cb
      FROM dv),
    tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
                   CAST(SUM(b) AS BIGINT) AS nb FROM dv),
    s AS (
      SELECT CAST(SUM((a + b) * CAST(ca * nb - cb * na AS HUGEINT)
                              * (ca * nb - cb * na)) AS DOUBLE) AS num
      FROM cum, tot)
    SELECT na AS n_a, nb AS n_b,
           num / (CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)
                  * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS t_stat,
           num / (CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)
                  * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) > {_CVM_CRIT}
             AS shifted
    FROM s, tot
    """,
)
def stats_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises test between URGENT and LOW order
    values: T = nm/N^2 * sum over the combined sample of
    (F_n(z) - G_m(z))^2 — the whole-distribution companion to
    ``stats_ks_two_sample`` (KS reads the single worst ECDF gap; CvM
    integrates EVERY gap, so it sees broad mild differences KS
    misses).

    Tie-aware ECDF formulation on distinct values: per value v with
    group counts (a_v, b_v) and running totals (A_v, B_v), the exact
    integer numerator is sum((a_v+b_v) * (A_v*m - B_v*n)^2) — squared
    in DECIMAL(38,0)/HUGEINT — and T is one shared IEEE division. The
    running totals ride ``bucketed_prefix_sums`` (never a global
    window); everything else is map-side-combinable.
    """
    tune(spark)
    o = table(spark, sf_dir, "orders")
    rows = o.filter(F.col("o_orderpriority").isin(_CVM_A, _CVM_B)).select(
        (dec("o_totalprice", 14) * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority") == _CVM_A, 1).otherwise(0).alias("ia"),
    )
    dv = rows.groupBy("cents").agg(
        F.sum("ia").cast("long").alias("a"),
        (F.count(F.lit(1)) - F.sum("ia")).cast("long").alias("b"),
    )
    cum = bucketed_prefix_sums(dv, "cents", ["a", "b"])
    tot = dv.agg(
        F.sum("a").cast("long").alias("na"),
        F.sum("b").cast("long").alias("nb"),
    )
    d = F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")
    s = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.sum((F.col("a") + F.col("b")) * d.cast("decimal(19,0)") * d)
            .cast("double")
            .alias("num"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    nn = (F.col("na") + F.col("nb")).cast("double")
    t = F.col("num") / (
        nn * nn * F.col("na").cast("double") * F.col("nb").cast("double")
    )
    return s.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        t.alias("t_stat"),
        (t > F.lit(_CVM_CRIT)).alias("shifted"),
    )


# ---------------------------------------------------------------------------
# 1-D Wasserstein (earth-mover) distance: nation vs global balance mix
# ---------------------------------------------------------------------------

_W1_BUCKET = 10000  # $100 buckets of customer account balance (cents)


@query(
    "stats_wasserstein_acctbal_nation",
    oracle=f"""
    WITH c AS (
      SELECT n_name AS nation,
             CAST(FLOOR(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                             AS BIGINT) / {_W1_BUCKET}.0) AS BIGINT) AS bk
      FROM customer JOIN nation ON n_nationkey = c_nationkey),
    nb AS (SELECT nation, bk, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM c GROUP BY 1, 2),
    gb AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS cnt FROM c GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM c),
    nt_ AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS nn FROM c GROUP BY 1),
    grid AS (SELECT nation, g.bk FROM (SELECT DISTINCT bk FROM gb) g
             CROSS JOIN (SELECT DISTINCT nation FROM nb)),
    cumn AS (
      SELECT grid.nation, grid.bk,
             CAST(COALESCE(SUM(nb.cnt), 0) AS BIGINT) AS ca
      FROM grid LEFT JOIN nb
        ON nb.nation = grid.nation AND nb.bk <= grid.bk
      GROUP BY 1, 2),
    cumg AS (
      SELECT g1.bk, CAST(SUM(g2.cnt) AS BIGINT) AS cg
      FROM gb g1 JOIN gb g2 ON g2.bk <= g1.bk GROUP BY 1)
    SELECT cumn.nation, nn AS n_customers,
           CAST(100 AS DOUBLE)
             * CAST(SUM(ABS(ca * nt - CAST(cg AS HUGEINT) * nn))
                    AS DOUBLE)
             / (CAST(nn AS DOUBLE) * CAST(nt AS DOUBLE)) AS w1_dollars
    FROM cumn
    JOIN cumg ON cumg.bk = cumn.bk
    JOIN nt_ ON nt_.nation = cumn.nation
    CROSS JOIN tot
    GROUP BY cumn.nation, nn, nt
    """,
)
def stats_wasserstein_acctbal_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """1-D Wasserstein-1 (earth-mover) distance between each nation's
    customer account-balance distribution and the global mix, at $100
    granularity — "which nation's balance profile deviates most, and
    by how many dollars of probability mass moved".

    W1 in 1-D is the integral of |F_nation - F_global|; on the
    bounded bucket grid that is the exact integer sum
    ``|CumN_b * N_tot - CumT_b * n_N|`` over buckets, scaled once by
    ``width / (n_N * N_tot)``. The grid is VALUE-DOMAIN-bounded
    (~110 balance buckets x 25 nations at any corpus size), so every
    cumulative is a tiny range self-join on a model-level frame —
    never a global window, never a per-row sort. Companion to
    ``dq_t_closeness`` (same EMD math, there over sensitive-attribute
    buckets) and ``stats_psi_price_drift`` (PSI reads bin RATIO
    drift; W1 reads MASS TRANSPORT, in interpretable dollars).
    """
    tune(spark)
    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).select(
        F.col("n_name").alias("nation"),
        F.floor(
            (dec("c_acctbal", 12) * 100).cast("long") / F.lit(float(_W1_BUCKET))
        )
        .cast("long")
        .alias("bk"),
    )
    nb = c.groupBy("nation", "bk").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    gb = c.groupBy("bk").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = c.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    ntn = c.groupBy("nation").agg(F.count(F.lit(1)).cast("long").alias("nn"))
    grid = (
        gb.select("bk")
        .distinct()
        .crossJoin(F.broadcast(nb.select("nation").distinct()))
    )
    nb2 = nb.select(
        F.col("nation").alias("n2"), F.col("bk").alias("b2"), "cnt"
    )
    cumn = (
        grid.join(
            nb2,
            (F.col("n2") == F.col("nation")) & (F.col("b2") <= F.col("bk")),
            "left",
        )
        .groupBy("nation", "bk")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("ca"))
    )
    g2 = gb.select(F.col("bk").alias("b2"), F.col("cnt").alias("c2"))
    cumg = (
        gb.join(F.broadcast(g2), F.col("b2") <= F.col("bk"))
        .groupBy("bk")
        .agg(F.sum("c2").cast("long").alias("cg"))
    )
    d = F.col("ca") * F.col("nt") - F.col("cg").cast("decimal(19,0)") * F.col("nn")
    return (
        cumn.join(cumg, "bk")
        .join(F.broadcast(ntn), "nation")
        .crossJoin(F.broadcast(tot))
        .groupBy("nation", "nn", "nt")
        .agg(F.sum(F.abs(d)).alias("s"))
        .select(
            "nation",
            F.col("nn").alias("n_customers"),
            (
                F.lit(100.0)
                * F.col("s").cast("double")
                / (F.col("nn").cast("double") * F.col("nt").cast("double"))
            ).alias("w1_dollars"),
        )
    )


# ---------------------------------------------------------------------------
# Randomization (permutation) test with deterministic md5 relabeling
# ---------------------------------------------------------------------------

_PERM_B = 48  # deterministic pseudo-permutations (bits of one md5)


@query(
    "stats_permutation_test_mean_diff",
    oracle=f"""
    WITH rows_ AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_orderpriority = '{_CVM_A}' THEN 1 ELSE 0 END AS ia,
             {DUCKDB_MD5_LONG("'perm:' || o_orderkey")} AS h
      FROM orders
      WHERE o_orderpriority IN ('{_CVM_A}', '{_CVM_B}')),
    obs AS (
      SELECT CAST(SUM(ia) AS BIGINT) AS na,
             CAST(COUNT(*) - SUM(ia) AS BIGINT) AS nb,
             CAST(SUM(CASE WHEN ia = 1 THEN cents END) AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN ia = 0 THEN cents END) AS BIGINT) AS sb
      FROM rows_),
    perm AS (
      SELECT b,
             CAST(SUM(g) AS BIGINT) AS pna,
             CAST(COUNT(*) - SUM(g) AS BIGINT) AS pnb,
             CAST(SUM(CASE WHEN g = 1 THEN cents END) AS BIGINT) AS psa,
             CAST(SUM(CASE WHEN g = 0 THEN cents END) AS BIGINT) AS psb
      FROM (
        SELECT cents, u.b, CAST((h >> u.b) & 1 AS INTEGER) AS g
        FROM rows_, UNNEST(range(0, {_PERM_B})) AS u(b))
      GROUP BY b),
    pd AS (
      SELECT b,
             ABS(CAST(psa AS DOUBLE) / pna - CAST(psb AS DOUBLE) / pnb)
               AS adiff
      FROM perm WHERE pna > 0 AND pnb > 0)
    SELECT na, nb,
           CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb
             AS diff_obs_cents,
           CAST((SELECT COUNT(*) FROM pd, obs
                 WHERE adiff >= ABS(CAST(sa AS DOUBLE) / na
                                    - CAST(sb AS DOUBLE) / nb))
                AS BIGINT) AS n_extreme,
           CAST(1 + (SELECT COUNT(*) FROM pd, obs
                     WHERE adiff >= ABS(CAST(sa AS DOUBLE) / na
                                        - CAST(sb AS DOUBLE) / nb))
                AS DOUBLE) / CAST(1 + {_PERM_B} AS DOUBLE) AS p_value
    FROM obs
    """,
)
def stats_permutation_test_mean_diff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Randomization test for the URGENT-vs-LOW mean order-value
    difference: 48 DETERMINISTIC pseudo-permutations relabel each
    order by the 48 low bits of ONE md5 per order (bit b is
    permutation b's coin), and the p-value is the add-one-smoothed
    share of relabelings whose |mean difference| meets or beats the
    observed one — the distribution-free significance readout that
    needs no normality or variance assumptions, made reproducible
    (and oracle-checkable) by replacing the RNG with the cross-engine
    md5 mixer (``functions/hashing`` doctrine).

    Exactness: every group sum is exact integer cents; each mean
    difference is two shared IEEE divisions; the >= comparisons see
    bit-identical doubles in both engines. Scale: ONE md5 per fact
    row (not one per permutation — bit extraction makes the x48
    fan-out pure integer shifts inside codegen), then a literal x48
    explode into one map-side-combinable 48-group aggregate — no
    join, no window.
    """
    tune(spark)
    from ..functions.hashing import md5_long

    o = table(spark, sf_dir, "orders")
    rows = o.filter(F.col("o_orderpriority").isin(_CVM_A, _CVM_B)).select(
        (dec("o_totalprice", 14) * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority") == _CVM_A, 1).otherwise(0).alias("ia"),
        md5_long(F.col("o_orderkey").cast("string"), salt="perm").alias("h"),
    )
    rows = rows.persist()
    obs = rows.agg(
        F.sum("ia").cast("long").alias("na"),
        (F.count(F.lit(1)) - F.sum("ia")).cast("long").alias("nb"),
        F.sum(F.when(F.col("ia") == 1, F.col("cents"))).cast("long").alias("sa"),
        F.sum(F.when(F.col("ia") == 0, F.col("cents"))).cast("long").alias("sb"),
    )
    perm = (
        rows.select(
            "cents",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(_PERM_B - 1))).alias("b"),
        )
        .select(
            "cents",
            "b",
            F.expr("CAST(shiftright(h, CAST(b AS INT)) & 1 AS INT)").alias("g"),
        )
        .groupBy("b")
        .agg(
            F.sum("g").cast("long").alias("pna"),
            (F.count(F.lit(1)) - F.sum("g")).cast("long").alias("pnb"),
            F.sum(F.when(F.col("g") == 1, F.col("cents")))
            .cast("long")
            .alias("psa"),
            F.sum(F.when(F.col("g") == 0, F.col("cents")))
            .cast("long")
            .alias("psb"),
        )
    )
    adiff = F.abs(
        F.col("psa").cast("double") / F.col("pna")
        - F.col("psb").cast("double") / F.col("pnb")
    )
    pd_ = perm.filter((F.col("pna") > 0) & (F.col("pnb") > 0)).select(
        adiff.alias("adiff")
    )
    dobs = (
        F.col("sa").cast("double") / F.col("na")
        - F.col("sb").cast("double") / F.col("nb")
    )
    ext = (
        pd_.crossJoin(F.broadcast(obs))
        .filter(F.col("adiff") >= F.abs(dobs))
        .agg(F.count(F.lit(1)).cast("long").alias("n_extreme"))
    )
    out = obs.crossJoin(F.broadcast(ext)).select(
        "na",
        "nb",
        dobs.alias("diff_obs_cents"),
        "n_extreme",
        (
            (1 + F.col("n_extreme")).cast("double")
            / F.lit(float(1 + _PERM_B))
        ).alias("p_value"),
    )
    res = out.persist()
    res.count()
    rows.unpersist()
    return res


@query(
    "stats_beta_binomial_posterior",
    oracle=f"""
    WITH o AS (
      SELECT n_name AS nation,
             CASE WHEN o_orderpriority = '{_CVM_A}' THEN 1 ELSE 0 END AS s
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey),
    agg AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS s
      FROM o GROUP BY 1)
    SELECT nation, n AS n_orders, s AS n_urgent,
           CAST(s AS DOUBLE) / n AS rate_mle,
           CAST(s + 1 AS DOUBLE) / CAST(n + 2 AS DOUBLE) AS post_mean,
           (CAST(s + 1 AS DOUBLE) * CAST(n - s + 1 AS DOUBLE))
             / (CAST(n + 2 AS DOUBLE) * CAST(n + 2 AS DOUBLE)
                * CAST(n + 3 AS DOUBLE)) AS post_var,
           CAST(s + 1 AS DOUBLE) / CAST(n + 2 AS DOUBLE)
             - CAST(s AS DOUBLE) / n AS shrinkage
    FROM agg
    """,
)
def stats_beta_binomial_posterior(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Beta-binomial posterior (uniform Beta(1,1) prior) of each
    nation's urgent-order rate: posterior mean (the Laplace-smoothed
    rate), posterior variance, and the shrinkage the prior applies to
    the raw MLE — the Bayesian small-sample guardrail that stops a
    3-order nation from topping a rate leaderboard.

    Exactness: posterior moments of a conjugate Beta are closed-form
    rationals of integer counts — (s+1)/(n+2) and
    (s+1)(n-s+1)/((n+2)^2(n+3)) — so every output is a fixed chain of
    IEEE ops on exact int64. Scale: one fact-dim join (broadcast
    nation via customer) + one map-side-combinable groupBy.
    """
    tune(spark)
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    agg = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == _CVM_A, 1).otherwise(0)
            )
            .cast("long")
            .alias("s"),
        )
    )
    nd = F.col("n").cast("double")
    s1 = (F.col("s") + 1).cast("double")
    n2 = (F.col("n") + 2).cast("double")
    return agg.select(
        "nation",
        F.col("n").alias("n_orders"),
        F.col("s").alias("n_urgent"),
        (F.col("s").cast("double") / nd).alias("rate_mle"),
        (s1 / n2).alias("post_mean"),
        (
            s1
            * (F.col("n") - F.col("s") + 1).cast("double")
            / (n2 * n2 * (F.col("n") + 3).cast("double"))
        ).alias("post_var"),
        (s1 / n2 - F.col("s").cast("double") / nd).alias("shrinkage"),
    )


@query(
    "stats_mood_median_test",
    oracle="""
    WITH rows_ AS (
      SELECT o_orderpriority AS g,
             CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS cents
      FROM orders),
    dv AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS c
           FROM rows_ GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM dv),
    med AS (
      SELECT MIN(cents) AS med FROM (
        SELECT cents, SUM(c) OVER (ORDER BY cents) AS cum FROM dv), tot
      WHERE cum >= (n + 1) // 2),
    cells AS (
      SELECT g,
             CAST(SUM(CASE WHEN cents > med THEN 1 ELSE 0 END) AS BIGINT)
               AS above,
             CAST(SUM(CASE WHEN cents <= med THEN 1 ELSE 0 END) AS BIGINT)
               AS at_or_below
      FROM rows_, med GROUP BY 1),
    long_ AS (
      SELECT g, 1 AS side, above AS obs FROM cells
      UNION ALL
      SELECT g, 0 AS side, at_or_below AS obs FROM cells),
    rt AS (SELECT g, CAST(SUM(obs) AS BIGINT) AS rtot FROM long_ GROUP BY 1),
    ct AS (SELECT side, CAST(SUM(obs) AS BIGINT) AS ctot
           FROM long_ GROUP BY 1),
    terms AS (
      SELECT CAST(FLOOR(
               ((CAST(obs AS DOUBLE)
                 - CAST(rtot * ctot AS DOUBLE) / n)
                * (CAST(obs AS DOUBLE)
                   - CAST(rtot * ctot AS DOUBLE) / n)
                / (CAST(rtot * ctot AS DOUBLE) / n)) * 1000000)
               AS BIGINT) AS t6
      FROM long_ JOIN rt USING (g) JOIN ct USING (side) CROSS JOIN tot)
    SELECT (SELECT med FROM med) AS median_cents,
           (SELECT n FROM tot) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(4 AS BIGINT) AS dof,
           CAST(SUM(t6) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS chi2
    FROM terms
    """,
)
def stats_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five order priorities: is the
    share of order values ABOVE the grand median the same in every
    priority class? The bluntest, most outlier-proof k-sample
    location test — the cross-check a analyst runs when
    ``stats_kruskal_wallis`` (rank-based) and ANOVA (mean-based)
    disagree.

    Exactness: the grand lower median is an exact order statistic
    from the distinct-value prefix scan (``bucketed_prefix_sums``,
    never a global window on the Spark side); the 5x2 contingency
    cells are exact integers; each chi-square term is floor-scaled to
    int64 (x1e6) before summation — the ``stats_chi2_nation_segment``
    order-free-reduction doctrine. Scale: one distinct-value scan +
    one grouped aggregate over the fact table.
    """
    tune(spark)
    o = table(spark, sf_dir, "orders")
    rows = o.select(
        F.col("o_orderpriority").alias("g"),
        (dec("o_totalprice", 14) * 100).cast("long").alias("cents"),
    )
    dv = rows.groupBy("cents").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = bucketed_prefix_sums(dv, "cents", ["c"])
    tot = dv.agg(F.sum("c").cast("long").alias("n"))
    # model_checkpoint the 1-row median and the 5-row contingency
    # cells: the chi-square tail below references cells 6x (unionAll
    # x rt/ct/j) and med twice — without leaf materialization every
    # reference re-embeds (and re-executes) the orders scan + prefix
    # subtree (r10: the final action was ~4 s of repeated scans; the
    # cells frame is group-count bounded, the doctrine case).
    med = model_checkpoint(
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_c") >= F.floor((F.col("n") + 1) / 2))
        .agg(F.min("cents").alias("med"))
    )
    cells = model_checkpoint(
        rows.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.sum(F.when(F.col("cents") > F.col("med"), 1).otherwise(0))
            .cast("long")
            .alias("above"),
            F.sum(F.when(F.col("cents") <= F.col("med"), 1).otherwise(0))
            .cast("long")
            .alias("at_or_below"),
        )
    )
    long_ = cells.select(
        "g", F.lit(1).alias("side"), F.col("above").alias("obs")
    ).unionAll(
        cells.select(
            "g", F.lit(0).alias("side"), F.col("at_or_below").alias("obs")
        )
    )
    rt = long_.groupBy("g").agg(F.sum("obs").cast("long").alias("rtot"))
    ct = long_.groupBy("side").agg(F.sum("obs").cast("long").alias("ctot"))
    j = (
        long_.join(F.broadcast(rt), "g")
        .join(F.broadcast(ct), "side")
        .crossJoin(F.broadcast(tot))
    )
    exp = (F.col("rtot") * F.col("ctot")).cast("double") / F.col("n")
    d = F.col("obs").cast("double") - exp
    term = d * d / exp
    chi2 = (
        F.sum(F.floor(term * F.lit(1000000.0)).cast("long")).cast("double")
        / F.lit(1000000.0)
    )
    return (
        j.agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.min("n").alias("n_orders"),
            chi2.alias("chi2"),
        )
        .crossJoin(F.broadcast(med))
        .select(
            F.col("med").alias("median_cents"),
            "n_orders",
            "n_cells",
            F.lit(4).cast("long").alias("dof"),
            "chi2",
        )
    )


@query(
    "stats_cochran_q_event_types",
    oracle="""
    WITH cnts AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    flags AS (
      SELECT user_id, event_type FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY c DESC, event_type) AS rk
        FROM cnts)
      WHERE rk <= 2),
    k_ AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
           FROM cnts),
    r0 AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS ri
           FROM flags GROUP BY 1),
    -- blocks with all-0 or all-k responses carry no within-block
    -- contrast and are dropped (standard Cochran practice)
    keep AS (SELECT user_id, ri FROM r0, k_ WHERE ri >= 1 AND ri < k),
    f2 AS (SELECT flags.user_id, event_type
           FROM flags JOIN keep ON keep.user_id = flags.user_id),
    c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cj
          FROM f2 GROUP BY 1),
    rs AS (SELECT CAST(SUM(ri) AS BIGINT) AS sr,
                  CAST(SUM(ri * ri) AS BIGINT) AS srr,
                  CAST(COUNT(*) AS BIGINT) AS n_users
           FROM keep),
    cs AS (SELECT CAST(SUM(cj) AS BIGINT) AS sc,
                  CAST(SUM(cj * cj) AS BIGINT) AS scc
           FROM c)
    SELECT n_users, k AS n_treatments,
           CAST((k - 1) * (k * scc - sc * sc) AS DOUBLE)
             / CAST(k * sr - srr AS DOUBLE) AS q_stat,
           CAST(k - 1 AS BIGINT) AS dof
    FROM rs, cs, k_
    """,
)
def stats_cochran_q_event_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran's Q across the five event types: with each user as a
    block and "is type t among this user's TOP-2 most frequent types"
    as the binary response, Q tests whether the five types are
    equally often a user staple — the k-treatment generalization of
    McNemar (``stats_mcnemar_urgent_halves``) and the
    preference-parity screen a product-analytics review starts with.
    (The naive "ever emitted type t" response saturates — active
    users touch every type — so the top-2 framing is what makes the
    blocks informative.)

    Exactness: Q = (k-1)(k*sum C_j^2 - (sum C_j)^2) /
    (k*sum R_i - sum R_i^2) is a pure integer expression of row/column
    totals of the 0/1 participation matrix — one shared IEEE division
    at the end. Blocks with all-0 or all-k responses carry no
    within-block contrast and are dropped first (standard Cochran
    practice; it also keeps the denominator strictly positive). Scale:
    one DISTINCT (user, type) projection (map-side combinable), then
    two tiny marginal aggregates; the user x type matrix is never
    materialized.
    """
    tune(spark)
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    cnts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    cnts = cnts.persist()
    wtop = Window.partitionBy("user_id").orderBy(
        F.desc("c"), F.asc("event_type")
    )
    flags = (
        cnts.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= 2)
        .select("user_id", "event_type")
    )
    flags = flags.persist()
    r0 = flags.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("ri")
    )
    k_ = cnts.agg(F.countDistinct("event_type").cast("long").alias("k"))
    keep = r0.crossJoin(F.broadcast(k_)).filter(
        (F.col("ri") >= 1) & (F.col("ri") < F.col("k"))
    ).select("user_id", "ri")
    f2 = flags.join(keep.select("user_id"), "user_id")
    c = f2.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cj")
    )
    rs = keep.agg(
        F.sum("ri").cast("long").alias("sr"),
        F.sum(F.col("ri") * F.col("ri")).cast("long").alias("srr"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
    )
    cs = c.agg(
        F.sum("cj").cast("long").alias("sc"),
        F.sum(F.col("cj") * F.col("cj")).cast("long").alias("scc"),
    )
    out = (
        rs.crossJoin(F.broadcast(cs))
        .crossJoin(F.broadcast(k_))
        .select(
            "n_users",
            F.col("k").alias("n_treatments"),
            (
                (
                    (F.col("k") - 1)
                    * (F.col("k") * F.col("scc") - F.col("sc") * F.col("sc"))
                ).cast("double")
                / (F.col("k") * F.col("sr") - F.col("srr")).cast("double")
            ).alias("q_stat"),
            (F.col("k") - 1).cast("long").alias("dof"),
        )
    )
    rows = out.persist()
    rows.count()
    flags.unpersist()
    cnts.unpersist()
    return rows


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-alternative trend test
# ---------------------------------------------------------------------------

_JT_GROUPS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _jt_pair_terms(prefix: str) -> str:
    """DuckDB expression: doubled pairwise dominance contributions
    sum_{i<j} c_j * (2*lt_i + c_i) at one distinct value, where
    lt_i = cum_i - c_i (strictly-less count)."""
    terms = []
    for i in range(len(_JT_GROUPS)):
        for j in range(i + 1, len(_JT_GROUPS)):
            terms.append(
                f"{prefix}c{j} * (2 * ({prefix}cum{i} - {prefix}c{i})"
                f" + {prefix}c{i})"
            )
    return " + ".join(terms)


@query(
    "stats_jonckheere_terpstra",
    oracle=f"""
    WITH rows_ AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS cents,
             o_orderpriority AS g
      FROM orders),
    dv AS (
      SELECT cents,
             {", ".join(f"CAST(SUM(CASE WHEN g = '{p}' THEN 1 ELSE 0 END) AS BIGINT) AS c{i}" for i, p in enumerate(_JT_GROUPS))}
      FROM rows_ GROUP BY cents),
    cum AS (
      SELECT *,
             {", ".join(f"SUM(c{i}) OVER (ORDER BY cents) AS cum{i}" for i in range(len(_JT_GROUPS)))}
      FROM dv),
    tot AS (
      SELECT {", ".join(f"CAST(SUM(c{i}) AS BIGINT) AS n{i}" for i in range(len(_JT_GROUPS)))},
             CAST(COUNT(*) AS BIGINT) AS n_values
      FROM dv),
    s AS (
      SELECT CAST(SUM({_jt_pair_terms("")}) AS BIGINT) AS jt2 FROM cum),
    f AS (
      SELECT jt2,
             {" + ".join(f"n{i}" for i in range(len(_JT_GROUPS)))} AS n,
             {" + ".join(f"n{i} * n{i}" for i in range(len(_JT_GROUPS)))}
               AS sn2,
             {" + ".join(f"CAST(n{i} AS HUGEINT) * n{i} * (2 * n{i} + 3)" for i in range(len(_JT_GROUPS)))}
               AS sn23
      FROM s, tot)
    SELECT CAST(jt2 AS DOUBLE) / CAST(2 AS DOUBLE) AS jt_stat,
           n AS n_orders,
           (CAST(jt2 AS DOUBLE) / CAST(2 AS DOUBLE)
            - CAST(n * n - sn2 AS DOUBLE) / CAST(4 AS DOUBLE))
             / sqrt(CAST(CAST(n AS HUGEINT) * n * (2 * n + 3) - sn23
                         AS DOUBLE)
                    / CAST(72 AS DOUBLE)) AS z_approx
    FROM f
    """,
)
def stats_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra trend test: do order values rise (or fall)
    MONOTONICALLY across the ordered priority classes 1-URGENT ..
    5-LOW? The ordered-alternative k-sample test — strictly more
    powerful than ``stats_kruskal_wallis`` when the hypothesis is a
    trend, not just "any difference" (JT aggregates all 10 pairwise
    Mann-Whitney dominances in priority order).

    Exactness: one distinct-value scan pivots the 5 group counts into
    columns; ONE prefix pass (``bucketed_prefix_sums`` over all 5
    columns — never a global window) yields every pairwise
    strictly-less count, so the doubled statistic
    ``2*JT = sum_v sum_(i<j) c_j*(2*lt_i + c_i)`` is an exact int64
    (ties contribute half, staying integral in the doubled domain —
    the ``stats_mann_whitney_u`` trick x10 pairs). The normal
    approximation's mean/variance are closed-form integers; z is one
    shared IEEE chain.
    """
    tune(spark)
    o = table(spark, sf_dir, "orders")
    rows = o.select(
        (dec("o_totalprice", 14) * 100).cast("long").alias("cents"),
        F.col("o_orderpriority").alias("g"),
    )
    cnt_cols = [
        F.sum(F.when(F.col("g") == p, 1).otherwise(0))
        .cast("long")
        .alias(f"c{i}")
        for i, p in enumerate(_JT_GROUPS)
    ]
    dv = rows.groupBy("cents").agg(*cnt_cols)
    cum = bucketed_prefix_sums(
        dv, "cents", [f"c{i}" for i in range(len(_JT_GROUPS))]
    )
    pair_expr = None
    for i in range(len(_JT_GROUPS)):
        for j in range(i + 1, len(_JT_GROUPS)):
            t = F.col(f"c{j}") * (
                2 * (F.col(f"cum_c{i}") - F.col(f"c{i}")) + F.col(f"c{i}")
            )
            pair_expr = t if pair_expr is None else pair_expr + t
    s = cum.agg(F.sum(pair_expr).cast("long").alias("jt2"))
    tot = dv.agg(
        *[
            F.sum(f"c{i}").cast("long").alias(f"n{i}")
            for i in range(len(_JT_GROUPS))
        ]
    )
    n = None
    sn2 = None
    sn23 = None
    for i in range(len(_JT_GROUPS)):
        ni = F.col(f"n{i}")
        n = ni if n is None else n + ni
        sn2 = ni * ni if sn2 is None else sn2 + ni * ni
        t23 = ni.cast("decimal(19,0)") * ni * (2 * ni + 3)
        sn23 = t23 if sn23 is None else sn23 + t23
    jt = F.col("jt2").cast("double") / F.lit(2.0)
    mean = (n * n - sn2).cast("double") / F.lit(4.0)
    var = (
        (n.cast("decimal(19,0)") * n * (2 * n + 3) - sn23).cast("double")
        / F.lit(72.0)
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            jt.alias("jt_stat"),
            n.alias("n_orders"),
            ((jt - mean) / F.sqrt(var)).alias("z_approx"),
        )
    )
