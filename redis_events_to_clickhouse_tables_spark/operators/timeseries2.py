"""Second time-series wave: band monitoring, changepoint search,
outlier rounds, symbolic distance, and recursive smoothing.

Exactness additions to the ``timeseries.py`` doctrine:

- **Integral band tests**: a Bollinger breach is decided by the exact
  integer inequality (n*x - S)^2 > 4*(n*S2 - S^2) — no float enters
  the boolean, so the flag can never flap at a band edge.
- **Rational argmax**: the binary-segmentation split maximizes an
  exact-integer numerator over a tiny integer denominator; both
  engines form the SAME correctly-rounded double per candidate, so
  the argmax (with an explicit index tiebreak) is deterministic.
- **Fold parity**: exponential smoothing is a LEFT FOLD with
  exactly-representable 0.5 coefficients — Spark ``aggregate`` and
  DuckDB ``list_reduce`` evaluate the identical IEEE sequence, so the
  recursion is bit-exact across engines (verified: same hex bits).

Scale: day frames ride the bucketed prefix primitives (no global
windows); per-group series arrays are bounded by the day count, not
the event count.

Reference parity note: the reference ETL (src/main.ts) has no
time-series operators; Layer-B north-star surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dec
from ..functions.ranks import bucketed_prefix_sums
from ..functions.lineage import model_checkpoint
from ..registry import query
from ..session import tune
from ..sources.tables import table
from .stats2 import _daily_autocovariances

_CENTS = "CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)"
_DAY = "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))"


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    cents = F.round(dec("value", 10) * 100).cast("long")
    return e.groupBy(
        F.expr("datediff(to_date(ts), date'1970-01-01')").alias("d")
    ).agg(F.sum(cents).alias("x"))


_BB_WIN = 7  # trailing window, days


@query(
    "timeseries_bollinger_breaches",
    oracle=f"""
    WITH daily AS (
      SELECT {_DAY} AS d, SUM({_CENTS}) AS x FROM events GROUP BY 1),
    w AS (
      SELECT a.d, a.x,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(b.x) AS BIGINT) AS s,
             SUM(CAST(b.x AS HUGEINT) * b.x) AS s2
      FROM daily a JOIN daily b ON b.d BETWEEN a.d - {_BB_WIN - 1} AND a.d
      GROUP BY a.d, a.x)
    SELECT d AS day_idx, CAST(x AS BIGINT) AS daily_cents, n AS n_window,
           CAST(s AS DOUBLE) / n / 100.0 AS mean_dollars,
           (CAST(s AS DOUBLE) / n
              + 2 * sqrt(CAST(n * s2 - CAST(s AS HUGEINT) * s AS DOUBLE)) / n)
             / 100.0 AS upper_band,
           (CAST(s AS DOUBLE) / n
              - 2 * sqrt(CAST(n * s2 - CAST(s AS HUGEINT) * s AS DOUBLE)) / n)
             / 100.0 AS lower_band,
           CAST(x * n - s AS HUGEINT) * (x * n - s)
             > 4 * (n * s2 - CAST(s AS HUGEINT) * s) AS breach
    FROM w
    """,
)
def timeseries_bollinger_breaches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bollinger-band monitoring of daily revenue: trailing {win}-day
    mean +/- 2 sigma, with the breach flag decided by the EXACT
    integer inequality (n*x - S)^2 > 4*(n*S2 - S^2) — the band values
    are display doubles, but the alert itself can never flap on a
    float edge. The standard ops-dashboard "is today out of band"
    check.

    The trailing window is a day-offset range join on the distinct-day
    frame (model-level; broadcast side bounded by days) — no ordered
    window at all, so the same plan holds on a years-deep log.
    """
    tune(spark)
    daily = _daily_cents(spark, sf_dir)
    b = daily.select(F.col("d").alias("d2"), F.col("x").alias("x2"))
    w = (
        daily.join(
            F.broadcast(b),
            (F.col("d2") >= F.col("d") - (_BB_WIN - 1))
            & (F.col("d2") <= F.col("d")),
        )
        .groupBy("d", "x")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x2").cast("long").alias("s"),
            F.sum(F.col("x2").cast("decimal(38,0)") * F.col("x2")).alias("s2"),
        )
    )
    mean = F.col("s").cast("double") / F.col("n")
    var_n2 = (
        F.col("n") * F.col("s2") - F.col("s").cast("decimal(38,0)") * F.col("s")
    )
    dev = F.col("x") * F.col("n") - F.col("s")
    return w.select(
        F.col("d").cast("long").alias("day_idx"),
        F.col("x").cast("long").alias("daily_cents"),
        F.col("n").alias("n_window"),
        (mean / F.lit(100.0)).alias("mean_dollars"),
        (
            (mean + 2 * F.sqrt(var_n2.cast("double")) / F.col("n"))
            / F.lit(100.0)
        ).alias("upper_band"),
        (
            (mean - 2 * F.sqrt(var_n2.cast("double")) / F.col("n"))
            / F.lit(100.0)
        ).alias("lower_band"),
        (dev.cast("decimal(38,0)") * dev > 4 * var_n2).alias("breach"),
    )


@query(
    "timeseries_changepoint_binseg",
    oracle=f"""
    WITH daily AS (
      SELECT {_DAY} AS d, SUM({_CENTS}) AS x FROM events GROUP BY 1),
    idx AS (
      SELECT d, x,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
             SUM(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cs
      FROM daily),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
            FROM daily),
    cand AS (
      SELECT d, t, CAST(cs AS BIGINT) AS cs, n, s,
             (CAST(CAST(cs AS HUGEINT) * cs AS DOUBLE) * (n - t)
              + CAST(CAST(s - cs AS HUGEINT) * (s - cs) AS DOUBLE) * t)
             / (t * (n - t))
             - CAST(CAST(s AS HUGEINT) * s AS DOUBLE) / n AS gain
      FROM idx CROSS JOIN tot WHERE t < n)
    SELECT d AS split_day_idx, t AS split_pos, n AS n_days,
           gain / 10000.0 AS gain_cents2,
           CAST(cs AS DOUBLE) / t / 100.0 AS mean_left_dollars,
           CAST(s - cs AS DOUBLE) / (n - t) / 100.0 AS mean_right_dollars
    FROM cand
    ORDER BY gain DESC, t ASC
    LIMIT 1
    """,
)
def timeseries_changepoint_binseg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binary-segmentation changepoint on daily revenue: the split
    position maximizing the between-segment sum-of-squares gain
    (CS_L^2/t + CS_R^2/(n-t) - S^2/n) — the first step of the classic
    top-down changepoint recursion, and the exact-argmax sibling of
    the CUSUM trace (events_cusum_drift).

    Every candidate's gain is formed from exact DECIMAL(38,0)/HUGEINT
    prefix-sum squares with one correctly-rounded double image per
    engine — identical doubles, so the argmax (tiebreak: earliest
    split) is deterministic. Prefix sums and the position index ride
    ``bucketed_prefix_sums``; the argmax is a TakeOrdered(1), not a
    window.
    """
    tune(spark)
    daily = _daily_cents(spark, sf_dir).withColumn(
        "one", F.lit(1).cast("long")
    )
    idx = bucketed_prefix_sums(daily, "d", ["x", "one"]).select(
        "d", "x", F.col("cum_x").alias("cs"), F.col("cum_one").alias("t")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    cs, s, t, n = F.col("cs"), F.col("s"), F.col("t"), F.col("n")
    gain = (
        (cs.cast("decimal(38,0)") * cs).cast("double") * (n - t)
        + ((s - cs).cast("decimal(38,0)") * (s - cs)).cast("double") * t
    ) / (t * (n - t)) - (s.cast("decimal(38,0)") * s).cast("double") / n
    return (
        idx.crossJoin(F.broadcast(tot))
        .filter(t < n)
        .select(
            F.col("d").cast("long").alias("split_day_idx"),
            t.alias("split_pos"),
            n.alias("n_days"),
            (gain / F.lit(10000.0)).alias("gain_cents2"),
            (cs.cast("double") / t / F.lit(100.0)).alias("mean_left_dollars"),
            ((s - cs).cast("double") / (n - t) / F.lit(100.0)).alias(
                "mean_right_dollars"
            ),
        )
        .orderBy(F.desc("gain_cents2"), F.asc("split_pos"))
        .limit(1)
    )


_ESD_ROUNDS = 3

_ESD_ROUND_SQL = """
    s{r} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
             SUM(CAST(x AS HUGEINT) * x) AS s2
      FROM k{r}),
    pick{r} AS (
      SELECT k{r}.d, k{r}.x, s{r}.n,
             ABS(k{r}.x * s{r}.n - s{r}.s) AS dev,
             CAST(ABS(k{r}.x * s{r}.n - s{r}.s) AS DOUBLE)
             / sqrt(CAST(s{r}.n * s{r}.s2
                         - CAST(s{r}.s AS HUGEINT) * s{r}.s AS DOUBLE))
               AS r_stat
      FROM k{r} CROSS JOIN s{r}
      ORDER BY dev DESC, d ASC LIMIT 1),
    k{r1} AS (SELECT d, x FROM k{r} WHERE d NOT IN (SELECT d FROM pick{r}))
"""


_ESD_ROUNDS_SQL = ",".join(
    _ESD_ROUND_SQL.format(r=r, r1=r + 1) for r in (1, 2, 3)
)


@query(
    "timeseries_esd_outlier_rounds",
    oracle=f"""
    WITH k1 AS (
      SELECT {_DAY} AS d, SUM({_CENTS}) AS x FROM events GROUP BY 1),
    {_ESD_ROUNDS_SQL}
    SELECT 1 AS round, d AS day_idx, CAST(x AS BIGINT) AS daily_cents, r_stat
    FROM pick1
    UNION ALL
    SELECT 2, d, CAST(x AS BIGINT), r_stat FROM pick2
    UNION ALL
    SELECT 3, d, CAST(x AS BIGINT), r_stat FROM pick3
    """,
)
def timeseries_esd_outlier_rounds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Generalized-ESD outlier rounds on daily revenue: iteratively
    remove the most extreme day and re-test with recomputed
    mean/stddev — the multi-outlier procedure that fixes Grubbs'
    masking problem (stats_grubbs_extremes is the single-shot
    sibling).

    Each round's pick maximizes the EXACT integer deviation
    |n*x - S| (tiebreak: earliest day), so the selection can never
    flap; R = |n*x-S| / sqrt(n*S2 - S^2) is one shared IEEE image of
    DECIMAL(38,0) sums. Spark runs the genuinely sequential recursion
    as 3 driver rounds of 1-row scalar collects (model-level,
    the repo's O(1)-scalar budget); the oracle unrolls the same three
    rounds as CTEs.
    """
    tune(spark)
    import math

    cur = _daily_cents(spark, sf_dir).persist()
    out: list[tuple[int, int, int, float]] = []
    for rnd in range(1, _ESD_ROUNDS + 1):
        # ONE job per round (r10: was two — a stats collect feeding
        # literal n/S into a second pick job): the 1-row moment
        # aggregate rides a broadcast cross join into the pick scan,
        # same exact-integer dev and identical tiebreak
        st = cur.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("s"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("s2"),
        )
        pick = (
            cur.crossJoin(F.broadcast(st))
            .select(
                "d",
                "x",
                "n",
                "s",
                "s2",
                F.abs(F.col("x") * F.col("n") - F.col("s")).alias("dev"),
            )
            .orderBy(F.desc("dev"), F.asc("d"))
            .limit(1)
            .collect()[0]
        )
        # math.sqrt (IEEE correctly rounded) — NOT **0.5, whose libm
        # pow can differ from sqrt in the last ulp
        var_n2 = float(pick["n"] * pick["s2"] - pick["s"] * pick["s"])
        out.append(
            (rnd, pick["d"], pick["x"], float(pick["dev"]) / math.sqrt(var_n2))
        )
        cur = cur.filter(F.col("d") != pick["d"])
    res = spark.createDataFrame(
        out, "round int, day_idx long, daily_cents long, r_stat double"
    )
    return res


@query(
    "timeseries_symbolic_lev_distance",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, {_DAY} AS d, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(x) AS BIGINT) AS s
      FROM daily GROUP BY 1),
    sym AS (
      SELECT daily.event_type,
             string_agg(CASE WHEN daily.x * tot.nd < tot.s
                             THEN 'a' ELSE 'b' END, '' ORDER BY daily.d)
               AS word
      FROM daily JOIN tot ON daily.event_type = tot.event_type
      GROUP BY 1)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(levenshtein(a.word, b.word) AS BIGINT) AS lev,
           CAST(length(a.word) AS BIGINT) AS len_a,
           CAST(length(b.word) AS BIGINT) AS len_b
    FROM sym a JOIN sym b ON a.event_type < b.event_type
    """,
)
def timeseries_symbolic_lev_distance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Symbolic (SAX-style) series comparison: each event type's daily
    count series is discretized against its own mean — above/below,
    decided by the exact integer test x*D < S — into a letter string,
    and series similarity becomes plain ``levenshtein`` between words
    (both engines implement it identically). The cheap shape-compare
    for "do these two metrics move together" without any float
    correlation.

    The per-type word is bounded by the day count; the pair frame by
    the type count squared — both model-level.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.expr("datediff(to_date(ts), date'1970-01-01')").alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("x").cast("long").alias("s"),
    )
    sym = (
        daily.join(tot, "event_type")
        .groupBy("event_type")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("d").alias("d"),
                                F.when(
                                    F.col("x") * F.col("nd") < F.col("s"), "a"
                                )
                                .otherwise("b")
                                .alias("ch"),
                            )
                        )
                    ),
                    lambda s: s.getField("ch"),
                ),
                "",
            ).alias("word")
        )
    )
    a = sym.select(
        F.col("event_type").alias("type_a"), F.col("word").alias("wa")
    )
    b = sym.select(
        F.col("event_type").alias("type_b"), F.col("word").alias("wb")
    )
    return a.join(F.broadcast(b), F.col("type_a") < F.col("type_b")).select(
        "type_a",
        "type_b",
        F.levenshtein("wa", "wb").cast("long").alias("lev"),
        F.length("wa").cast("long").alias("len_a"),
        F.length("wb").cast("long").alias("len_b"),
    )


@query(
    "timeseries_peak_days",
    oracle=f"""
    WITH daily AS (
      SELECT {_DAY} AS d, SUM({_CENTS}) AS x FROM events GROUP BY 1)
    SELECT c.d AS day_idx, CAST(c.x AS BIGINT) AS daily_cents,
           CAST(l.x AS BIGINT) AS prev_cents, CAST(r.x AS BIGINT)
             AS next_cents,
           5 * c.x > 3 * (l.x + r.x) AS prominent
    FROM daily c
    JOIN daily l ON l.d = c.d - 1
    JOIN daily r ON r.d = c.d + 1
    WHERE c.x > l.x AND c.x > r.x
    """,
)
def timeseries_peak_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection on daily revenue: days strictly above both
    neighbors, with a prominence flag from the exact integer test
    5*x > 3*(left+right) (i.e. the peak exceeds 1.2x the neighbor
    mean). Neighbor access is a day-offset self-join — no lag window —
    so the plan is two co-partitioned joins at any series depth.
    """
    tune(spark)
    daily = _daily_cents(spark, sf_dir)
    ln = daily.select(F.col("d").alias("dl"), F.col("x").alias("xl"))
    rn = daily.select(F.col("d").alias("dr"), F.col("x").alias("xr"))
    return (
        daily.join(ln, F.col("dl") == F.col("d") - 1)
        .join(rn, F.col("dr") == F.col("d") + 1)
        .filter((F.col("x") > F.col("xl")) & (F.col("x") > F.col("xr")))
        .select(
            F.col("d").cast("long").alias("day_idx"),
            F.col("x").cast("long").alias("daily_cents"),
            F.col("xl").cast("long").alias("prev_cents"),
            F.col("xr").cast("long").alias("next_cents"),
            (5 * F.col("x") > 3 * (F.col("xl") + F.col("xr"))).alias(
                "prominent"
            ),
        )
    )


def _daily_count_arrays(
    spark: SparkSession, sf_dir: str, xs_type: str, *aggs: Column
) -> DataFrame:
    """(event_type, xs, *aggs): each type's daily counts as one array
    in day order (elements cast to ``xs_type``), with ``aggs`` over the
    same (event_type, d, x) day rows."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.expr("datediff(to_date(ts), date'1970-01-01')").alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    return daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("d").alias("d"), F.col("x").alias("x"))
                )
            ),
            lambda s: s.getField("x").cast(xs_type),
        ).alias("xs"),
        *aggs,
    )


@query(
    "timeseries_ses_level",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, {_DAY} AS d, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    arr AS (
      SELECT event_type,
             list(CAST(x AS DOUBLE) ORDER BY d) AS xs,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS total
      FROM daily GROUP BY 1)
    SELECT event_type, n_days, total AS total_events,
           list_reduce(xs, (acc, v) -> acc * 0.5 + v * 0.5) AS ses_level
    FROM arr
    """,
)
def timeseries_ses_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple exponential smoothing (alpha = 1/2) of each event type's
    daily count series — the one-number "current level" a forecaster
    seeds from. A genuinely SEQUENTIAL recursion (s_t depends on
    s_{t-1}), expressed as a left fold over the day-ordered array:
    Spark ``aggregate`` and DuckDB ``list_reduce`` execute the
    identical IEEE multiply-add sequence (alpha = 0.5 is exactly
    representable), so the recursion hash-matches bit-for-bit —
    no rows-only fallback needed for a recursive operator.

    The array is bounded by the DAY count per type (never event
    count); the fold is JVM-side codegen, not Python.
    """
    tune(spark)
    arr = _daily_count_arrays(
        spark,
        sf_dir,
        "double",
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("total"),
    )
    return arr.select(
        "event_type",
        "n_days",
        F.col("total").alias("total_events"),
        F.aggregate(
            F.slice(F.col("xs"), 2, 100_000),
            F.element_at(F.col("xs"), 1),
            lambda acc, v: acc * F.lit(0.5) + v * F.lit(0.5),
        ).alias("ses_level"),
    )


@query(
    "timeseries_pacf_lag2",
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
      FROM (SELECT unnest([1, 2]) AS k) l
      CROSS JOIN tot
      JOIN daily a ON TRUE
      JOIN daily b ON b.d = a.d + l.k
      GROUP BY 1),
    a0 AS (
      SELECT CAST(SUM(CAST(x * n - s AS HUGEINT) * (x * n - s)) AS DOUBLE)
               AS a0
      FROM daily CROSS JOIN tot),
    r AS (
      SELECT MAX(CASE WHEN k = 1 THEN ak END) / MAX(a0.a0) AS r1,
             MAX(CASE WHEN k = 2 THEN ak END) / MAX(a0.a0) AS r2
      FROM a CROSS JOIN a0)
    SELECT r1, r2,
           (r2 - r1 * r1) / (1 - r1 * r1) AS pacf_lag2
    FROM r
    """,
)
def timeseries_pacf_lag2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lag 2 of daily event counts via the
    Durbin-Levinson closed form pacf(2) = (r2 - r1^2)/(1 - r1^2) —
    the AR-order diagnostic that separates "true 2-step memory" from
    lag-1 correlation echoing (timeseries_autocorrelation shows the
    raw r_k curve this corrects).

    Autocovariances are n-scaled exact integers (DECIMAL(38,0)/
    HUGEINT) from day-offset self-joins, the Ljung-Box builder
    :func:`_daily_autocovariances` at two lags; r1/r2/pacf are one
    shared IEEE expression tree.
    """
    tune(spark)
    _, ak, a0 = _daily_autocovariances(spark, sf_dir, 2)
    r = ak.crossJoin(F.broadcast(a0)).agg(
        (
            F.max(F.when(F.col("k") == 1, F.col("ak"))) / F.max("a0")
        ).alias("r1"),
        (
            F.max(F.when(F.col("k") == 2, F.col("ak"))) / F.max("a0")
        ).alias("r2"),
    )
    return r.select(
        "r1",
        "r2",
        (
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / (1 - F.col("r1") * F.col("r1"))
        ).alias("pacf_lag2"),
    )


@query(
    "timeseries_max_drawdown",
    oracle=f"""
    WITH daily AS (
      SELECT {_DAY} AS d, SUM({_CENTS}) AS x FROM events GROUP BY 1),
    cum AS (
      SELECT d,
             SUM(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS c
      FROM daily),
    dd AS (
      SELECT d, CAST(c AS BIGINT) AS c,
             CAST(MAX(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS peak
      FROM cum)
    SELECT d AS day_idx, c AS cum_cents, peak AS peak_cents,
           peak - c AS drawdown_cents,
           peak - c = (SELECT MAX(peak - c) FROM dd) AS is_max_drawdown
    FROM dd
    """,
)
def timeseries_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running drawdown of cumulative daily revenue: peak-to-date
    minus current cumulative, with the max-drawdown day flagged — the
    risk/health lens on a KPI's trajectory (deepest slump below the
    best run so far).

    The cumulative sum and the running peak are both bucketed prefix
    scans (the peak is prefix-MIN of the negated series through the
    shared primitive — no global window); every value exact cents,
    and the flag is an exact integer comparison against a 1-row
    scalar.
    """
    tune(spark)
    daily = _daily_cents(spark, sf_dir)
    cum = bucketed_prefix_sums(daily, "d", ["x"]).select(
        "d", F.col("cum_x").alias("c")
    )
    from ..functions.ranks import bucketed_prefix_min

    neg = cum.withColumn("negc", -F.col("c"))
    dd = bucketed_prefix_min(neg, "d", "negc", out_col="negpeak").select(
        "d", "c", (-F.col("negpeak")).alias("peak")
    )
    mx = dd.agg(F.max(F.col("peak") - F.col("c")).alias("mdd"))
    return dd.crossJoin(F.broadcast(mx)).select(
        F.col("d").cast("long").alias("day_idx"),
        F.col("c").cast("long").alias("cum_cents"),
        F.col("peak").cast("long").alias("peak_cents"),
        (F.col("peak") - F.col("c")).cast("long").alias("drawdown_cents"),
        ((F.col("peak") - F.col("c")) == F.col("mdd")).alias(
            "is_max_drawdown"
        ),
    )


_BT_HOLDOUT = 28  # holdout horizon (days)
_BT_SEASON = 7  # seasonal-naive lag


@query(
    "timeseries_holdout_backtest",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)
               AS c
      FROM orders GROUP BY 1),
    mx AS (SELECT MAX(day) AS m FROM daily),
    hold AS (SELECT day, c FROM daily, mx WHERE day > m - {_BT_HOLDOUT}),
    train AS (SELECT day, c FROM daily, mx WHERE day <= m - {_BT_HOLDOUT}),
    tstats AS (SELECT CAST(COUNT(*) AS BIGINT) AS tn,
                      CAST(SUM(c) AS BIGINT) AS ts FROM train),
    tlast AS (SELECT c AS lastc FROM train
              WHERE day = (SELECT MAX(day) FROM train)),
    sn AS (
      SELECT 'seasonal_naive{_BT_SEASON}' AS method,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(ABS(h.c - d7.c)) AS DOUBLE) / COUNT(*) / 100 AS mae
      FROM hold h JOIN daily d7 ON d7.day = h.day - {_BT_SEASON}),
    nl AS (
      SELECT 'naive_last' AS method,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(ABS(h.c - lastc)) AS DOUBLE) / COUNT(*) / 100 AS mae
      FROM hold h, tlast),
    tm AS (
      SELECT 'train_mean' AS method,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(ABS(CAST(h.c AS DECIMAL(28,0)) * tn - ts)) AS DOUBLE)
               / tn / COUNT(*) / 100 AS mae
      FROM hold h, tstats GROUP BY tn, ts)
    SELECT * FROM sn UNION ALL SELECT * FROM nl UNION ALL SELECT * FROM tm
    """,
)
def timeseries_holdout_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-method backtest: hold out the final {h} days of daily
    order revenue and score three reference forecasters — one-step
    seasonal-naive (actual from {s} days earlier), naive-last (last
    training-day value), and train-mean — by MAE. The method-
    comparison table every forecasting effort starts from
    (``timeseries_mase_naive7`` scores ONE method's scaled error;
    this ranks alternatives on a true holdout).

    Exactness at scale: daily revenue is exact int64 cents, so the
    naive methods' MAE sums integers; the mean method avoids the
    order-dependent float of ``avg |a - S/n|`` by scoring
    ``|a*n - S| / n`` in exact decimal before the single double
    conversion. All scalars (cutoff, train stats, last value) ride
    broadcast one-row frames — the scan is two groupBys and one
    7-day-lag self-join on the tiny daily frame.
    """
    tune(spark)
    o = table(spark, sf_dir, "orders")
    # persisted: the union's three method branches and the scalar
    # frames all derive from this tiny (~one row per day) frame — at
    # 100 TB, without the cache each branch would re-scan orders.
    daily = model_checkpoint(
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(dec("o_totalprice", 14) * 100).cast("long").alias("c"))
    )
    mx = daily.agg(F.max("day").alias("m"))
    dd = daily.crossJoin(F.broadcast(mx))
    hold = dd.filter(
        F.col("day") > F.date_sub(F.col("m"), _BT_HOLDOUT)
    ).select("day", "c")
    train = dd.filter(
        F.col("day") <= F.date_sub(F.col("m"), _BT_HOLDOUT)
    ).select("day", "c")
    tstats = train.agg(
        F.count(F.lit(1)).cast("long").alias("tn"),
        F.sum("c").cast("long").alias("ts"),
    )
    tlast = (
        train.crossJoin(F.broadcast(train.agg(F.max("day").alias("lm"))))
        .filter(F.col("day") == F.col("lm"))
        .select(F.col("c").alias("lastc"))
    )
    d7 = daily.select(F.col("day").alias("pday"), F.col("c").alias("pc"))
    sn = (
        hold.join(d7, F.col("pday") == F.date_sub(F.col("day"), _BT_SEASON))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            (
                F.sum(F.abs(F.col("c") - F.col("pc"))).cast("double")
                / F.count(F.lit(1))
                / 100
            ).alias("mae"),
        )
        .select(
            F.lit(f"seasonal_naive{_BT_SEASON}").alias("method"),
            "n_days",
            "mae",
        )
    )
    nl = (
        hold.crossJoin(F.broadcast(tlast))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            (
                F.sum(F.abs(F.col("c") - F.col("lastc"))).cast("double")
                / F.count(F.lit(1))
                / 100
            ).alias("mae"),
        )
        .select(F.lit("naive_last").alias("method"), "n_days", "mae")
    )
    tm = (
        hold.crossJoin(F.broadcast(tstats))
        .groupBy("tn", "ts")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            (
                F.sum(
                    F.abs(
                        F.col("c").cast("decimal(28,0)") * F.col("tn")
                        - F.col("ts")
                    )
                ).cast("double")
                / F.col("tn")
                / F.count(F.lit(1))
                / 100
            ).alias("mae"),
        )
        .select(F.lit("train_mean").alias("method"), "n_days", "mae")
    )
    return sn.unionAll(nl).unionAll(tm)


@query(
    "timeseries_holt_linear",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, {_DAY} AS d, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    arr AS (
      SELECT event_type,
             list(CAST(x AS DOUBLE) ORDER BY d) AS xs,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1),
    folded AS (
      SELECT event_type, n_days,
             list_reduce(
               list_prepend(
                 [xs[2], xs[2] - xs[1]],
                 list_transform(xs[3:len(xs)],
                                v -> [v, CAST(0 AS DOUBLE)])),
               (acc, e) -> [
                 0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
                 0.5 * ((0.5 * e[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                 + 0.5 * acc[2]]) AS st
      FROM arr WHERE n_days >= 3)
    SELECT event_type, n_days, st[1] AS level, st[2] AS trend,
           st[1] + 7.0 * st[2] AS forecast_7d
    FROM folded
    """,
)
def timeseries_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing (alpha = beta
    = 1/2) of each event type's daily count series: the smoothed
    level, the smoothed trend, and the 7-day-ahead forecast
    ``level + 7*trend`` — the next rung above ``timeseries_ses_level``
    on the classical forecasting ladder.

    The recursion couples TWO states (level, trend), so the fold
    state is a 2-element ARRAY: Spark ``aggregate`` and DuckDB
    ``list_reduce`` both fold day-ordered array elements through the
    identical IEEE expression (new observations ride in slot 1; the
    seed is the classical l0 = x2, b0 = x2 - x1), making a genuinely
    vector-valued recursion bit-exact across engines — the
    ``timeseries_ses_level`` fold-parity doctrine, generalized from
    scalar to vector state. Array (not struct) state on purpose:
    DuckDB 1.0's ``list_reduce`` updates a STRUCT accumulator
    field-by-field in place, so a later field's expression would see
    the already-updated earlier field — list accumulators evaluate
    all slots against the pre-step state (verified empirically; the
    struct form silently yields a different recursion). The 0.5
    coefficients are exactly representable; ``l_t`` is recomputed
    inside the ``b`` update on both sides, so the op sequence matches
    step for step.

    Scale: arrays are bounded by the day count per type (calendar),
    never event counts; the fold is JVM-side codegen.
    """
    tune(spark)
    arr = _daily_count_arrays(
        spark,
        sf_dir,
        "double",
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    x1 = F.element_at(F.col("xs"), 1)
    x2 = F.element_at(F.col("xs"), 2)
    seed = F.array(x2, x2 - x1)
    elems = F.transform(
        F.slice(F.col("xs"), 3, 1_000_000),
        lambda v: F.array(v, F.lit(0.0)),
    )
    half = F.lit(0.5)

    def step(acc, e_):
        al = F.element_at(acc, 1)
        ab = F.element_at(acc, 2)
        el = F.element_at(e_, 1)
        new_l = half * el + half * (al + ab)
        new_b = half * ((half * el + half * (al + ab)) - al) + half * ab
        return F.array(new_l, new_b)

    folded = arr.filter(F.col("n_days") >= 3).select(
        "event_type",
        "n_days",
        F.aggregate(elems, seed, step).alias("st"),
    )
    lvl = F.element_at(F.col("st"), 1)
    trd = F.element_at(F.col("st"), 2)
    return folded.select(
        "event_type",
        "n_days",
        lvl.alias("level"),
        trd.alias("trend"),
        (lvl + F.lit(7.0) * trd).alias("forecast_7d"),
    )


_PW_SEGS = 4  # fixed quarter-split piecewise segments


@query(
    "timeseries_piecewise_trend",
    oracle=f"""
    WITH daily AS (
      SELECT {_DAY} AS d, SUM({_CENTS}) AS v FROM events GROUP BY 1),
    ext AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM daily),
    seg AS (
      SELECT LEAST({_PW_SEGS - 1},
                   (d - dmin) * {_PW_SEGS} // (dmax - dmin + 1))
               AS segment,
             d - dmin AS x, v
      FROM daily, ext),
    stacked AS (
      SELECT segment, x, v FROM seg
      UNION ALL
      SELECT CAST(-1 AS BIGINT) AS segment, x, v FROM seg),
    s AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(v) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * v) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM stacked GROUP BY 1),
    m AS (
      SELECT segment, n,
             CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
               / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
               AS slope
      FROM s WHERE n >= 2)
    SELECT m.segment, m.n AS n_days, slope AS slope_cents_per_day,
           (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
             / CAST(m.n AS DOUBLE) AS intercept_cents
    FROM m JOIN s ON s.segment = m.segment
    """,
)
def timeseries_piecewise_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise linear trend of daily event revenue: exact OLS slope
    and intercept per fixed quarter of the observed day range, plus a
    ``segment = -1`` row for the whole series — the "did the trend
    BREAK mid-history" readout that a single global slope hides
    (compare each quarter's slope against the -1 row).

    Exactness: x is the day offset from the series start (small
    integers), so all five OLS power sums are exact int64/HUGEINT /
    DECIMAL(38,0); slope and intercept are one shared IEEE chain.
    Scale: one map-side-combinable daily groupBy, a broadcast 1-row
    extent, a 2x stack of the calendar-bounded day frame, and a
    5-group aggregate — nothing grows with the event count.
    """
    tune(spark)
    daily = _daily_cents(spark, sf_dir)
    ext = daily.agg(
        F.min("d").alias("dmin"), F.max("d").alias("dmax")
    )
    seg = daily.crossJoin(F.broadcast(ext)).select(
        F.least(
            F.lit(_PW_SEGS - 1),
            F.floor(
                (F.col("d") - F.col("dmin"))
                * _PW_SEGS
                / (F.col("dmax") - F.col("dmin") + 1)
            ),
        )
        .cast("long")
        .alias("segment"),
        (F.col("d") - F.col("dmin")).alias("xo"),
        F.col("x").alias("v"),
    )
    stacked = seg.unionAll(
        seg.select(
            F.lit(-1).cast("long").alias("segment"), "xo", "v"
        )
    )
    s = stacked.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xo").cast("long").alias("sx"),
        F.sum("v").cast("long").alias("sy"),
        F.sum(F.col("xo").cast("decimal(19,0)") * F.col("v")).alias("sxy"),
        F.sum(F.col("xo").cast("decimal(19,0)") * F.col("xo")).alias("sxx"),
    )
    slope = (
        F.col("n").cast("decimal(10,0)") * F.col("sxy")
        - F.col("sx").cast("decimal(19,0)") * F.col("sy")
    ).cast("double") / (
        F.col("n").cast("decimal(10,0)") * F.col("sxx")
        - F.col("sx").cast("decimal(19,0)") * F.col("sx")
    ).cast("double")
    return s.filter(F.col("n") >= 2).select(
        "segment",
        F.col("n").alias("n_days"),
        slope.alias("slope_cents_per_day"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept_cents"),
    )


_DTW_L = 28  # series length: the last 28 days of the order calendar


@query(
    "timeseries_dtw_nation_pairs",
    oracle=f"""
    WITH ext AS (
      SELECT date_diff('day', DATE '1970-01-01', MAX(o_orderdate)) AS dmax
      FROM orders),
    daily AS (
      SELECT n_name AS nation,
             date_diff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                          AS BIGINT)) AS BIGINT) AS v
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey, ext
      WHERE date_diff('day', DATE '1970-01-01', o_orderdate)
              > dmax - {_DTW_L}
      GROUP BY 1, 2),
    grid AS (
      SELECT nation, dmax - {_DTW_L} + CAST(u.i AS BIGINT) AS d
      FROM (SELECT DISTINCT nation FROM daily),
           ext, UNNEST(range(1, {_DTW_L} + 1)) AS u(i)),
    ser AS (
      SELECT grid.nation,
             list(CAST(COALESCE(daily.v, 0) AS BIGINT) ORDER BY grid.d) AS xs
      FROM grid LEFT JOIN daily
        ON daily.nation = grid.nation AND daily.d = grid.d
      GROUP BY 1),
    pairs AS (
      SELECT sa.nation AS nation_a, sa.xs AS a,
             sb.nation AS nation_b, sb.xs AS b
      FROM ser sa JOIN ser sb ON sa.nation < sb.nation),
    dp AS (
      SELECT nation_a, nation_b, a, b,
        list_reduce(
          list_prepend(
            list_reduce(
              list_prepend([abs(a[1] - b[1])],
                           list_transform(range(2, {_DTW_L} + 1),
                                          j -> [CAST(j AS BIGINT)])),
              (r, jl) -> list_append(r, abs(a[1] - b[jl[1]]) + r[len(r)])),
            list_transform(range(2, {_DTW_L} + 1),
                           i -> [CAST(i AS BIGINT)])),
          (acc, il) ->
            list_reduce(
              list_prepend([abs(a[il[1]] - b[1]) + acc[1]],
                           list_transform(range(2, {_DTW_L} + 1),
                                          j -> [CAST(j AS BIGINT)])),
              (r, jl) -> list_append(r, abs(a[il[1]] - b[jl[1]])
                         + LEAST(acc[jl[1]], acc[jl[1] - 1], r[len(r)])))
        ) AS lastrow
      FROM pairs)
    SELECT nation_a, nation_b,
           CAST(lastrow[{_DTW_L}] AS BIGINT) AS dtw_cents,
           CAST(lastrow[{_DTW_L}] AS DOUBLE)
             / CAST({_DTW_L} AS DOUBLE) / CAST(100 AS DOUBLE)
             AS dtw_dollars_per_step
    FROM dp
    """,
)
def timeseries_dtw_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance between every pair of nations'
    daily order-revenue series over the last 28 calendar days — the
    shape-similarity measure that Euclidean distance gets wrong when
    two markets move identically but a day or two out of phase
    (holidays, time zones, payment batching). The operator Spark does
    not ship: a full O(L^2) DP per pair.

    The DP recursion D[i][j] = |a_i - b_j| + min(D[i-1][j],
    D[i][j-1], D[i-1][j-1]) runs as a NESTED FOLD: the outer fold
    carries the previous DP row, the inner fold builds the current
    row left-to-right — Spark nested ``aggregate`` and DuckDB nested
    ``list_reduce`` execute the identical recurrence, and every cell
    is an exact INTEGER (cents), so parity needs no float discipline
    at all. List-typed fold elements on the DuckDB side (the
    ``timeseries_holt_linear`` doctrine: list accumulators evaluate
    against pre-step state; struct accumulators do not).

    Scale shape: the series frame is nation x 28 days (bounded by the
    calendar and the dimension, never the fact table); the 300-pair
    cross join is a broadcast of a 25-row frame; each DP is 784
    integer ops inside JVM codegen. At 100 TB the only part that
    touches the fact table is the map-side-combinable daily groupBy
    behind a pushed-down date filter.
    """
    tune(spark)
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    od = o.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
        ).alias("d"),
        (dec("o_totalprice", 14) * 100).cast("long").alias("cents"),
    )
    ext = od.agg(F.max("d").alias("dmax"))
    daily = (
        od.crossJoin(F.broadcast(ext))
        .filter(F.col("d") > F.col("dmax") - _DTW_L)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), "d")
        .agg(F.sum("cents").alias("v"))
    )
    grid = (
        daily.select("nation")
        .distinct()
        .crossJoin(F.broadcast(ext))
        .select(
            "nation",
            F.explode(
                F.sequence(
                    F.col("dmax") - _DTW_L + 1, F.col("dmax")
                )
            ).alias("d"),
        )
    )
    d2 = daily.select(
        F.col("nation").alias("n2"), F.col("d").alias("dd"), "v"
    )
    ser = (
        grid.join(
            d2,
            (F.col("n2") == F.col("nation")) & (F.col("dd") == F.col("d")),
            "left",
        )
        .groupBy("nation")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("d").alias("d"),
                            F.coalesce(F.col("v"), F.lit(0).cast("long")).alias(
                                "v"
                            ),
                        )
                    )
                ),
                lambda s: s.getField("v"),
            ).alias("xs"),
        )
    )
    sa = ser.select(F.col("nation").alias("nation_a"), F.col("xs").alias("a"))
    sb = ser.select(F.col("nation").alias("nation_b"), F.col("xs").alias("b"))
    pairs = sa.join(
        F.broadcast(sb), F.col("nation_a") < F.col("nation_b")
    )

    a, b = F.col("a"), F.col("b")

    def cost(i, j):
        return F.abs(F.element_at(a, i) - F.element_at(b, j))

    row1 = F.aggregate(
        F.sequence(F.lit(2), F.lit(_DTW_L)),
        F.array(cost(F.lit(1), F.lit(1))),
        lambda r, j: F.concat(
            r, F.array(cost(F.lit(1), j) + F.element_at(r, F.size(r)))
        ),
    )
    lastrow = F.aggregate(
        F.sequence(F.lit(2), F.lit(_DTW_L)),
        row1,
        lambda acc, i: F.aggregate(
            F.sequence(F.lit(2), F.lit(_DTW_L)),
            F.array(cost(i, F.lit(1)) + F.element_at(acc, 1)),
            lambda r, j: F.concat(
                r,
                F.array(
                    cost(i, j)
                    + F.least(
                        F.element_at(acc, j),
                        F.element_at(acc, j - 1),
                        F.element_at(r, F.size(r)),
                    )
                ),
            ),
        ),
    )
    dp = pairs.select(
        "nation_a",
        "nation_b",
        F.element_at(lastrow, _DTW_L).alias("dtw_cents"),
    )
    return dp.select(
        "nation_a",
        "nation_b",
        "dtw_cents",
        (
            F.col("dtw_cents").cast("double")
            / F.lit(float(_DTW_L))
            / F.lit(100.0)
        ).alias("dtw_dollars_per_step"),
    )


_RQ_WIN = 28  # trailing window (days) for the rolling quantile band


@query(
    "timeseries_rolling_quantile_band",
    oracle=f"""
    WITH daily AS (
      SELECT {_DAY} AS d, SUM({_CENTS}) AS x FROM events GROUP BY 1),
    win AS (
      SELECT a.d AS td, b.d AS md, b.x AS mx
      FROM daily a JOIN daily b
        ON b.d BETWEEN a.d - {_RQ_WIN - 1} AND a.d),
    ranked AS (
      SELECT w1.td, w1.md, w1.mx, CAST(COUNT(*) AS BIGINT) AS r
      FROM win w1 JOIN win w2
        ON w2.td = w1.td
       AND (w2.mx < w1.mx OR (w2.mx = w1.mx AND w2.md <= w1.md))
      GROUP BY 1, 2, 3),
    sized AS (
      SELECT td, CAST(COUNT(*) AS BIGINT) AS n FROM win GROUP BY 1)
    SELECT ranked.td AS day_idx, MIN(n) AS n_window,
           CAST(MAX(CASE WHEN r = (n + 9) // 10 THEN mx END) AS BIGINT)
             AS p10_cents,
           CAST(MAX(CASE WHEN r = (n + 1) // 2 THEN mx END) AS BIGINT)
             AS p50_cents,
           CAST(MAX(CASE WHEN r = (9 * n + 9) // 10 THEN mx END) AS BIGINT)
             AS p90_cents
    FROM ranked JOIN sized ON sized.td = ranked.td
    GROUP BY ranked.td
    """,
)
def timeseries_rolling_quantile_band(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing 28-day EXACT p10/p50/p90 band of daily event revenue —
    the robust alternative to the Bollinger mean+/-2sigma band
    (``timeseries_bollinger_breaches``): order statistics don't move
    when one outlier day lands in the window, so the band is the one
    ops teams alert on for heavy-tailed revenue.

    Exact order statistics without approximation or a global sort:
    the window membership is a day-offset range join on the
    calendar-bounded daily frame, each member's within-window rank is
    a second bounded join (28 comparisons per member), and the k-th
    smallest (k = ceil(q*n), integer arithmetic) is selected by rank
    equality — all integer cents end to end, no float enters any
    boundary. Scale: the frames are day-count-bounded model frames
    (~28x and ~784x the day count), independent of event volume.
    """
    tune(spark)
    daily = _daily_cents(spark, sf_dir)
    b = daily.select(F.col("d").alias("md"), F.col("x").alias("mx"))
    win = daily.join(
        F.broadcast(b),
        (F.col("md") >= F.col("d") - (_RQ_WIN - 1)) & (F.col("md") <= F.col("d")),
    ).select(F.col("d").alias("td"), "md", "mx")
    win = model_checkpoint(win)  # r10: feeds w2/ranked/sized, leaf plans
    w2 = win.select(
        F.col("td").alias("td2"), F.col("md").alias("md2"), F.col("mx").alias("mx2")
    )
    ranked = (
        win.join(
            w2,
            (F.col("td2") == F.col("td"))
            & (
                (F.col("mx2") < F.col("mx"))
                | ((F.col("mx2") == F.col("mx")) & (F.col("md2") <= F.col("md")))
            ),
        )
        .groupBy("td", "md", "mx")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    sized = win.groupBy(F.col("td").alias("td3")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    k10 = F.floor((F.col("n") + 9) / 10).cast("long")
    k50 = F.floor((F.col("n") + 1) / 2).cast("long")
    k90 = F.floor((9 * F.col("n") + 9) / 10).cast("long")
    out = (
        ranked.join(sized, F.col("td3") == F.col("td"))
        .groupBy(F.col("td").alias("day_idx"))
        .agg(
            F.min("n").alias("n_window"),
            F.max(F.when(F.col("r") == k10, F.col("mx")))
            .cast("long")
            .alias("p10_cents"),
            F.max(F.when(F.col("r") == k50, F.col("mx")))
            .cast("long")
            .alias("p50_cents"),
            F.max(F.when(F.col("r") == k90, F.col("mx")))
            .cast("long")
            .alias("p90_cents"),
        )
    )
    return out


@query(
    "timeseries_theta_forecast",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, {_DAY} AS d, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    arr AS (
      SELECT event_type,
             list(CAST(x AS BIGINT) ORDER BY d) AS xs,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM daily GROUP BY 1),
    sums AS (
      SELECT event_type, xs, n,
             CAST(n * (n + 1) / 2 AS BIGINT) AS st,
             CAST(n * (n + 1) * (2 * n + 1) / 6 AS BIGINT) AS stt,
             CAST(list_sum(xs) AS BIGINT) AS sx,
             CAST(list_sum(list_transform(range(1, len(xs) + 1),
                                          i -> i * xs[i])) AS BIGINT) AS stx
      FROM arr WHERE n >= 3),
    ols AS (
      SELECT event_type, xs, n,
             CAST(n * stx - st * sx AS DOUBLE)
               / CAST(n * stt - st * st AS DOUBLE) AS b,
             (CAST(sx AS DOUBLE)
              - (CAST(n * stx - st * sx AS DOUBLE)
                 / CAST(n * stt - st * st AS DOUBLE))
                * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE) AS a
      FROM sums),
    theta AS (
      SELECT event_type, n, a, b,
             list_transform(range(1, len(xs) + 1),
                            i -> CAST(2 AS DOUBLE) * xs[i]
                                 - (a + b * CAST(i AS DOUBLE))) AS z
      FROM ols),
    folded AS (
      SELECT event_type, n, a, b,
             list_reduce(z, (acc, v) -> acc * 0.5 + v * 0.5) AS ses_z
      FROM theta)
    SELECT event_type, n AS n_days, a AS trend_intercept,
           b AS trend_slope, ses_z AS ses_theta2,
           (ses_z + (a + b * (CAST(n AS DOUBLE) + CAST(7 AS DOUBLE))))
             / CAST(2 AS DOUBLE) AS forecast_7d
    FROM folded
    """,
)
def timeseries_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000 —
    the M3-competition winner) of each event type's daily count: the
    series splits into the theta=0 line (the OLS trend, pure
    long-run signal) and the theta=2 line (2x - trend, doubled
    curvature), SES smooths the theta=2 line, and the h-step forecast
    averages the two — the "simple method that beats fancy ones"
    every forecasting bake-off includes.

    Exactness: OLS runs on position indexes 1..n (sum of t and t^2
    are closed-form integers); slope/intercept are one shared chain;
    the theta=2 elements and the alpha = 1/2 SES fold are the
    ``timeseries_ses_level`` parity pattern (identical IEEE sequence
    in Spark ``aggregate`` and DuckDB ``list_reduce``). Scale: arrays
    bounded by the calendar day count per type.
    """
    tune(spark)
    arr = _daily_count_arrays(
        spark, sf_dir, "long", F.count(F.lit(1)).cast("long").alias("n")
    ).filter(F.col("n") >= 3)
    n = F.col("n")
    st = (n * (n + 1) / 2).cast("long")
    stt = (n * (n + 1) * (2 * n + 1) / 6).cast("long")
    sx = F.aggregate(
        F.col("xs"), F.lit(0).cast("long"), lambda a_, v: a_ + v
    )
    stx = F.aggregate(
        F.sequence(F.lit(1), n.cast("int")),
        F.lit(0).cast("long"),
        lambda a_, i: a_ + i * F.element_at(F.col("xs"), i),
    )
    sums = arr.select("event_type", "xs", "n", st.alias("st"),
                      stt.alias("stt"), sx.alias("sx"), stx.alias("stx"))
    b = (n * F.col("stx") - F.col("st") * F.col("sx")).cast("double") / (
        n * F.col("stt") - F.col("st") * F.col("st")
    ).cast("double")
    a = (
        F.col("sx").cast("double") - b * F.col("st").cast("double")
    ) / n.cast("double")
    ols = sums.select("event_type", "xs", "n", b.alias("b"), a.alias("a"))
    z = F.transform(
        F.sequence(F.lit(1), F.col("n").cast("int")),
        lambda i: F.lit(2.0) * F.element_at(F.col("xs"), i)
        - (F.col("a") + F.col("b") * i.cast("double")),
    )
    theta = ols.select("event_type", "n", "a", "b", z.alias("z"))
    ses_z = F.aggregate(
        F.slice(F.col("z"), 2, 1_000_000),
        F.element_at(F.col("z"), 1),
        lambda acc, v: acc * F.lit(0.5) + v * F.lit(0.5),
    )
    folded = theta.select("event_type", "n", "a", "b", ses_z.alias("ses_z"))
    return folded.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("a").alias("trend_intercept"),
        F.col("b").alias("trend_slope"),
        F.col("ses_z").alias("ses_theta2"),
        (
            (
                F.col("ses_z")
                + (
                    F.col("a")
                    + F.col("b") * (F.col("n").cast("double") + F.lit(7.0))
                )
            )
            / F.lit(2.0)
        ).alias("forecast_7d"),
    )
