"""Second event-analytics wave: segment migration, arrival-process
diagnostics, audience overlap, heavy-tail fitting, uniformity testing,
and session quality.

Doctrine as everywhere: exact integer/decimal reductions, quantized
logs for transcendentals (floor(log2(int)*1e6), or the fully exact
``length(bin(x))`` when only the binary magnitude is needed), shared
IEEE tails, user-partitioned (never global) windows.

Reference parity note: the reference ETL (src/main.ts) has no
analytics operators; Layer-B north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dec
from ..registry import query
from ..session import tune
from ..sources.tables import table
from .events import _SQL_SIGNUP_PURCHASE_DT, _signup_purchase_durations

_CENTS = "CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)"
_DAY = "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))"

# events span 30 days from 2024-01-01; split the user history there
_MID_DAY = "DATE '2024-01-16'"

_RFM_FREQ = 8  # events per half for the "high-frequency" tier
_RFM_CENTS = 70_000  # half-spend cents for the "big-spender" tier


@query(
    "events_rfm_migration_matrix",
    oracle=f"""
    WITH halves AS (
      SELECT user_id,
             CASE WHEN CAST(ts AS DATE) < {_MID_DAY} THEN 1 ELSE 2 END AS h,
             CAST(COUNT(*) AS BIGINT) AS f,
             SUM({_CENTS}) AS m
      FROM events WHERE user_id IS NOT NULL
      GROUP BY 1, 2),
    seg AS (
      SELECT user_id, h,
             CASE WHEN f >= {_RFM_FREQ} THEN 'hi' ELSE 'lo' END || '-' ||
             CASE WHEN m >= {_RFM_CENTS} THEN 'big' ELSE 'small' END AS s
      FROM halves),
    users AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL)
    SELECT COALESCE(a.s, 'absent') AS segment_h1,
           COALESCE(b.s, 'absent') AS segment_h2,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM users u
    LEFT JOIN (SELECT user_id, s FROM seg WHERE h = 1) a USING (user_id)
    LEFT JOIN (SELECT user_id, s FROM seg WHERE h = 2) b USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_rfm_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-migration matrix: each user's frequency x monetary tier
    in the first vs second half of the window (with 'absent' for
    churn/new) — the movement table a growth team reads before any
    single-period RFM snapshot (customer_rfm_segments is the
    point-in-time sibling).

    Tiers come from exact integer thresholds (no percentile in the
    rule, so the segment is stable under resampling); the matrix is
    two user-keyed left joins and one grouped count — co-partitioned
    shuffles on user_id throughout.
    """
    tune(spark)
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    cents = F.round(dec("value", 10) * 100).cast("long")
    halves = e.groupBy(
        "user_id",
        F.when(F.to_date("ts") < F.lit("2024-01-16").cast("date"), 1)
        .otherwise(2)
        .alias("h"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("f"),
        F.sum(cents).alias("m"),
    )
    seg = halves.select(
        "user_id",
        "h",
        F.concat(
            F.when(F.col("f") >= _RFM_FREQ, "hi").otherwise("lo"),
            F.lit("-"),
            F.when(F.col("m") >= _RFM_CENTS, "big").otherwise("small"),
        ).alias("s"),
    )
    users = e.select("user_id").distinct()
    a = seg.filter(F.col("h") == 1).select("user_id", F.col("s").alias("s1"))
    b = seg.filter(F.col("h") == 2).select("user_id", F.col("s").alias("s2"))
    return (
        users.join(a, "user_id", "left")
        .join(b, "user_id", "left")
        .groupBy(
            F.coalesce("s1", F.lit("absent")).alias("segment_h1"),
            F.coalesce("s2", F.lit("absent")).alias("segment_h2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@query(
    "events_interarrival_profile",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events WHERE user_id IS NOT NULL),
    gaps AS (
      SELECT CAST(date_diff('second', ts, nxt) AS BIGINT) AS gap_s
      FROM ordered WHERE nxt IS NOT NULL AND date_diff('second', ts, nxt) > 0)
    SELECT CAST(length(bin(gap_s)) AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
           CAST(SUM(gap_s) AS DOUBLE) / COUNT(*) AS mean_gap_s
    FROM gaps GROUP BY 1
    """,
)
def events_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile: per-user consecutive event gaps,
    bucketed by binary magnitude — the arrival-process fingerprint
    (exponential arrivals give a geometric bucket decay; a bump at
    minutes-scale means sessions, at day-scale means habits).

    The log2 bucket is ``length(bin(gap))`` — the EXACT binary length
    of the integer gap, no float log at all (both engines render
    identical binary strings). Gaps come from a user-partitioned lead
    window (bounded per-partition state); the histogram is one grouped
    aggregate keyed by ~40 buckets.
    """
    tune(spark)
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select(
            "user_id",
            "ts",
            F.lead("ts").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .select(
            (
                F.unix_timestamp("nxt") - F.unix_timestamp("ts")
            ).alias("gap_s")
        )
        .filter(F.col("gap_s") > 0)
    )
    return gaps.groupBy(
        F.length(F.bin(F.col("gap_s"))).cast("long").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.min("gap_s").cast("long").alias("min_gap_s"),
        F.max("gap_s").cast("long").alias("max_gap_s"),
        (F.sum("gap_s").cast("double") / F.count(F.lit(1))).alias(
            "mean_gap_s"
        ),
    )


@query(
    "events_type_audience_jaccard",
    oracle="""
    WITH tu AS (
      SELECT DISTINCT event_type, user_id
      FROM events WHERE user_id IS NOT NULL),
    sizes AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM tu GROUP BY 1),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT i.type_a, i.type_b, sa.n AS n_users_a, sb.n AS n_users_b,
           i.n_common,
           CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
)
def events_type_audience_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audience overlap between event types: Jaccard of the user sets
    for every type pair — which behaviors share an audience and which
    segment it. The co-occurrence readout behind "users who X also Y".

    The pair counts come from a self-join of the DISTINCT (type,user)
    frame on user_id — shuffle keyed by user, pair space bounded by
    the type-count square per user (types are a small vocabulary).
    Jaccard is one exact-integer ratio per pair.
    """
    tune(spark)
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    tu = e.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_users_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_users_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_users_a",
            "n_users_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_users_a") + F.col("n_users_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


@query(
    "events_user_powerlaw_alpha",
    oracle="""
    WITH k AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k
      FROM events WHERE user_id IS NOT NULL GROUP BY 1),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(log2(CAST(k AS DOUBLE)) * 1000000)
                           AS BIGINT)) AS BIGINT) AS silog,
             CAST(MAX(k) AS BIGINT) AS k_max
      FROM k WHERE k >= 1)
    SELECT n AS n_users, k_max,
           1 + CAST(n AS DOUBLE) * 1000000
               / (0.6931471805599453 * CAST(silog AS DOUBLE)) AS alpha_mle
    FROM s
    """,
)
def events_user_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tail exponent of per-user activity: the continuous-MLE
    power-law alpha = 1 + n / sum(ln k_i) (x_min = 1) over user event
    counts — the one-number answer to "how concentrated is usage"
    that pairs with the degree-distribution and Pareto-curve views.

    The log sum rides the quantize-the-model doctrine: each user's
    ln k is floor(log2(k)*1e6) int64 (integer inputs only), summed
    exactly; alpha is one shared IEEE expression converting the
    fixed-point log2 sum through ln 2.
    """
    tune(spark)
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    k = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("k"))
    s = k.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.floor(F.log2(F.col("k").cast("double")) * F.lit(1e6)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("silog"),
        F.max("k").cast("long").alias("k_max"),
    )
    return s.select(
        F.col("n").alias("n_users"),
        "k_max",
        (
            1
            + F.col("n").cast("double")
            * F.lit(1_000_000)
            / (F.lit(0.6931471805599453) * F.col("silog"))
        ).alias("alpha_mle"),
    )


@query(
    "events_hour_dow_uniformity",
    oracle="""
    WITH cell AS (
      SELECT dayofweek(ts) AS dow, hour(ts) AS hod,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * c) AS BIGINT) AS sc2,
             CAST(MAX(c) AS BIGINT) AS c_max,
             CAST(MIN(c) AS BIGINT) AS c_min
      FROM cell)
    SELECT n AS n_events, n_cells, c_min, c_max,
           CAST(n_cells * sc2 - CAST(n AS HUGEINT) * n AS DOUBLE) / n
             AS chi2_uniform,
           CAST(n_cells - 1 AS BIGINT) AS dof
    FROM s
    """,
)
def events_hour_dow_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square uniformity test over the hour-of-day x day-of-week
    grid: is traffic flat across the 168 weekly cells, or does it
    carry real seasonality worth modeling? (The seasonal-profile query
    shows the shape; this one says whether the shape is signal.)

    The whole statistic collapses to exact integers:
    chi2 = (n_cells * sum(c^2) - N^2) / N — one division of a
    DECIMAL(38,0)/HUGEINT expression. One grouped pass over a
    168-cell model frame.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    cell = e.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hod")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    s = cell.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sc2"),
        F.max("c").cast("long").alias("c_max"),
        F.min("c").cast("long").alias("c_min"),
    )
    return s.select(
        F.col("n").alias("n_events"),
        "n_cells",
        "c_min",
        "c_max",
        (
            (
                F.col("n_cells") * F.col("sc2")
                - F.col("n").cast("decimal(38,0)") * F.col("n")
            ).cast("double")
            / F.col("n")
        ).alias("chi2_uniform"),
        (F.col("n_cells") - 1).alias("dof"),
    )


_SESSION_GAP_MIN = 30


@query(
    "events_session_bounce_by_entry",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events WHERE user_id IS NOT NULL),
    marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN prev IS NULL
                  OR date_diff('second', prev, ts) > {_SESSION_GAP_MIN * 60}
                  THEN 1 ELSE 0 END AS is_start
      FROM ordered),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked),
    per AS (
      SELECT user_id, sid,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             FIRST(event_type ORDER BY ts, event_id) AS entry_type
      FROM sess GROUP BY 1, 2)
    SELECT entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT)
             AS n_bounces,
           CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS DOUBLE)
             / COUNT(*) AS bounce_rate,
           CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_session_events
    FROM per GROUP BY 1
    """,
)
def events_session_bounce_by_entry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounce rate by session entry type: 30-minute-gap sessions, each
    attributed to its FIRST event type; a bounce is a single-event
    session — the landing-quality readout per entry behavior.

    Sessionization is the standard user-partitioned gap-flag cumsum
    (bounded per-user window state); the entry event is a min-struct
    aggregate, so no second window pass. Rates are exact-count
    ratios.
    """
    tune(spark)
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > _SESSION_GAP_MIN * 60
            ),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sess = marked.withColumn(
        "sid",
        F.sum("is_start").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min(
            F.struct(
                F.col("ts").alias("ts"),
                F.col("event_id").alias("event_id"),
                F.col("event_type").alias("et"),
            )
        )
        .getField("et")
        .alias("entry_type"),
    )
    return per.groupBy("entry_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.count(F.when(F.col("n_events") == 1, 1))
        .cast("long")
        .alias("n_bounces"),
        (
            F.count(F.when(F.col("n_events") == 1, 1)).cast("double")
            / F.count(F.lit(1))
        ).alias("bounce_rate"),
        (F.sum("n_events").cast("double") / F.count(F.lit(1))).alias(
            "avg_session_events"
        ),
    )


_NA_FP = 10**12


@query(
    "events_nelson_aalen",
    oracle=_SQL_SIGNUP_PURCHASE_DT
    + f""",
    risk AS (
      SELECT a.dur, a.d, CAST(SUM(b.c) AS BIGINT) AS n_at_risk
      FROM dt a JOIN dt b ON b.dur >= a.dur
      WHERE a.d > 0 GROUP BY a.dur, a.d),
    f AS (
      SELECT dur, d, n_at_risk,
             (d * {_NA_FP}) // n_at_risk AS h_fp
      FROM risk)
    SELECT a.dur AS duration_days, a.n_at_risk, a.d AS n_events,
           CAST(a.h_fp AS DOUBLE) / {_NA_FP} AS hazard_increment,
           CAST(SUM(b.h_fp) AS DOUBLE) / {_NA_FP} AS cumulative_hazard
    FROM f a JOIN f b ON b.dur <= a.dur
    GROUP BY a.dur, a.n_at_risk, a.d, a.h_fp
    """,
)
def events_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard for signup -> first purchase
    (right-censored at the horizon): H(t) = sum of d_i/n_i over event
    durations <= t — the additive sibling of the Kaplan-Meier curve
    (events_kaplan_meier) that variance estimates and hazard-ratio
    eyeballing prefer.

    Each hazard increment is an exact INTEGER floor division
    (d * 1e12 div n), so the cumulative sum is exact int64 arithmetic
    and the curve hash-matches bit-for-bit. Risk sets and the
    cumulative sum ride bounded self-joins over the DISTINCT duration
    table (observation-window days), exactly the KM scale shape.
    """
    tune(spark)
    dt = _signup_purchase_durations(spark, sf_dir)
    b = dt.select(F.col("dur").alias("dur2"), F.col("c").alias("c2"))
    risk = (
        dt.filter(F.col("d") > 0)
        .join(F.broadcast(b), F.col("dur2") >= F.col("dur"))
        .groupBy("dur", "d")
        .agg(F.sum("c2").cast("long").alias("n_at_risk"))
    )
    f = risk.select(
        "dur",
        "d",
        "n_at_risk",
        F.expr(f"(d * {_NA_FP}) div n_at_risk").alias("h_fp"),
    )
    fb = f.select(F.col("dur").alias("durb"), F.col("h_fp").alias("h_fpb"))
    return (
        f.join(F.broadcast(fb), F.col("durb") <= F.col("dur"))
        .groupBy("dur", "n_at_risk", "d", "h_fp")
        .agg(F.sum("h_fpb").cast("long").alias("cum_fp"))
        .select(
            F.col("dur").alias("duration_days"),
            "n_at_risk",
            F.col("d").alias("n_events"),
            (F.col("h_fp").cast("double") / F.lit(_NA_FP)).alias(
                "hazard_increment"
            ),
            (F.col("cum_fp").cast("double") / F.lit(_NA_FP)).alias(
                "cumulative_hazard"
            ),
        )
    )


@query(
    "events_gap_lognormal_fit",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events WHERE user_id IS NOT NULL),
    gaps AS (
      SELECT CAST(FLOOR(log2(CAST(date_diff('second', ts, nxt) AS DOUBLE))
                        * 1000000) AS BIGINT) AS l
      FROM ordered
      WHERE nxt IS NOT NULL AND date_diff('second', ts, nxt) > 0),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(l) AS BIGINT) AS sl,
             SUM(CAST(l AS HUGEINT) * l) AS sll
      FROM gaps)
    SELECT n AS n_gaps,
           CAST(sl AS DOUBLE) / n / 1000000 * 0.6931471805599453 AS mu_ln,
           (CAST(sll AS DOUBLE) - CAST(sl AS DOUBLE) * sl / n) / n
             / 1000000.0 / 1000000.0
             * 0.6931471805599453 * 0.6931471805599453 AS sigma2_ln
    FROM s
    """,
)
def events_gap_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lognormal fit of per-user inter-event gaps by the method of
    moments in LOG space: mu = mean(ln gap), sigma^2 = var(ln gap) —
    the two numbers behind "are arrivals heavy-tailed bursts or a
    steady hum", complementing the binary-magnitude histogram
    (events_interarrival_profile).

    Each ln rides the quantized integer-log doctrine
    (floor(log2(seconds)*1e6) — integer inputs only); moment sums are
    exact int64/DECIMAL(38,0); mu and sigma^2 are shared IEEE tails
    through ln2.
    """
    tune(spark)
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select("user_id", "ts", F.lead("ts").over(w).alias("nxt"))
        .filter(F.col("nxt").isNotNull())
        .select(
            (F.unix_timestamp("nxt") - F.unix_timestamp("ts")).alias("gap_s")
        )
        .filter(F.col("gap_s") > 0)
        .select(
            F.floor(F.log2(F.col("gap_s").cast("double")) * F.lit(1e6))
            .cast("long")
            .alias("l")
        )
    )
    s = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("l").cast("long").alias("sl"),
        F.sum(F.col("l").cast("decimal(38,0)") * F.col("l")).alias("sll"),
    )
    ln2 = F.lit(0.6931471805599453)
    return s.select(
        F.col("n").alias("n_gaps"),
        (
            F.col("sl").cast("double") / F.col("n") / F.lit(1_000_000) * ln2
        ).alias("mu_ln"),
        (
            (
                F.col("sll").cast("double")
                - F.col("sl").cast("double") * F.col("sl") / F.col("n")
            )
            / F.col("n")
            / F.lit(1_000_000.0)
            / F.lit(1_000_000.0)
            * ln2
            * ln2
        ).alias("sigma2_ln"),
    )


@query(
    "events_growth_accounting",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
      FROM events WHERE user_id IS NOT NULL),
    first_d AS (
      SELECT user_id, MIN(d) AS d0 FROM act GROUP BY 1),
    today AS (
      SELECT act.user_id, act.d, f.d0,
             CASE WHEN act.d = f.d0 THEN 1 ELSE 0 END AS is_new,
             CASE WHEN y.user_id IS NOT NULL THEN 1 ELSE 0 END
               AS was_active_yday
      FROM act
      JOIN first_d f ON f.user_id = act.user_id
      LEFT JOIN act y ON y.user_id = act.user_id AND y.d = act.d - 1),
    churn AS (
      SELECT a.d + 1 AS d, CAST(COUNT(*) AS BIGINT) AS n_churned
      FROM act a
      LEFT JOIN act t ON t.user_id = a.user_id AND t.d = a.d + 1
      WHERE t.user_id IS NULL
      GROUP BY 1),
    daily AS (
      SELECT d,
             CAST(COUNT(*) AS BIGINT) AS dau,
             CAST(SUM(is_new) AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN is_new = 0 AND was_active_yday = 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN is_new = 0 AND was_active_yday = 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      FROM today GROUP BY 1)
    SELECT daily.d AS day_idx, daily.dau, daily.n_new, daily.n_retained,
           daily.n_resurrected,
           CAST(COALESCE(churn.n_churned, 0) AS BIGINT) AS n_churned
    FROM daily LEFT JOIN churn ON churn.d = daily.d
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: DAU decomposed into new (first day),
    retained (also active yesterday), resurrected (returning after a
    gap), plus yesterday's actives who churned out today — the
    identity DAU(t) = new + retained + resurrected and
    DAU(t-1) = retained + churned that growth teams reconcile every
    metric against (the decomposition the plain DAU/WAU counters
    can't explain).

    All four classes come from keyed self-joins of the distinct
    (user, day) activity frame on (user, day-1) and a per-user
    first-day join — co-partitioned on user_id, exact counts, no
    window at all.
    """
    tune(spark)
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    act = e.select(
        "user_id",
        F.expr("datediff(to_date(ts), date'1970-01-01')").alias("d"),
    ).distinct()
    first_d = act.groupBy("user_id").agg(F.min("d").alias("d0"))
    y = act.select(F.col("user_id").alias("yu"), F.col("d").alias("yd"))
    today = (
        act.join(first_d, "user_id")
        .join(
            y,
            (F.col("yu") == F.col("user_id")) & (F.col("yd") == F.col("d") - 1),
            "left",
        )
        .select(
            "d",
            F.when(F.col("d") == F.col("d0"), 1).otherwise(0).alias("is_new"),
            F.when(F.col("yu").isNotNull(), 1).otherwise(0).alias("was_y"),
        )
    )
    t = act.select(F.col("user_id").alias("tu"), F.col("d").alias("td"))
    churn = (
        act.join(
            t,
            (F.col("tu") == F.col("user_id")) & (F.col("td") == F.col("d") + 1),
            "left",
        )
        .filter(F.col("tu").isNull())
        .groupBy((F.col("d") + 1).alias("cd"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_churned"))
    )
    daily = today.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("dau"),
        F.sum("is_new").cast("long").alias("n_new"),
        F.sum(
            F.when((F.col("is_new") == 0) & (F.col("was_y") == 1), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when((F.col("is_new") == 0) & (F.col("was_y") == 0), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_resurrected"),
    )
    return daily.join(churn, daily["d"] == churn["cd"], "left").select(
        F.col("d").cast("long").alias("day_idx"),
        "dau",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
    )


@query(
    "events_sequence_match",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY user_id)
    SELECT user_id, seq,
           CAST(LENGTH(seq) AS BIGINT) AS n_events,
           regexp_matches(seq, 'v.*c.*p') AS funnel_vcp,
           CAST(LENGTH(seq) - LENGTH(REPLACE(seq, 'p', '')) AS BIGINT)
             AS n_purchases
    FROM seqs
    """,
)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceMatch`` analog: per user, compress the
    event history to a letter string (the five event types have
    distinct initials) in (ts, event_id) order and pattern-match the
    view -> click -> purchase funnel as a regex — the arbitrary-gap
    sequence predicate windowed funnels can't express.

    Determinism: the struct sort is total (event_id breaks ts ties).
    Scale: one groupBy with per-user partitions bounded by a user's
    history; the regex runs on the compressed letter string (bytes
    per user, not rows), all JVM-side."""
    tune(spark)
    e = table(spark, sf_dir, "events")
    s = e.select(
        "user_id",
        F.struct(
            F.col("ts"), F.col("event_id"),
            F.substring("event_type", 1, 1).alias("c"),
        ).alias("s"),
    )
    seqs = s.groupBy("user_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("s")), lambda x: x["c"]), ""
        ).alias("seq")
    )
    return seqs.select(
        "user_id",
        "seq",
        F.length("seq").cast("long").alias("n_events"),
        F.col("seq").rlike("v.*c.*p").alias("funnel_vcp"),
        (F.length("seq") - F.length(F.replace(F.col("seq"), F.lit("p"), F.lit(""))))
        .cast("long")
        .alias("n_purchases"),
    )


_VEL_1H = 3  # trailing-1h event-count alert threshold
_VEL_24H = 10  # trailing-24h threshold


@query(
    "events_velocity_flags",
    oracle=f"""
    WITH b AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                                  AND CURRENT ROW) AS c1,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                            RANGE BETWEEN INTERVAL 24 HOUR PRECEDING
                                  AND CURRENT ROW) AS c24
      FROM events)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(c1) AS BIGINT) AS burst_1h,
           CAST(MAX(c24) AS BIGINT) AS burst_24h,
           MAX(c1) >= {_VEL_1H} OR MAX(c24) >= {_VEL_24H} AS velocity_flag
    FROM b GROUP BY 1
    """,
)
def events_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity rules: each user's peak trailing-1h and trailing-24h
    event counts, flagged against fixed rate thresholds — the
    fraud/abuse screen (card-testing bursts, scraper loops) every
    event pipeline runs before modeling, and the rule-based sibling of
    ``events_burst_rate_violations`` (which tests statistical
    over-rate, not absolute velocity).

    Both windows are RANGE frames PARTITIONED BY user (ordered on
    epoch microseconds — frame membership identical to the oracle's
    INTERVAL frame, peers included), so the plan scales with users and
    never funnels through a global window; the rollup is one
    map-side-combinable groupBy.
    """
    tune(spark)
    from ..functions.temporal import epoch_us

    e = table(spark, sf_dir, "events")
    w1 = (
        Window.partitionBy("user_id")
        .orderBy(epoch_us("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    w24 = (
        Window.partitionBy("user_id")
        .orderBy(epoch_us("ts"))
        .rangeBetween(-86_400_000_000, Window.currentRow)
    )
    b = e.select(
        "user_id",
        F.count(F.lit(1)).over(w1).alias("c1"),
        F.count(F.lit(1)).over(w24).alias("c24"),
    )
    return b.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("c1").cast("long").alias("burst_1h"),
        F.max("c24").cast("long").alias("burst_24h"),
        (
            (F.max("c1") >= _VEL_1H) | (F.max("c24") >= _VEL_24H)
        ).alias("velocity_flag"),
    )


@query(
    "graph_reciprocity_density",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events),
    trans AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE dst IS NOT NULL AND dst <> src
      GROUP BY 1, 2),
    stats AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(DISTINCT src) AS BIGINT) AS v
      FROM trans),
    kept AS (
      SELECT src, dst FROM trans, stats
      WHERE n * v * (v - 1) > total),
    recip AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS r
      FROM kept a JOIN kept b ON b.src = a.dst AND b.dst = a.src)
    SELECT v AS n_nodes, v * (v - 1) AS n_possible,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS n_edges,
           CAST((SELECT COUNT(*) FROM kept) AS DOUBLE) / (v * (v - 1))
             AS density,
           (SELECT r FROM recip) AS n_reciprocal,
           CAST((SELECT r FROM recip) AS DOUBLE)
             / (SELECT COUNT(*) FROM kept) AS reciprocity
    FROM stats
    """,
)
def graph_reciprocity_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-graph shape metrics over the event-type transition
    graph: keep only ABOVE-UNIFORM-SHARE edges (count * V(V-1) >
    total — a scale-invariant integer test, so the edge set is the
    same at every SF) and report density and reciprocity (share of
    kept edges whose reverse is also kept) — the two numbers that say
    whether the journey graph is a broadcast tree (low reciprocity)
    or a ping-pong loop structure (high).

    The transition scan is the ``events_markov_transitions`` shape
    (per-user LEAD window, then a map-side-combinable groupBy onto the
    tiny type x type frame); everything after operates on <= V^2 rows
    via broadcast joins — no global window, no cartesian.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    trans = (
        seq.filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    stats = trans.agg(
        F.sum("n").cast("long").alias("total"),
        F.count_distinct("src").cast("long").alias("v"),
    )
    kept = (
        trans.crossJoin(F.broadcast(stats))
        .filter(F.col("n") * F.col("v") * (F.col("v") - 1) > F.col("total"))
        .select("src", "dst")
    )
    ne = kept.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    ka = kept.select(F.col("src").alias("sa"), F.col("dst").alias("da"))
    kb = kept.select(F.col("src").alias("sb"), F.col("dst").alias("db"))
    recip = ka.join(
        F.broadcast(kb), (F.col("sb") == F.col("da")) & (F.col("db") == F.col("sa"))
    ).agg(F.count(F.lit(1)).cast("long").alias("n_reciprocal"))
    return (
        stats.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(recip))
        .select(
            F.col("v").alias("n_nodes"),
            (F.col("v") * (F.col("v") - 1)).alias("n_possible"),
            "n_edges",
            (
                F.col("n_edges").cast("double") / (F.col("v") * (F.col("v") - 1))
            ).alias("density"),
            "n_reciprocal",
            (F.col("n_reciprocal").cast("double") / F.col("n_edges")).alias(
                "reciprocity"
            ),
        )
    )


@query(
    "events_session_cooccurrence_lift",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, event_type,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    pres AS (SELECT DISTINCT user_id, sid, event_type FROM sess),
    tot AS (SELECT CAST(COUNT(DISTINCT (user_id, sid)) AS BIGINT) AS s
            FROM pres),
    singles AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
                FROM pres GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM pres a JOIN pres b
        ON b.user_id = a.user_id AND b.sid = a.sid
           AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b, n_ab, sa.n AS n_a, sb.n AS n_b,
           CAST(n_ab AS DOUBLE) * s / sa.n / sb.n AS lift
    FROM pairs JOIN singles sa ON sa.event_type = type_a
               JOIN singles sb ON sb.event_type = type_b
               CROSS JOIN tot
    """,
)
def events_session_cooccurrence_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-level co-occurrence lift: for each unordered pair of
    event types, how much more often they appear in the SAME session
    (30-min inactivity boundary, the ``events_sessionize`` algebra)
    than independence predicts — the association-rule view at session
    granularity, complementing ``events_markov_transitions`` (adjacent
    order) and ``events_type_audience_jaccard`` (user lifetime).

    The pair join is keyed on the session id and each session holds at
    most |event types| distinct rows after the presence-distinct, so
    the fan-out is bounded per key at any scale — never a cross join;
    counts are exact int64 and lift is one fixed double chain.
    """
    tune(spark)
    from ..functions.temporal import epoch_us

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch_us("ts") - epoch_us(F.lag("ts").over(w))
    flagged = e.select(
        "user_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull() | (gap > 1_800_000_000), 1
        )
        .otherwise(0)
        .alias("new_sess"),
        "ts",
        "event_id",
    )
    sess = flagged.select(
        "user_id",
        "event_type",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    pres = sess.select("user_id", "sid", "event_type").distinct()
    tot = pres.agg(
        F.count_distinct("user_id", "sid").cast("long").alias("s")
    )
    singles = pres.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = pres.select(
        F.col("user_id").alias("ua"), F.col("sid").alias("sa"),
        F.col("event_type").alias("type_a"),
    )
    b = pres.select(
        F.col("user_id").alias("ub"), F.col("sid").alias("sb"),
        F.col("event_type").alias("type_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("ub") == F.col("ua"))
            & (F.col("sb") == F.col("sa"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    na = singles.select(
        F.col("event_type").alias("ta"), F.col("n").alias("n_a")
    )
    nb = singles.select(
        F.col("event_type").alias("tb"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), F.col("ta") == F.col("type_a"))
        .join(F.broadcast(nb), F.col("tb") == F.col("type_b"))
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                F.col("n_ab").cast("double") * F.col("s")
                / F.col("n_a")
                / F.col("n_b")
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Inter-order regularity (subscription-likeness) per customer
# ---------------------------------------------------------------------------

_GAP_MIN_ORDERS = 4  # >= 3 gaps so the CV has a df


@query(
    "customer_order_gap_regularity",
    oracle=f"""
    WITH seq AS (
      SELECT o_custkey AS ck,
             date_diff('day', DATE '1970-01-01', o_orderdate) AS d,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders),
    gaps AS (
      SELECT a.ck, b.d - a.d AS g
      FROM seq a JOIN seq b ON b.ck = a.ck AND b.rn = a.rn + 1),
    s AS (
      SELECT ck, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(g) AS BIGINT) AS s1,
             CAST(SUM(g * g) AS BIGINT) AS s2
      FROM gaps GROUP BY 1
      HAVING COUNT(*) >= {_GAP_MIN_ORDERS - 1} AND SUM(g) > 0)
    SELECT ck AS custkey, n AS n_gaps,
           CAST(s1 AS DOUBLE) / n AS mean_gap_days,
           sqrt(GREATEST(CAST(n * s2 - s1 * s1 AS DOUBLE)
                         / (CAST(n AS DOUBLE) * (n - 1)), 0.0))
             / (CAST(s1 AS DOUBLE) / n) AS gap_cv,
           4 * n * (n * s2 - s1 * s1) <= (n - 1) * s1 * s1 AS regular
    FROM s
    """,
)
def customer_order_gap_regularity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inter-order gap regularity per customer: mean gap, gap CV, and
    a subscription-likeness flag (CV <= 0.5) — the cadence screen
    that separates replenishment-like buyers (low CV: target with
    auto-reorder) from bursty ones (high CV: target with win-back).
    Complements ``orders_repeat_purchase_latency`` (typical gap
    LENGTH; this reads gap STABILITY).

    Exactness: gaps are integer days from consecutive order ranks
    (window partitioned BY CUSTOMER — bounded partitions, never
    global); CV is a power-sum chain, and the regularity flag is the
    exact INTEGER inequality 4n(nS2 - S1^2) <= (n-1)S1^2 (the
    ``supply_abc_xyz_matrix`` XYZ doctrine), so the boolean can never
    flap on a float boundary.
    """
    tune(spark)
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
        ).alias("d"),
        F.row_number().over(w).alias("rn"),
    )
    b = seq.select(
        F.col("ck").alias("ck2"), F.col("d").alias("d2"), F.col("rn").alias("rn2")
    )
    gaps = seq.join(
        b, (F.col("ck2") == F.col("ck")) & (F.col("rn2") == F.col("rn") + 1)
    ).select("ck", (F.col("d2") - F.col("d")).alias("g"))
    s = (
        gaps.groupBy("ck")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("g").cast("long").alias("s1"),
            F.sum(F.col("g") * F.col("g")).cast("long").alias("s2"),
        )
        .filter((F.col("n") >= _GAP_MIN_ORDERS - 1) & (F.col("s1") > 0))
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.greatest(
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1)),
        F.lit(0.0),
    )
    return s.select(
        F.col("ck").alias("custkey"),
        F.col("n").alias("n_gaps"),
        mean.alias("mean_gap_days"),
        (F.sqrt(var) / mean).alias("gap_cv"),
        (
            4
            * F.col("n")
            * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
            <= (F.col("n") - 1) * F.col("s1") * F.col("s1")
        ).alias("regular"),
    )
