"""Event-stream analytics over the ``events`` table.

This is the Layer-A-facing query surface: the ``events`` table is the
batch image of what the reference ingests from Redis (dynamic JSON in
``props``, an ``event_type`` routing key — reference: src/main.ts:98-113,
README.md:35-37). Queries here exercise JSON extraction, event-time
windowing, sessionization, and pivoting — all with exact-decimal value
aggregates so the DuckDB oracle hash-matches.

Scale: every query groups/windows on (event_type | user_id | time
bucket), which partitions cleanly; no query collects or loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.lineage import model_checkpoint
from ..functions.numeric import dec
from ..functions.temporal import epoch_us
from ..registry import query
from ..session import tune
from ..sources.tables import table
from ..streaming.windows import windowed_event_counts

_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


@query(
    "events_flagship_daily",
    oracle="""
    SELECT event_type,
           CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
    """,
)
def events_flagship_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-type daily event rollup (the ``entry()`` query).

    The reference routes each event to a table named by ``event_type``
    (src/main.ts:271) and can only *count* what it ingests; this is the
    analytical rollup a user of that pipeline runs downstream.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    cnt = F.count(F.lit(1))
    return (
        e.groupBy("event_type", F.to_date("ts").cast("timestamp").alias("event_day"))
        .agg(
            cnt.alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(dec("value", 12)).cast("double").alias("total_value"),
            (F.sum(dec("value", 12)).cast("double") / cnt).alias("avg_value"),
        )
    )


@query(
    "events_hourly_windows",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (batch image of a streaming windowed agg).

    The query is ``streaming.windows.windowed_event_counts``, the
    function a ``readStream`` variant runs after its watermark (SURVEY
    §2.9 Layer-B consequence), without the window end.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    return windowed_event_counts(e).select(
        "window_start", "event_type", "n_events", "total_value"
    )


@query(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min idle gap) via lag + prefix sum.

    Microsecond-exact gap comparison (``unix_micros`` <-> ``epoch_us``)
    so both engines split sessions identically.
    """
    tune(spark)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = table(spark, sf_dir, "events")
    flagged = e.select(
        "user_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (epoch_us("ts") - epoch_us(F.lag("ts").over(w)) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_sess").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_pivot_type_counts",
    oracle="""
    SELECT user_id,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
    FROM events GROUP BY user_id
    """,
)
def events_pivot_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (conditional aggregation) of event counts per user.

    Written as explicit conditional counts rather than ``.pivot()`` so
    the output column set is static — required for a deterministic
    schema at any scale (``.pivot()`` without values scans twice).
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in _EVENT_TYPES
    ]
    # column order must match the oracle: click, view, purchase, signup, error
    return e.groupBy("user_id").agg(*aggs).select(
        "user_id", "n_click", "n_view", "n_purchase", "n_signup", "n_error"
    )


@query(
    "ingest_normalize_events",
    oracle="""
    SELECT event_id, event_type, user_id, ts,
           CAST(value AS DOUBLE) AS value,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def ingest_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer-A normalize applied to the events table (deterministic columns).

    Mirrors the reference's per-row rewrite (P1-P8, SURVEY §2.2): the
    dynamic JSON payload (``props``) becomes typed columns. The
    engine-stamped columns (``received_at``/``sent_at``/``message_id``,
    reference: clickhouse-batch-client.class.ts:280-288) are excluded
    here because they are wall-clock/uuid nondeterministic — the full
    pipeline is exercised in tests/test_ingest.py instead.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "event_type",
        "user_id",
        "ts",
        F.col("value").cast("double").alias("value"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@query(
    "events_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``session_window`` (30-min gap), verified against
    a from-first-principles oracle (lag -> new-session flag -> prefix
    sum -> per-session bounds). Spark's session end is exclusive
    (last_ts + gap; an event landing exactly on the boundary opens a
    new session), hence the ``>=`` in the oracle's gap test.

    This is the batch image of the streaming form — the same
    groupBy(session_window(...)) works on a withWatermark stream,
    where state eviction finalizes sessions older than the watermark.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "events_sliding_windows",
    oracle="""
    WITH w AS (
      SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v,
             CAST(to_timestamp((epoch_us(ts) // 1800000000 - k.k) * 1800)
                  AS TIMESTAMP) AS window_start
      FROM events, UNNEST(range(0, 2)) AS k(k)
      WHERE epoch_us(ts) < ((epoch_us(ts) // 1800000000 - k.k) * 1800000000
                            + 3600000000)
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(v) AS DOUBLE) AS total_value
    FROM w GROUP BY window_start, event_type
    """,
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 hour long, 30-minute slide): each
    event lands in two overlapping windows. The oracle derives window
    membership from first principles (epoch floor-div to the slide,
    back-shifted k slides, bounded by window length) — pinning Spark's
    epoch-aligned window start semantics. The query is
    ``streaming.windows.windowed_event_counts``, which a stream runs
    after withWatermark.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    return windowed_event_counts(e, "1 hour", "30 minutes")


@query(
    "events_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id)
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel per user: first view, first click AFTER that
    view, first purchase AFTER that click (NULL where the user never
    progressed). The product-analytics staple the reference's
    downstream ClickHouse users run over ingested events.

    Shape: three grouped mins chained by strictly-increasing time
    joins — each stage shuffles on user_id only, no window over the
    full event log and no per-user sort. At 100 TB every stage is a
    partial-aggregated groupBy on the same key, so the shuffles
    co-locate and AQE reuses the partitioning.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "t_view", "t_click", "t_purchase")
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    c AS (SELECT event_type, next_type, COUNT(*) AS n
          FROM seq WHERE next_type IS NOT NULL
          GROUP BY event_type, next_type),
    t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS total
          FROM c GROUP BY event_type)
    SELECT c.event_type, c.next_type, c.n,
           CAST(c.n AS DOUBLE) / t.total AS p
    FROM c JOIN t ON t.event_type = c.event_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix: for each user's
    time-ordered event sequence, count (type -> next type) pairs and
    normalize per source type — the behavioral-model input behind
    next-action prediction and anomalous-flow detection.

    One per-user window (lead) over the (user, time) sort Spark
    already shuffles for any sessionization, then two bounded
    aggregates whose keys are |event_types|^2 — constant-size results
    at any corpus scale. Probability is one IEEE division of exact
    counts.
    """
    tune(spark)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    c = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.groupBy("event_type").agg(F.sum("n").cast("long").alias("total"))
    return c.join(F.broadcast(t), "event_type").select(
        "event_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.col("total")).alias("p"),
    )


@query(
    "user_event_type_diversity",
    oracle="""
    WITH tc AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(c) AS BIGINT) AS n_events,
           1.0 - CAST(SUM(c * c) AS DOUBLE) / (SUM(c) * SUM(c))
             AS simpson_diversity
    FROM tc GROUP BY user_id
    """,
)
def user_event_type_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user: Simpson diversity index
    1 - sum((c_i/n)^2) over the user's event-type distribution — the
    entropy-style engagement-breadth metric, in its RATIONAL form
    (exact integer sum of squares + one IEEE division) so both engines
    agree bit-for-bit; Shannon entropy's ln() is last-ulp
    engine-divergent, which is why the tf-idf ln-score query is
    rows-only while this one is value-checked.

    Scale shape: two hash aggregates keyed by user (the second reuses
    the first's partitioning — no extra shuffle), no window, no join.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    tc = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    return tc.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_events"),
        (
            F.lit(1.0)
            - F.sum(F.col("c") * F.col("c")).cast("double")
            / (F.sum("c") * F.sum("c"))
        ).alias("simpson_diversity"),
    )


@query(
    "user_churn_features",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS max_ts FROM events)
    SELECT user_id,
           CAST(date_diff('day', CAST(MIN(ts) AS DATE),
                          CAST(MAX(ts) AS DATE)) AS INTEGER)
             AS tenure_days,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(ROUND(value * 100) AS BIGINT)
                         ELSE 0 END) AS DOUBLE) / 100.0 AS spend,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days_active,
           CAST(date_diff('day', CAST(MAX(ts) AS DATE),
                          CAST(MAX(mx.max_ts) AS DATE)) AS INTEGER)
             AS recency_days,
           MAX(ts) < MAX(mx.max_ts) - INTERVAL 7 DAY AS churned
    FROM events CROSS JOIN mx
    GROUP BY user_id ORDER BY user_id
    """,
)
def user_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-model feature assembly: one row per user with tenure,
    activity, monetary and recency features plus the 7-day-inactive
    label — the feature-store table a training pipeline snapshots
    before handing off to a trainer.

    ONE groupBy(user_id) pass computes every feature (conditional
    integer sums, distinct counts, min/max — all map-side
    combinable); the only extra input is the corpus max timestamp, a
    1-row broadcast cross join (O(1) data motion at any scale).
    Spend is exact integer cents with one final IEEE division.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("max_ts"))
    is_p = F.col("event_type") == "purchase"
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    return (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.max("ts").cast("date"), F.min("ts").cast("date")
            ).alias("tenure_days"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(is_p, 1).otherwise(0)).cast("long").alias(
                "n_purchases"
            ),
            (
                F.sum(F.when(is_p, cents).otherwise(0)).cast("double")
                / F.lit(100.0)
            ).alias("spend"),
            F.countDistinct("event_type").alias("n_types"),
            F.countDistinct(F.col("ts").cast("date")).alias("days_active"),
            F.datediff(
                F.max("max_ts").cast("date"), F.max("ts").cast("date")
            ).alias("recency_days"),
            (
                F.max("ts") < F.max("max_ts") - F.expr("INTERVAL 7 DAY")
            ).alias("churned"),
        )
        .orderBy("user_id")
    )


@query(
    "features_point_in_time",
    oracle="""
    WITH f AS (
      SELECT event_id, user_id, ts, event_type, value,
             COUNT(*) OVER w AS prior_events,
             COALESCE(SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) OVER w, 0)
               AS prior_purchases,
             COALESCE(SUM(CASE WHEN event_type = 'purchase'
                               THEN CAST(ROUND(value * 100) AS BIGINT)
                               ELSE 0 END) OVER w, 0) AS prior_cents,
             epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id)
               AS us_since_prev
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT event_id, user_id, ts, value AS label_value,
           CAST(prior_events AS BIGINT) AS prior_events,
           CAST(prior_purchases AS BIGINT) AS prior_purchases,
           CAST(prior_cents AS DOUBLE) / 100.0 AS prior_spend,
           us_since_prev
    FROM f WHERE event_type = 'purchase' ORDER BY event_id
    """,
)
def features_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free training examples: for every purchase event, the
    user's feature values AS OF strictly before that event (prior
    event count, prior purchase count, prior spend, time since
    previous action) next to the purchase value as the label — the
    point-in-time-correct join a feature store must produce, where
    using the full-history aggregate instead silently leaks the
    label into its own features.

    One window per user (partitioned — thousands of concurrent
    partitions at scale) with an explicit ROWS UNBOUNDED PRECEDING
    TO 1 PRECEDING frame does all features in a single sort: no
    self-join per event, no per-feature pass. Spend is exact integer
    cents; the final division is the only IEEE op.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    order = [F.col("ts"), F.col("event_id")]
    w = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wl = Window.partitionBy("user_id").orderBy(*order)
    is_p = F.col("event_type") == "purchase"
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    us = epoch_us("ts")
    f = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.col("value").alias("label_value"),
        F.count(F.lit(1)).over(w).alias("prior_events"),
        F.coalesce(
            F.sum(F.when(is_p, 1).otherwise(0)).over(w), F.lit(0)
        ).cast("long").alias("prior_purchases"),
        F.coalesce(
            F.sum(F.when(is_p, cents).otherwise(0)).over(w), F.lit(0)
        ).alias("prior_cents"),
        (us - F.lag(us).over(wl)).alias("us_since_prev"),
    )
    return (
        f.filter(is_p)
        .select(
            "event_id",
            "user_id",
            "ts",
            "label_value",
            "prior_events",
            "prior_purchases",
            (F.col("prior_cents").cast("double") / 100.0).alias(
                "prior_spend"
            ),
            "us_since_prev",
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------
# Behavioral entropy per user
# --------------------------------------------------------------------

_SQL_USER_ENTROPY = """
    WITH cnts AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, event_type),
    u AS (
      SELECT user_id,
             CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(c * CAST(FLOOR(log2(CAST(c AS DOUBLE)) * 1000000)
                               AS BIGINT)) AS BIGINT) AS s
      FROM cnts GROUP BY user_id)
    SELECT user_id, n_events, n_types,
           CAST(n_events * CAST(FLOOR(log2(CAST(n_events AS DOUBLE))
                                      * 1000000) AS BIGINT) - s AS DOUBLE)
             / (CAST(n_events AS DOUBLE) * 1000000) AS entropy_bits
    FROM u
"""


@query("events_user_type_entropy", oracle=_SQL_USER_ENTROPY)
def events_user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral
    predictability signal (0 bits = a single-action bot, ~log2(5) =
    uniform across all five types) feeding abuse/bot triage next to
    ``events_markov_transitions``.

    Scale: two map-side-combined aggregates, both partitioned by
    user_id — the per-user histogram is bounded by the event-type
    vocabulary, so shuffle volume is ~users x |types| rows. Same
    quantized-log determinism as ``text_char_entropy``:
    floor(log2(count)*1e6) per integer count, exact int64 reductions,
    one final IEEE division.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    cnts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ilog_c = F.floor(F.log2(F.col("c").cast("double")) * 1e6).cast("long")
    u = cnts.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * ilog_c).cast("long").alias("s"),
    )
    ilog_n = F.floor(
        F.log2(F.col("n_events").cast("double")) * 1e6
    ).cast("long")
    return u.select(
        "user_id",
        "n_events",
        "n_types",
        (
            (F.col("n_events") * ilog_n - F.col("s")).cast("double")
            / (F.col("n_events").cast("double") * F.lit(1e6))
        ).alias("entropy_bits"),
    )


# --------------------------------------------------------------------
# Multi-touch linear attribution
# --------------------------------------------------------------------

_ATTR_WINDOW_DAYS = 7


_SQL_ATTRIBUTION = f"""
    WITH purchases AS (
      SELECT event_id, user_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
    clicks AS (
      SELECT user_id, ts AS click_ts FROM events
      WHERE event_type = 'click'),
    touched AS (
      SELECT p.event_id, p.cents, COUNT(*) AS n_touches
      FROM purchases p JOIN clicks c
        ON c.user_id = p.user_id
       AND c.click_ts < p.ts
       AND c.click_ts >= p.ts - INTERVAL {_ATTR_WINDOW_DAYS} DAY
      GROUP BY p.event_id, p.cents)
    SELECT p.event_id AS purchase_id,
           CAST(COALESCE(t.n_touches, 0) AS BIGINT) AS n_touches,
           CAST(p.cents AS DOUBLE) / 100 AS purchase_value,
           CAST(CASE WHEN t.n_touches IS NULL THEN NULL
                     ELSE p.cents // t.n_touches END AS BIGINT)
             AS credit_cents_per_touch,
           CAST(CASE WHEN t.n_touches IS NULL THEN NULL
                     ELSE p.cents % t.n_touches END AS BIGINT)
             AS remainder_cents
    FROM purchases p LEFT JOIN touched t ON t.event_id = p.event_id
"""


@query("events_attribution_linear", oracle=_SQL_ATTRIBUTION)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch linear attribution: each purchase's value is split
    evenly across the user's clicks in the preceding 7 days —
    the classic marketing-credit workload next to the last-touch
    ``asof_purchase_last_click``. Purchases with no preceding click
    surface with NULL credit (the 'unattributable' bucket a marketing
    team reconciles).

    Scale: the touch join is an equi-join on user_id with a range
    predicate — partitioned by user, never a cross join; per-purchase
    touch counts are one hash aggregate. Determinism: credits are
    EXACT integer division of cents (credit + remainder reconstruct
    the total: n*credit + remainder == cents), sidestepping the
    order-dependent float sums a naive value/n split would shuffle.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    purchases = e.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    touched = (
        purchases.join(
            clicks,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("click_ts") < F.col("ts"))
            & (
                F.col("click_ts")
                >= F.col("ts") - F.expr(f"INTERVAL {_ATTR_WINDOW_DAYS} DAYS")
            ),
        )
        .groupBy("event_id", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("n_touches"))
    )
    return purchases.join(
        touched.select("event_id", "n_touches"), "event_id", "left"
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.coalesce(F.col("n_touches"), F.lit(0)).cast("long").alias("n_touches"),
        (F.col("cents").cast("double") / 100).alias("purchase_value"),
        F.expr("CAST(cents div n_touches AS BIGINT)").alias(
            "credit_cents_per_touch"
        ),
        F.expr("CAST(cents % n_touches AS BIGINT)").alias("remainder_cents"),
    )


# --------------------------------------------------------------------
# Kaplan-Meier survival: signup -> first purchase
# --------------------------------------------------------------------

# The duration table both survival estimators start from (KM here,
# Nelson-Aalen in events2): one row per distinct signup -> first
# purchase duration in days, with its subject count c and conversions
# d; subjects that never convert are censored at the corpus max ts.
_SQL_SIGNUP_PURCHASE_DT = """
    WITH mx AS (SELECT MAX(ts) AS max_ts FROM events),
    sign AS (
      SELECT user_id, MIN(ts) AS start FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    subj AS (
      SELECT s.user_id, s.start,
             MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= s.start
                      THEN e.ts END) AS pts
      FROM sign s LEFT JOIN events e ON e.user_id = s.user_id
      GROUP BY s.user_id, s.start),
    durs AS (
      SELECT date_diff('day', CAST(start AS DATE),
                       CAST(COALESCE(pts, max_ts) AS DATE)) AS dur,
             CASE WHEN pts IS NULL THEN 0 ELSE 1 END AS ev
      FROM subj, mx),
    dt AS (
      SELECT dur, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(ev) AS BIGINT) AS d
      FROM durs GROUP BY dur)"""


def _signup_purchase_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dt`` of ``_SQL_SIGNUP_PURCHASE_DT``: (dur, c, d) per distinct
    duration, from two hash aggregates over events."""
    e = table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("max_ts"))
    sign = e.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("start")
    )
    evs = e.select(
        F.col("user_id").alias("u2"), F.col("event_type").alias("et2"),
        F.col("ts").alias("ts2"),
    )
    subj = (
        sign.join(evs, sign.user_id == F.col("u2"), "left")
        .groupBy("user_id", "start")
        .agg(
            F.min(
                F.when(
                    (F.col("et2") == "purchase") & (F.col("ts2") >= F.col("start")),
                    F.col("ts2"),
                )
            ).alias("pts")
        )
    )
    durs = subj.crossJoin(F.broadcast(mx)).select(
        F.datediff(
            F.to_date(F.coalesce(F.col("pts"), F.col("max_ts"))),
            F.to_date("start"),
        ).alias("dur"),
        F.when(F.col("pts").isNull(), 0).otherwise(1).alias("ev"),
    )
    return durs.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("ev").cast("long").alias("d"),
    )


_SQL_KAPLAN_MEIER = _SQL_SIGNUP_PURCHASE_DT + """,
    risk AS (
      SELECT a.dur, a.d,
             CAST(SUM(b.c) AS BIGINT) AS n_at_risk
      FROM dt a JOIN dt b ON b.dur >= a.dur
      WHERE a.d > 0 GROUP BY a.dur, a.d),
    f AS (
      SELECT dur, d, n_at_risk,
             CAST(FLOOR(log2(CAST(n_at_risk - d AS DOUBLE) / n_at_risk)
                        * 1000000) AS BIGINT) AS lf6
      FROM risk WHERE n_at_risk > d)
    SELECT a.dur AS duration_days,
           a.n_at_risk, a.d AS n_events,
           CAST(SUM(b.lf6) AS DOUBLE) / 1000000 AS log2_survival
    FROM f a JOIN f b ON b.dur <= a.dur
    GROUP BY a.dur, a.n_at_risk, a.d
"""


@query("events_kaplan_meier", oracle=_SQL_KAPLAN_MEIER)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit curve for signup -> first purchase,
    right-censored at the observation horizon (the corpus max
    timestamp) — THE time-to-event estimator for activation/conversion
    analyses; drops durations where everyone converts (n == d, the
    curve would hit exact 0 and leave log space).

    Scale: subjects reduce to one (duration, event) row per signup
    user (two hash aggregates over events); everything after — risk
    sets, factors, the cumulative product — runs on the DISTINCT
    DURATION table (bounded by the observation window in days), via
    bounded self-joins, never a global window. Determinism: each
    factor log2((n-d)/n) is one IEEE division + a floor-quantized
    log2 per distinct duration (model-level); the survival curve is
    emitted in exact log2 space (integer sums, one final division) —
    S(t) = 2^log2_survival for human reading.
    """
    tune(spark)
    dt = _signup_purchase_durations(spark, sf_dir)
    a = dt.select(F.col("dur").alias("da"), F.col("d").alias("d"))
    b = dt.select(F.col("dur").alias("db"), F.col("c").alias("cb"))
    risk = (
        a.filter(F.col("d") > 0)
        .join(F.broadcast(b), F.col("db") >= F.col("da"))
        .groupBy("da", "d")
        .agg(F.sum("cb").cast("long").alias("n_at_risk"))
    )
    f = risk.filter(F.col("n_at_risk") > F.col("d")).select(
        "da",
        "d",
        "n_at_risk",
        F.floor(
            F.log2(
                (F.col("n_at_risk") - F.col("d")).cast("double")
                / F.col("n_at_risk")
            )
            * 1e6
        )
        .cast("long")
        .alias("lf6"),
    )
    fa = f.select(
        F.col("da").alias("ta"),
        F.col("n_at_risk").alias("n_at_risk"),
        F.col("d").alias("n_events"),
    )
    fb = f.select(F.col("da").alias("tb"), F.col("lf6").alias("lf6"))
    return (
        fa.join(F.broadcast(fb), F.col("tb") <= F.col("ta"))
        .groupBy("ta", "n_at_risk", "n_events")
        .agg((F.sum("lf6").cast("double") / F.lit(1e6)).alias("log2_survival"))
        .select(
            F.col("ta").alias("duration_days"),
            "n_at_risk",
            "n_events",
            "log2_survival",
        )
    )


# --------------------------------------------------------------------
# DAU / WAU / MAU stickiness
# --------------------------------------------------------------------

_STICKY_WAU = 7
_STICKY_MAU = 28


_SQL_STICKINESS = f"""
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d0
      FROM events),
    bounds AS (SELECT MIN(d0) AS dmin, MAX(d0) AS dmax FROM ud),
    fan AS (
      SELECT ud.user_id, ud.d0 + u.o AS d, u.o
      FROM ud CROSS JOIN UNNEST(range(0, {_STICKY_MAU})) AS u(o)),
    agg AS (
      SELECT d,
             COUNT(DISTINCT CASE WHEN o = 0 THEN user_id END) AS dau,
             COUNT(DISTINCT CASE WHEN o < {_STICKY_WAU} THEN user_id END)
               AS wau,
             COUNT(DISTINCT user_id) AS mau
      FROM fan GROUP BY d)
    SELECT CAST(d AS BIGINT) AS day_num,
           CAST(dau AS BIGINT) AS dau,
           CAST(wau AS BIGINT) AS wau,
           CAST(mau AS BIGINT) AS mau,
           CAST(dau AS DOUBLE) / wau AS dau_wau,
           CAST(dau AS DOUBLE) / mau AS dau_mau
    FROM agg, bounds
    WHERE d >= bounds.dmin + {_STICKY_MAU} - 1 AND d <= bounds.dmax
    ORDER BY d
"""


@query("events_dau_wau_stickiness", oracle=_SQL_STICKINESS)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active / weekly active / monthly active users per day,
    with the DAU/WAU and DAU/MAU stickiness ratios — the engagement
    headline every product dashboard opens with. Only days with a
    complete 28-day trailing history are emitted (the warm-up ramp
    would understate MAU).

    Scale: rolling DISTINCT does not merge, so each distinct
    (user, day) pair FANS OUT to the {_STICKY_MAU} future days it
    keeps a user "active" for (the rolling_distinct_users_7d recipe,
    generalized to three horizons in ONE pass — the o=0 / o<7 /
    unconditional conditional-distincts share a single shuffle). The
    fan-out is a fixed 28x on the deduplicated user-day table — far
    smaller than the event table it summarizes — and the group-by key
    is the day, so 1000 executors each own a date range.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.datediff(
            F.to_date("ts"), F.to_date(F.lit("1970-01-01"))
        ).alias("d0"),
    ).distinct()
    bounds = ud.agg(
        F.min("d0").alias("dmin"), F.max("d0").alias("dmax")
    )
    fan = ud.select(
        "user_id",
        "d0",
        F.explode(F.sequence(F.lit(0), F.lit(_STICKY_MAU - 1))).alias("o"),
    ).withColumn("d", F.col("d0") + F.col("o"))
    agg = fan.groupBy("d").agg(
        F.countDistinct(
            F.when(F.col("o") == 0, F.col("user_id"))
        ).alias("dau"),
        F.countDistinct(
            F.when(F.col("o") < _STICKY_WAU, F.col("user_id"))
        ).alias("wau"),
        F.countDistinct("user_id").alias("mau"),
    )
    return (
        agg.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("d") >= F.col("dmin") + _STICKY_MAU - 1)
            & (F.col("d") <= F.col("dmax"))
        )
        .select(
            F.col("d").cast("long").alias("day_num"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.col("mau").cast("long").alias("mau"),
            (F.col("dau").cast("double") / F.col("wau")).alias("dau_wau"),
            (F.col("dau").cast("double") / F.col("mau")).alias("dau_mau"),
        )
        .orderBy("day_num")
    )


# --------------------------------------------------------------------
# Markov stationary distribution (3 fixed power iterations)
# --------------------------------------------------------------------

_MK_FP = 1_000_000_000  # 1e-9 probability fixed point
_MK_ITERS = 3


def _mk_iter_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT pq.d AS v,
             CAST(SUM({prev}.pi * pq.pq) // {_MK_FP} AS BIGINT) AS pi
      FROM pq JOIN {prev} ON {prev}.v = pq.s
      GROUP BY pq.d)
    """


@query(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    c AS (SELECT event_type AS s, next_type AS d, CAST(COUNT(*) AS BIGINT) AS n
          FROM seq WHERE next_type IS NOT NULL
          GROUP BY 1, 2),
    t AS (SELECT s, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY s),
    pq AS (SELECT c.s, c.d, n * {_MK_FP} // total AS pq
           FROM c JOIN t USING (s)),
    k AS (SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS kk FROM c),
    p0 AS (SELECT DISTINCT s AS v, {_MK_FP} // kk AS pi FROM c, k),
    {_mk_iter_sql("p0", "p1")},
    {_mk_iter_sql("p1", "p2")},
    {_mk_iter_sql("p2", "p3")},
    z AS (SELECT CAST(SUM(pi) AS BIGINT) AS zz FROM p3)
    SELECT v AS event_type, pi AS pi_fp,
           CAST(pi AS DOUBLE) / zz AS stationary_p
    FROM p3, z ORDER BY event_type
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain (3
    fixed power iterations from uniform): where sessions SPEND their
    time in the long run — the one-vector summary of
    ``events_markov_transitions`` that ranks event types by
    steady-state share rather than raw counts.

    Iterative-algorithm doctrine (PageRank precedent): transition
    probabilities quantize ONCE to exact 1e-9 fixed-point integers
    (n * FP div total — integer floor division, identical in both
    engines); each iteration is then integer multiply-sum-rescale
    (sum(pi*pq) div FP), bit-exact and associative, so the oracle is
    three unrolled CTEs. int64 headroom: products are <= 1e18 and the
    per-state fan-in is K event types (K=5 here); past K~9 the
    accumulator moves to DECIMAL(38,0) — documented, not needed at
    any plausible event-taxonomy size. The matrix itself is
    model-level (K^2 rows) — the only corpus-scale work is the LEAD
    window per user, the same shuffle the transition-matrix query
    already pays.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("d"),
    ).filter(F.col("d").isNotNull())
    c = seq.groupBy("s", "d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.groupBy("s").agg(F.sum("n").cast("long").alias("total"))
    pq = (
        c.join(t, "s")
        .select("s", "d", F.expr(f"n * {_MK_FP} div total").alias("pq"))
    )
    k = c.agg(F.countDistinct("s").cast("long").alias("kk"))
    pi = (
        c.select("s").distinct()
        .crossJoin(F.broadcast(k))
        .select(F.col("s").alias("v"), F.expr(f"{_MK_FP} div kk").alias("pi"))
    )
    for _ in range(_MK_ITERS):
        pi = (
            pq.join(pi.withColumnRenamed("v", "s"), "s")
            .groupBy("d")
            .agg(
                F.expr(f"sum(pi * pq) div {_MK_FP}").cast("long").alias("pi")
            )
            .select(F.col("d").alias("v"), "pi")
        )
    z = pi.agg(F.sum("pi").cast("long").alias("zz"))
    return (
        pi.crossJoin(F.broadcast(z))
        .select(
            F.col("v").alias("event_type"),
            F.col("pi").alias("pi_fp"),
            (F.col("pi").cast("double") / F.col("zz")).alias("stationary_p"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# Cohort LTV matrix (cumulative revenue per cohort user by week)
# --------------------------------------------------------------------

_LTV_CENTS = "CAST(ROUND(value * 100) AS BIGINT)"


@query(
    "events_cohort_ltv_matrix",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS w,
             {_LTV_CENTS} AS cents
      FROM events),
    cohort AS (SELECT user_id, MIN(w) AS w0 FROM ev GROUP BY user_id),
    sizes AS (SELECT w0, CAST(COUNT(*) AS BIGINT) AS n_users
              FROM cohort GROUP BY w0),
    cell AS (
      SELECT c.w0, e.w - c.w0 AS off,
             CAST(SUM(e.cents) AS BIGINT) AS rev
      FROM ev e JOIN cohort c USING (user_id)
      GROUP BY c.w0, e.w - c.w0),
    cum AS (
      SELECT w0, off,
             CAST(SUM(rev) OVER (PARTITION BY w0 ORDER BY off) AS BIGINT)
               AS rev_cum
      FROM cell)
    SELECT CAST(cum.w0 AS BIGINT) AS cohort_week,
           CAST(off AS BIGINT) AS week_offset,
           s.n_users,
           rev_cum AS rev_cents_cum,
           CAST(rev_cum AS DOUBLE) / s.n_users / 100 AS ltv_per_user
    FROM cum JOIN sizes s USING (w0)
    ORDER BY cohort_week, week_offset
    """,
)
def events_cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: users grouped by first-seen week,
    cumulative revenue per cohort member tracked week by week — the
    revenue twin of the retention matrix
    (``timeseries_retention_cohorts``): "how fast does each signup
    vintage pay back?".

    Scale: two shuffles on user_id (cohort assignment + the revenue
    join), then the matrix itself is #weeks^2/2 model-level cells;
    the running total windows PARTITION BY cohort over <= #weeks rows
    each — never a corpus-sized or unpartitioned window. Revenue sums
    in exact cents.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        F.expr(
            "datediff(to_date(ts), date'1970-01-01') div 7"
        ).alias("w"),
        F.expr(_LTV_CENTS).alias("cents"),
    )
    cohort = ev.groupBy("user_id").agg(F.min("w").alias("w0"))
    sizes = cohort.groupBy("w0").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    cell = (
        ev.join(cohort, "user_id")
        .groupBy("w0", (F.col("w") - F.col("w0")).alias("off"))
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    wdw = (
        Window.partitionBy("w0")
        .orderBy("off")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cell.withColumn("rev_cum", F.sum("rev").over(wdw).cast("long"))
    return (
        cum.join(F.broadcast(sizes), "w0")
        .select(
            F.col("w0").cast("long").alias("cohort_week"),
            F.col("off").cast("long").alias("week_offset"),
            "n_users",
            F.col("rev_cum").alias("rev_cents_cum"),
            (
                F.col("rev_cum").cast("double") / F.col("n_users") / 100
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------
# Top 3-step behavioral paths
# --------------------------------------------------------------------

_SQL_TOP_PATHS = """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t2,
             LEAD(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t3
      FROM events),
    paths AS (
      SELECT event_type || '>' || t2 || '>' || t3 AS path,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
      GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM paths)
    SELECT path, n, CAST(n AS DOUBLE) / total AS share
    FROM paths, tot
    ORDER BY n DESC, path LIMIT 20
"""


@query("events_top_paths", oracle=_SQL_TOP_PATHS)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step behavioral paths (event-type trigrams within
    each user's time-ordered stream) with their share of all
    trigrams — the path-analysis table product dashboards build next
    to the funnel (``events_funnel_conversion``) and the first-order
    transition matrix (``events_markov_transitions``): it surfaces
    multi-step flows (view>click>purchase vs view>click>error) a
    1-step matrix averages away.

    Scale: one per-user window (two LEADs over the same (user, time)
    sort — a single shuffle, shared frame), then a groupBy whose key
    space is |event_types|^3 <= a few hundred rows at ANY corpus
    size; the top-20 sorts that constant-size table with a total
    (n DESC, path) ordering so the LIMIT is deterministic.
    """
    tune(spark)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    paths = (
        seq.filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .groupBy(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = paths.agg(F.sum("n").cast("long").alias("total"))
    return (
        paths.crossJoin(F.broadcast(tot))
        .select(
            "path", "n", (F.col("n").cast("double") / F.col("total")).alias("share")
        )
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


_RET_MAX_K = 14
_ILOG_RET = "CAST(FLOOR(log2(CAST({x} AS DOUBLE)) * 1000000) AS BIGINT)"


@query(
    "events_retention_halflife",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
      WHERE user_id IS NOT NULL
    ),
    first AS (SELECT user_id, MIN(d) AS d0 FROM act GROUP BY 1),
    mx AS (SELECT MAX(d) AS m FROM act),
    ks AS (SELECT CAST(i AS INTEGER) AS k
           FROM UNNEST(range(1, {_RET_MAX_K} + 1)) AS u(i)),
    eligible AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_eligible
      FROM first, mx, ks
      WHERE datediff('day', d0, m) >= k
      GROUP BY 1
    ),
    retained AS (
      SELECT datediff('day', f.d0, a.d) AS k,
             CAST(COUNT(*) AS BIGINT) AS n_retained
      FROM act a JOIN first f ON f.user_id = a.user_id
      WHERE datediff('day', f.d0, a.d) BETWEEN 1 AND {_RET_MAX_K}
      GROUP BY 1
    ),
    pts AS (
      SELECT e.k, e.n_eligible, COALESCE(r.n_retained, 0) AS n_retained,
             CASE WHEN COALESCE(r.n_retained, 0) > 0 THEN
               {_ILOG_RET.format(x="r.n_retained")}
             - {_ILOG_RET.format(x="e.n_eligible")} END AS yq
      FROM eligible e LEFT JOIN retained r ON r.k = e.k
    ),
    fit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k) AS BIGINT) AS sx,
             CAST(SUM(CAST(k AS BIGINT) * k) AS BIGINT) AS sxx,
             CAST(SUM(yq) AS BIGINT) AS sy,
             CAST(SUM(k * yq) AS BIGINT) AS sxy
      FROM pts WHERE yq IS NOT NULL
    ),
    hl AS (
      SELECT CASE WHEN n >= 2 AND n * sxy - sx * sy <> 0 THEN
               CAST(-1000000 * (n * sxx - sx * sx) AS DOUBLE)
               / (n * sxy - sx * sy) END AS half_life_days
      FROM fit
    )
    SELECT p.k, p.n_eligible, p.n_retained,
           CAST(p.n_retained AS DOUBLE) / p.n_eligible AS retention,
           hl.half_life_days
    FROM pts p, hl
    """,
)
def events_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention decay curve + half-life: pooled day-k retention for
    k = 1..14 (retained users / users whose first day is at least k
    days before the corpus end), with an exponential-decay fit — the
    log-linear slope of log2(retention) on k — reported as the
    half-life in days (the single number a growth dashboard quotes).

    Exactness: retention counts are integers; each point's
    log2(retained/eligible) is the DIFFERENCE of two
    floor(log2(int)*1e6) quantized logs (``textstats.py`` model-level
    log discipline), so the OLS slope's numerator/denominator
    (n·Σxy - Σx·Σy over int x=k, int y=yq) are exact int64 sums and
    the half-life is one IEEE division. Zero-retention points drop
    out of the fit on both engines. Shape: one distinct (user, day)
    aggregate, a per-user min, and a 14-row broadcast k-frame — the
    events table shuffles once.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    act = (
        e.filter(F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    return retention_from_activity(spark, act)


def retention_from_activity(spark: SparkSession, act: DataFrame) -> DataFrame:
    """The retention-curve + half-life algebra over distinct
    (user_id, d) activity cells — shared verbatim by the batch query
    above and ``streaming/retention.py``'s continuous maintainer (their
    parity test pins bit-equality)."""
    act = act.persist()
    first = act.groupBy("user_id").agg(F.min("d").alias("d0"))
    mx = F.broadcast(act.agg(F.max("d").alias("m")))
    ks = F.broadcast(
        spark.range(1, _RET_MAX_K + 1).select(F.col("id").cast("int").alias("k"))
    )
    eligible = (
        first.crossJoin(mx)
        .crossJoin(ks)
        .filter(F.datediff("m", "d0") >= F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_eligible"))
    )
    retained = (
        act.join(first, "user_id")
        .select(F.datediff("d", "d0").alias("k"))
        .filter((F.col("k") >= 1) & (F.col("k") <= _RET_MAX_K))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_retained"))
    )
    ilog = lambda c: F.floor(F.log2(c.cast("double")) * 1_000_000).cast("long")
    pts = (
        eligible.join(retained, "k", "left")
        .select(
            "k",
            "n_eligible",
            F.coalesce("n_retained", F.lit(0)).cast("long").alias("n_retained"),
        )
        .withColumn(
            "yq",
            F.when(
                F.col("n_retained") > 0,
                ilog(F.col("n_retained")) - ilog(F.col("n_eligible")),
            ),
        )
        .persist()
    )
    fit = pts.filter(F.col("yq").isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("sx"),
        F.sum(F.col("k").cast("long") * F.col("k")).cast("long").alias("sxx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("k") * F.col("yq")).cast("long").alias("sxy"),
    )
    hl = F.broadcast(
        fit.select(
            F.when(
                (F.col("n") >= 2)
                & (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy") != 0),
                (
                    F.lit(-1_000_000)
                    * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                ).cast("double")
                / (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")),
            ).alias("half_life_days")
        )
    )
    out = pts.crossJoin(hl).select(
        "k",
        "n_eligible",
        "n_retained",
        (F.col("n_retained").cast("double") / F.col("n_eligible")).alias(
            "retention"
        ),
        "half_life_days",
    )
    out = out.persist()
    out.count()
    act.unpersist()
    pts.unpersist()
    return out


_ENT_ILOG = "CAST(FLOOR(log2(CAST({x} AS DOUBLE)) * 1000000) AS BIGINT)"


@query(
    "events_markov_entropy_rate",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    c AS (SELECT event_type AS s, next_type AS d, CAST(COUNT(*) AS BIGINT) AS n
          FROM seq WHERE next_type IS NOT NULL
          GROUP BY 1, 2),
    t AS (SELECT s, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY s),
    pq AS (SELECT c.s, c.d, n * {_MK_FP} // total AS pq
           FROM c JOIN t USING (s)),
    k AS (SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS kk FROM c),
    p0 AS (SELECT DISTINCT s AS v, {_MK_FP} // kk AS pi FROM c, k),
    {_mk_iter_sql("p0", "p1")},
    {_mk_iter_sql("p1", "p2")},
    {_mk_iter_sql("p2", "p3")},
    z AS (SELECT CAST(SUM(pi) AS BIGINT) AS zz FROM p3),
    num AS (
      SELECT c.s,
             SUM(CAST(c.n AS DECIMAL(19,0))
                 * ({_ENT_ILOG.format(x="t.total")}
                    - {_ENT_ILOG.format(x="c.n")})) AS num
      FROM c JOIN t USING (s) GROUP BY c.s),
    terms AS (
      SELECT CAST(FLOOR(CAST(p3.pi AS DOUBLE) * CAST(num.num AS DOUBLE)
                        * 1000000
                        / (CAST(z.zz AS DOUBLE) * CAST(t.total AS DOUBLE)))
               AS BIGINT) AS q
      FROM p3 JOIN num ON num.s = p3.v JOIN t ON t.s = p3.v, z)
    SELECT k.kk AS n_states,
           CAST(SUM(terms.q) AS DOUBLE) / 1e12 AS entropy_rate_bits,
           CAST({_ENT_ILOG.format(x="k.kk")} AS DOUBLE) / 1e6
             AS max_entropy_bits,
           (CAST(SUM(terms.q) AS DOUBLE) / 1e12)
             / (CAST({_ENT_ILOG.format(x="k.kk")} AS DOUBLE) / 1e6)
             AS efficiency
    FROM terms, k GROUP BY k.kk
    """,
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-journey Markov chain:
    H = Σ_i π_i · H(next | state i) in bits per step, with π from the
    same 3-iteration fixed-point power method as
    ``events_markov_stationary`` — how PREDICTABLE the next user
    action is in steady state (0 = deterministic journeys, log2(K) =
    uniform chaos), reported with the ceiling and the H/ceiling
    efficiency. The chain-level summary the per-user
    ``events_user_type_entropy`` doesn't give.

    Exactness composition: π is already exact fixed-point int64; each
    row entropy's numerator Σ n·(ilog(total)−ilog(n)) is an exact
    DECIMAL(38,0) of 1e-6-quantized logs (``textstats.py``
    discipline); the π-weighted combination evaluates one shared
    double expression per state, floor-quantized to 1e-12 longs so
    the final K-row sum is order-independent. Only the LEAD window
    (user-partitioned) touches corpus-scale data.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("d"),
    ).filter(F.col("d").isNotNull())
    c = seq.groupBy("s", "d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # model_checkpoint (r10, was persist): the K^2-bounded transition
    # table feeds t/pq/k/pi-init/num AND every power iteration — each
    # reference re-embedded the corpus LEAD-window subtree in its plan
    c = model_checkpoint(c)
    t = c.groupBy("s").agg(F.sum("n").cast("long").alias("total"))
    pq = c.join(t, "s").select(
        "s", "d", F.expr(f"n * {_MK_FP} div total").alias("pq")
    )
    k = F.broadcast(c.agg(F.countDistinct("s").cast("long").alias("kk")))
    pi = (
        c.select("s").distinct()
        .crossJoin(k)
        .select(F.col("s").alias("v"), F.expr(f"{_MK_FP} div kk").alias("pi"))
    )
    for _ in range(_MK_ITERS):
        pi = (
            pq.join(pi.withColumnRenamed("v", "s"), "s")
            .groupBy("d")
            .agg(
                F.expr(f"sum(pi * pq) div {_MK_FP}").cast("long").alias("pi")
            )
            .select(F.col("d").alias("v"), "pi")
        )
    z = F.broadcast(pi.agg(F.sum("pi").cast("long").alias("zz")))
    ilog = lambda col: F.floor(
        F.log2(col.cast("double")) * F.lit(1_000_000)
    ).cast("long")
    num = (
        c.join(t, "s")
        .groupBy("s")
        .agg(
            F.sum(
                F.col("n").cast("decimal(19,0)")
                * (ilog(F.col("total")) - ilog(F.col("n")))
            ).alias("num")
        )
    )
    terms = (
        pi.join(num, pi["v"] == num["s"])
        .join(t, "s")
        .crossJoin(z)
        .select(
            F.floor(
                F.col("pi").cast("double")
                * F.col("num").cast("double")
                * F.lit(1_000_000)
                / (F.col("zz").cast("double") * F.col("total").cast("double"))
            )
            .cast("long")
            .alias("q")
        )
    )
    maxent = ilog(F.col("kk")).cast("double") / F.lit(1e6)
    out = (
        terms.crossJoin(k)
        .groupBy("kk")
        .agg(F.sum("q").alias("sq"))
        .select(
            F.col("kk").alias("n_states"),
            (F.col("sq").cast("double") / F.lit(1e12)).alias(
                "entropy_rate_bits"
            ),
            maxent.alias("max_entropy_bits"),
            (
                (F.col("sq").cast("double") / F.lit(1e12)) / maxent
            ).alias("efficiency"),
        )
        .persist()
    )
    out.count()
    c.unpersist()
    return out


_FUNNEL_WIN_DAYS = 7


@query(
    "events_funnel_time_windowed",
    oracle=f"""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
        AND e.ts <= v.t_view + INTERVAL {_FUNNEL_WIN_DAYS} DAY
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        AND e.ts <= c.t_click + INTERVAL {_FUNNEL_WIN_DAYS} DAY
      GROUP BY e.user_id),
    steps AS (
      SELECT 1 AS step, 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM v
      UNION ALL
      SELECT 2, 'click_7d', CAST(COUNT(*) AS BIGINT) FROM c
      UNION ALL
      SELECT 3, 'purchase_7d', CAST(COUNT(*) AS BIGINT) FROM p)
    SELECT s.step, s.stage, s.n_users,
           CAST(s.n_users AS DOUBLE)
             / (SELECT n_users FROM steps WHERE step = 1) AS conv_from_start,
           CASE WHEN s.step = 1 THEN CAST(1 AS DOUBLE)
                ELSE CAST(s.n_users AS DOUBLE)
                     / (SELECT n_users FROM steps x WHERE x.step = s.step - 1)
           END AS conv_from_prev
    FROM steps s
    """,
)
def events_funnel_time_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel summary: first view -> first click
    within 7 DAYS of it -> first purchase within 7 days of that click,
    reported as per-step user counts with step-over-step and
    from-start conversion rates — the windowed variant marketing
    actually quotes (``events_funnel_conversion`` is the unconstrained
    per-user frame; an unbounded funnel credits conversions that took
    a year).

    Shape: the same chained grouped-min joins (each stage shuffles on
    user_id only; the interval bound is a post-join predicate on
    already-co-located rows), then a 3-row model frame with exact
    counts and single-division rates (the step scaffold broadcasts).
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    win = F.expr(f"INTERVAL {_FUNNEL_WIN_DAYS} DAYS")
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + win)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + win)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    steps = (
        v.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit(1).alias("step"), F.lit("view").alias("stage"), "n_users"
        )
        .unionByName(
            c.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
                F.lit(2).alias("step"),
                F.lit("click_7d").alias("stage"),
                "n_users",
            )
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
                F.lit(3).alias("step"),
                F.lit("purchase_7d").alias("stage"),
                "n_users",
            )
        )
    )
    steps = steps.persist()
    prev = steps.select(
        (F.col("step") + 1).alias("step"),
        F.col("n_users").alias("n_prev"),
    )
    start = F.broadcast(
        steps.filter(F.col("step") == 1).select(
            F.col("n_users").alias("n_start")
        )
    )
    out = (
        steps.join(F.broadcast(prev), "step", "left")
        .crossJoin(start)
        .select(
            "step",
            "stage",
            "n_users",
            (F.col("n_users").cast("double") / F.col("n_start")).alias(
                "conv_from_start"
            ),
            F.when(F.col("step") == 1, F.lit(1.0))
            .otherwise(F.col("n_users").cast("double") / F.col("n_prev"))
            .alias("conv_from_prev"),
        )
        .persist()
    )
    out.count()
    steps.unpersist()
    return out
