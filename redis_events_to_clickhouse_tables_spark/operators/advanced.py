"""Advanced aggregates, window frames, and expression coverage (Layer B).

Moving-average frames, ranking-function families, GROUPING SETS via
the SQL API, exact moment-based statistics, exact median, regex/string
expressions, and approximate-distinct (rows-only: HLL sketches are
engine-specific by design).

Statistics note: stddev/variance/correlation are computed from exact
decimal power sums with the final formula evaluated in double using
the *same expression tree* as the oracle — Welford-style streaming
moments (what both engines' builtin stddev use) are
summation-order-dependent and would not reproduce bit-identically
across engines, exactly the kind of nondeterminism a 1000-executor
run amplifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from ..functions.numeric import dec
from ..functions.temporal import epoch_us
from ..registry import query
from ..session import tune
from ..sources.tables import table
from ..streaming.histogram import (
    BIN_WIDTH,
    TOP_BIN,
    bin_of,
    weekly_percentile_bins,
)


@query(
    "window_moving_avg_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER w AS DOUBLE)
             / COUNT(*) OVER w AS moving_avg_3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def window_moving_avg_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average over a bounded ROWS frame (exact decimal sum /
    frame count — one IEEE division, not a double running mean)."""
    tune(spark)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(dec("o_totalprice", 14)).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("moving_avg_3"),
    )


@query(
    "window_ranking_family",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(NTILE(4) OVER w1 AS INTEGER) AS price_quartile,
           CAST(DENSE_RANK() OVER w2 AS INTEGER) AS price_band_rank,
           PERCENT_RANK() OVER w1 AS pct_rank,
           CUME_DIST() OVER w1 AS cume,
           FIRST_VALUE(o_orderkey) OVER w1 AS cheapest_in_status,
           LAST_VALUE(o_orderkey) OVER (PARTITION BY o_orderstatus
                ORDER BY o_totalprice, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS priciest_in_status
    FROM orders
    WINDOW w1 AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey),
           w2 AS (PARTITION BY o_orderstatus
                  ORDER BY CAST(FLOOR(o_totalprice / 10000) AS BIGINT))
    """,
)
def window_ranking_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE / DENSE_RANK / PERCENT_RANK / CUME_DIST / FIRST+LAST_VALUE.

    percent_rank and cume_dist are definitional ratios ((rank-1)/(n-1),
    rank/n) — identical doubles on both engines. Windows are
    partitioned (by status), never global: a partitionless window
    serializes the table through one task at scale.
    """
    tune(spark)
    w1 = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    w2 = Window.partitionBy("o_orderstatus").orderBy(
        F.floor(F.col("o_totalprice") / 10000)
    )
    w_full = w1.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w1).alias("price_quartile"),
        F.dense_rank().over(w2).alias("price_band_rank"),
        F.percent_rank().over(w1).alias("pct_rank"),
        F.cume_dist().over(w1).alias("cume"),
        F.first("o_orderkey").over(w1).alias("cheapest_in_status"),
        F.last("o_orderkey").over(w_full).alias("priciest_in_status"),
    )


@query(
    "grouping_sets_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority), ())
    """,
)
def grouping_sets_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS + GROUPING() indicators via the SQL API."""
    tune(spark)
    vname = "retct_orders_gs"
    table(spark, sf_dir, "orders").createOrReplaceTempView(vname)
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n_orders
        FROM {vname}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
        """
    )


# exact power sums (decimal) -> closed-form moments in double, with the
# SAME expression tree on both engines
_SQL_STATS = """
    WITH sums AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                      * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_discount AS DECIMAL(4,2))
                      * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                      * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           (sxx - sx * sx / n) / (n - 1) AS var_qty,
           SQRT((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
           (sxy - sx * sy / n)
             / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr_qty_disc
    FROM sums
"""


@query("agg_stats_explicit", oracle=_SQL_STATS)
def agg_stats_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance / stddev / Pearson correlation from exact power
    sums — order-insensitive and reproducible at any parallelism."""
    tune(spark)
    l = table(spark, sf_dir, "lineitem")
    q, d = dec("l_quantity", 12), dec("l_discount", 4)
    sums = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(d).cast("double").alias("sy"),
        F.sum(d * d).cast("double").alias("syy"),
        F.sum(q * d).cast("double").alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy"))
    var_qty = (sxx - sx * sx / n) / (n - 1)
    return sums.select(
        "l_returnflag",
        "n",
        var_qty.alias("var_qty"),
        F.sqrt(var_qty).alias("stddev_qty"),
        (
            (sxy - sx * sy / n)
            / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
        ).alias("corr_qty_disc"),
    )


@query(
    "agg_median_exact",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_extendedprice, 0.5) AS median_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median per group (Spark ``median`` <->
    DuckDB ``quantile_cont(0.5)``: both sort and midpoint-interpolate)."""
    tune(spark)
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.median("l_quantity").alias("median_qty"),
            F.median("l_extendedprice").alias("median_price"),
        )
    )


@query(
    "scalar_regex_functions",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_brand, '[0-9]+', 0) AS brand_num,
           CAST(regexp_extract(p_brand, '[0-9]+', 0) AS BIGINT) AS brand_num_int,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS name_devoweled,
           split_part(p_brand, '#', 2) AS brand_suffix,
           CAST(strpos(p_name, 'a') AS INTEGER) AS first_a,
           translate(p_type, 'AEO', '430') AS type_l33t,
           left(p_name, 3) AS name_prefix,
           right(p_name, 3) AS name_suffix,
           repeat(p_brand, 2) AS brand_doubled,
           contains(p_type, 'OM') AS has_om,
           starts_with(p_type, 'P') AS is_p,
           ends_with(p_type, 'O') AS ends_o
    FROM part
    """,
)
def scalar_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex + positional string expression coverage (JVM regex and
    DuckDB RE2 agree on these basic character-class patterns)."""
    tune(spark)
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", "[0-9]+", 0).alias("brand_num"),
        F.regexp_extract("p_brand", "[0-9]+", 0).cast("long").alias("brand_num_int"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("name_devoweled"),
        F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2)).alias("brand_suffix"),
        F.instr(F.col("p_name"), "a").alias("first_a"),
        F.translate("p_type", "AEO", "430").alias("type_l33t"),
        F.left(F.col("p_name"), F.lit(3)).alias("name_prefix"),
        F.right(F.col("p_name"), F.lit(3)).alias("name_suffix"),
        F.repeat(F.col("p_brand"), 2).alias("brand_doubled"),
        F.contains(F.col("p_type"), F.lit("OM")).alias("has_om"),
        F.startswith(F.col("p_type"), F.lit("P")).alias("is_p"),
        F.endswith(F.col("p_type"), F.lit("O")).alias("ends_o"),
    )


@query(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS est_within_error
    FROM events GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counting (HyperLogLog++) next to the exact
    count — the constant-memory path for 100-TB cardinality estimates.

    The raw estimate is engine-specific (DuckDB's
    approx_count_distinct is a different sketch), so — same contract
    as ``sketch_hll_mergeable_rollup`` — the output carries the exact
    columns PLUS the sketch invariant as a boolean the oracle asserts
    TRUE: the estimate sits within 3x the nominal relative standard
    deviation (rsd 0.05) of the exact count, with a small absolute
    floor for tiny groups.
    """
    tune(spark)
    approx, exact = F.col("approx_users"), F.col("exact_users")
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.countDistinct("user_id").cast("long").alias("exact_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            "event_type",
            "n_events",
            "exact_users",
            (
                F.abs(approx - exact)
                <= F.greatest(F.lit(2.0), 0.15 * exact.cast("double"))
            ).alias("est_within_error"),
        )
    )


@query(
    "window_time_range_frame",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(12,2)))
                OVER (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING
                            AND CURRENT ROW) AS DOUBLE) AS value_30m
    FROM events
    """,
)
def window_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: each event's trailing 30-minute value
    sum per user. Spark's rangeBetween needs a numeric ordering key,
    so the frame orders on epoch microseconds with a 30-minute-in-
    micros lookback — frame membership is identical to DuckDB's
    INTERVAL RANGE frame (both include timestamp peers)."""
    tune(spark)
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_us("ts"))
        .rangeBetween(-30 * 60 * 1_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(dec("value", 12)).over(w).cast("double").alias("value_30m"),
    )


@query(
    "window_first_nth_last",
    oracle="""
    SELECT DISTINCT user_id,
           FIRST_VALUE(event_type) OVER w AS first_type,
           NTH_VALUE(event_type, 2) OVER w AS second_type,
           LAST_VALUE(event_type) OVER w AS last_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_nth_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / NTH_VALUE / LAST_VALUE over an unbounded frame —
    each user's first, second, and latest event type (event_id breaks
    timestamp ties so both engines agree on the positional values)."""
    tune(spark)
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
        F.last("event_type").over(w).alias("last_type"),
    ).distinct()


@query(
    "scalar_conditional_functions",
    oracle="""
    SELECT o_orderkey,
           NULLIF(o_orderstatus, 'O') AS status_or_null,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
           LEAST(o_totalprice, 100000.0) AS capped_price,
           GREATEST(o_totalprice, 1000.0) AS floored_price,
           IFNULL(NULLIF(o_orderpriority, o_orderpriority), 'same') AS nvl_demo
    FROM orders
    """,
)
def scalar_conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULLIF / COALESCE / LEAST / GREATEST / IFNULL sweep — the
    conditional scalar family, all whole-stage-codegen expressions."""
    tune(spark)
    o = table(spark, sf_dir, "orders")
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        status_or_null.alias("status_or_null"),
        F.coalesce(status_or_null, F.lit("OPEN")).alias("status_label"),
        F.least(F.col("o_totalprice"), F.lit(100000.0)).alias("capped_price"),
        F.greatest(F.col("o_totalprice"), F.lit(1000.0)).alias("floored_price"),
        F.ifnull(
            F.nullif(F.col("o_orderpriority"), F.col("o_orderpriority")),
            F.lit("same"),
        ).alias("nvl_demo"),
    )


@query(
    "approx_percentile_prices",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok, TRUE AS p95_ok,
           TRUE AS monotone
    FROM orders GROUP BY o_orderpriority
    """,
)
def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles of order value per priority via Spark's
    percentile_approx (KLL-style sketch); the exact-median counterpart
    is ``agg_median_exact``.

    The sketch values are engine-specific, so — same contract as
    ``sketch_hll_mergeable_rollup`` — the output carries the exact
    group counts PLUS the sketch's defining guarantee as booleans the
    oracle asserts TRUE: each estimate is an actual group element
    whose EXACT rank (one counting pass over the group, r_lo strictly
    below / r_le at-or-below) lies within the documented n/accuracy
    rank error of the target ceil(q*n), and the four estimates are
    monotone in q.
    """
    tune(spark)
    o = table(spark, sf_dir, "orders")
    sketch = F.percentile_approx("o_totalprice", [0.25, 0.5, 0.75, 0.95], 10000)
    est = o.groupBy("o_orderpriority").agg(
        F.element_at(sketch, 1).alias("p25"),
        F.element_at(sketch, 2).alias("p50"),
        F.element_at(sketch, 3).alias("p75"),
        F.element_at(sketch, 4).alias("p95"),
    )
    j = o.join(F.broadcast(est), "o_orderpriority")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_orders")]
    for p in ("p25", "p50", "p75", "p95"):
        aggs.append(
            F.count(F.when(F.col("o_totalprice") < F.col(p), 1)).alias(
                f"rlo_{p}"
            )
        )
        aggs.append(
            F.count(F.when(F.col("o_totalprice") <= F.col(p), 1)).alias(
                f"rle_{p}"
            )
        )
    stats = j.groupBy("o_orderpriority", "p25", "p50", "p75", "p95").agg(*aggs)
    n = F.col("n_orders")
    tol = n.cast("double") / 10_000 + 2  # rank error + discrete step

    def ok(p: str, q: float):
        return (
            (F.col(f"rle_{p}").cast("double") >= q * n - tol)
            & (F.col(f"rlo_{p}").cast("double") <= q * n + tol)
        ).alias(f"{p}_ok")

    return stats.select(
        "o_orderpriority",
        "n_orders",
        ok("p25", 0.25),
        ok("p50", 0.5),
        ok("p75", 0.75),
        ok("p95", 0.95),
        (
            (F.col("p25") <= F.col("p50"))
            & (F.col("p50") <= F.col("p75"))
            & (F.col("p75") <= F.col("p95"))
        ).alias("monotone"),
    )


@query(
    "agg_mode_priority",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY 1, 2),
    r AS (
      SELECT o_orderstatus, o_orderpriority, n,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY n DESC, o_orderpriority) AS rk
      FROM c)
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
    FROM r WHERE rk = 1
    """,
)
def agg_mode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group MODE (most frequent order priority per status),
    written as count + ROW_NUMBER rather than the engines' mode()
    builtins: their tie-breaking is unspecified, while the explicit
    (count DESC, value) ordering is total — the same determinism
    doctrine as every top-k here. Two bounded shuffles (group count,
    then a keys-sized window)."""
    tune(spark)
    o = table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("n"), "o_orderpriority")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
    )


@query(
    "agg_bitwise_line_masks",
    oracle="""
    SELECT l_orderkey,
           CAST(bit_or(CAST(1 << ((l_linenumber - 1) % 63) AS BIGINT))
                AS BIGINT) AS slot_mask,
           CAST(bit_and(CAST(1 << ((l_linenumber - 1) % 63) AS BIGINT))
                AS BIGINT) AS all_mask,
           CAST(bit_xor(CAST(1 << ((l_linenumber - 1) % 63) AS BIGINT))
                AS BIGINT) AS parity_mask,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def agg_bitwise_line_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family: per-order occupancy bitmask of line
    slots (bit i set = a line with l_linenumber i+1 exists), plus the
    AND/XOR variants — the compact-bitmap shape used for feature-flag
    rollups and bitmap-index style membership at scale. One
    hash-aggregate with 8-byte partials; map-side combine makes the
    shuffle per-order constant-width regardless of line count.
    """
    tune(spark)
    li = table(spark, sf_dir, "lineitem")
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), (l_linenumber - 1) % 63)")
    return (
        li.select("l_orderkey", bit.alias("b"))
        .groupBy("l_orderkey")
        .agg(
            F.bit_or("b").alias("slot_mask"),
            F.bit_and("b").alias("all_mask"),
            F.bit_xor("b").alias("parity_mask"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "agg_exact_p90_rank",
    oracle="""
    WITH n AS (SELECT l_returnflag, COUNT(*) AS n FROM lineitem
               GROUP BY l_returnflag),
    r AS (SELECT l_returnflag, l_extendedprice AS v,
                 ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_extendedprice) AS rn
          FROM lineitem)
    SELECT r.l_returnflag, v AS p90_price
    FROM r JOIN n ON n.l_returnflag = r.l_returnflag
    WHERE rn = (n * 9 + 9) // 10
    """,
)
def agg_exact_p90_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group P90 by rank selection: the value at sorted
    position ceil(0.9*n) — computed as (9n+9) div 10 in INTEGER
    arithmetic on both engines, because ceil(0.9*n) in doubles rounds
    differently than in DuckDB's decimal literals.

    This is the distributed-exact-quantile shape for when a group is
    too large to buffer: ``functions.quantiles.
    exact_quantile_values_per_group`` brackets the target rank with a
    percentile_approx sketch, pins it with exact counts, and sorts
    only the ~4n/10000 bracket survivors — never a whole group
    through one window task (l_returnflag has 3 values, so the plain
    partitioned window would stream a third of lineitem per task at
    scale). The selected VALUE is deterministic under ties: position
    k of the sorted multiset is the same value under any tie
    permutation, and the oracle keeps expressing the plain-window
    semantics the helper exactly reproduces.
    """
    tune(spark)
    from ..functions.quantiles import exact_quantile_values_per_group

    li = table(spark, sf_dir, "lineitem")
    vals = exact_quantile_values_per_group(
        li.select("l_returnflag", "l_extendedprice"),
        ["l_returnflag"],
        "l_extendedprice",
        [("p90", 9, 10)],
    )
    return vals.select("l_returnflag", F.col("value").alias("p90_price"))


@query(
    "scalar_map_struct_functions",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status_val,
           2 AS n_keys,
           'prio,status' AS keys_sorted,
           o_custkey AS struct_custkey,
           CAST(o_totalprice AS DOUBLE) AS struct_price,
           1 AS n_status_keys,
           upper(o_orderpriority) AS prio_upper,
           3 AS n_keys_concat
    FROM orders
    """,
)
def scalar_map_struct_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map/struct function family sweep: map construction, key lookup,
    key enumeration, map_filter / transform_values higher-order
    functions, map_concat, and struct field access — the complex-type
    layer a semi-structured pipeline (Layer A's dynamic payloads)
    leans on. All JVM-side, inside whole-stage codegen; the oracle
    states each expected value directly from the base columns, so the
    check verifies Spark's complex-type semantics rather than
    mirroring them.
    """
    tune(spark)
    o = table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("prio"), F.col("o_orderpriority"),
    )
    s = F.struct(
        F.col("o_custkey").alias("ck"),
        F.col("o_totalprice").cast("double").alias("tp"),
    )
    return o.select(
        "o_orderkey",
        F.element_at(m, "status").alias("status_val"),
        F.size(m).alias("n_keys"),
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("keys_sorted"),
        s.getField("ck").alias("struct_custkey"),
        s.getField("tp").alias("struct_price"),
        F.size(F.map_filter(m, lambda k, v: k == F.lit("status"))).alias(
            "n_status_keys"
        ),
        F.element_at(
            F.transform_values(m, lambda k, v: F.upper(v)), "prio"
        ).alias("prio_upper"),
        F.size(
            F.map_concat(
                m, F.create_map(F.lit("extra"), F.col("o_orderkey").cast("string"))
            )
        ).alias("n_keys_concat"),
    )


# count-min sketch geometry: 4 independent hash rows x 256 buckets.
# Unlike HLL/KLL (engine-private sketch formats, rows-only checked),
# count-min is just hashed counters — built here from the repo's
# shared md5 hash family, so DuckDB reproduces the sketch bit-for-bit
# and the calibration table is value-checked.
_CM_D = 4
_CM_W = 256

# DuckDB rendering of md5_long(uid, salt=f"cm{d}") with d a SQL column
_CM_SQL_BUCKET = (
    "CAST(('0x' || substr(md5('cm' || CAST(d.d AS VARCHAR) || ':' "
    "|| CAST({uid} AS VARCHAR)), 1, 15)) AS BIGINT) % " + str(_CM_W)
)


def _cm_probe_array(key_col: str):
    """exploded (d, bucket) probes for one key — shared by the batch
    calibration query and the streaming continuous sketch."""
    k = F.col(key_col).cast("string")
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    (md5_long(k, salt=f"cm{d}") % _CM_W).alias("bucket"),
                )
                for d in range(_CM_D)
            ]
        )
    )


def countmin_cells(df: DataFrame, key_col: str) -> DataFrame:
    """(d, bucket, c): the count-min cell counts of ``df[key_col]`` —
    a mergeable integer partial (sum cells to merge sketches), which
    is what makes the sketch streamable batch-by-batch."""
    return (
        df.select(_cm_probe_array(key_col).alias("x"))
        .select("x.d", "x.bucket")
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


@query(
    "sketch_countmin_user_counts",
    oracle=f"""
    WITH cells AS (
      SELECT d.d AS d, {_CM_SQL_BUCKET.format(uid="user_id")} AS bucket,
             COUNT(*) AS c
      FROM events, (SELECT UNNEST(range(0, {_CM_D})) AS d) d
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id
    ),
    est AS (
      SELECT e.user_id, MIN(c.c) AS cm_estimate
      FROM exact e, (SELECT UNNEST(range(0, {_CM_D})) AS d) d
      JOIN cells c
        ON c.d = d.d
       AND c.bucket = {_CM_SQL_BUCKET.format(uid="e.user_id")}
      GROUP BY e.user_id
    )
    SELECT e.user_id,
           CAST(e.exact_count AS BIGINT) AS exact_count,
           CAST(s.cm_estimate AS BIGINT) AS cm_estimate,
           CAST(s.cm_estimate - e.exact_count AS BIGINT) AS overcount
    FROM exact e JOIN est s USING (user_id)
    """,
)
def sketch_countmin_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch calibration table: per-user event counts
    estimated from a 4x256 count-min sketch next to the exact counts
    (overcount >= 0 always; the table is how a deployment sizes
    width/depth for its key skew).

    Scale shape — why count-min matters at 100 TB: the sketch build is
    ONE pass with map-side partial aggregation into at most
    4x256 = 1024 cells (mergeable integer counters — the same
    property the streaming rollup exploits), so frequency estimates
    for any later key cost a broadcast of ~1 KB instead of a shuffle
    of the key universe. The estimate join here broadcasts the sketch
    onto the exact per-key counts purely to *grade* it.

    Deterministic + oracle-checked: cells derive from the shared md5
    mixer (functions/hashing.py), not an engine-private sketch format
    — DuckDB rebuilds the identical sketch, unlike the rows-only
    HLL/KLL queries (approx_distinct_users, approx_percentile_prices).
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    cells = countmin_cells(e, "user_id")
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    probes = exact.select(
        "user_id", "exact_count", _cm_probe_array("user_id").alias("x")
    ).select("user_id", "exact_count", "x.d", "x.bucket")
    return (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("user_id")
        .agg(
            F.first("exact_count").cast("long").alias("exact_count"),
            F.min("c").cast("long").alias("cm_estimate"),
        )
        .withColumn(
            "overcount",
            (F.col("cm_estimate") - F.col("exact_count")).cast("long"),
        )
    )


@query(
    "scalar_bitwise_functions",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS low_byte,
           o_orderkey | 4096 AS with_flag,
           xor(o_orderkey, o_custkey) AS key_xor,
           o_orderkey << 2 AS shifted_left,
           o_orderkey >> 3 AS shifted_right,
           CAST(bit_count(o_orderkey) AS INTEGER) AS popcount
    FROM orders
    """,
)
def scalar_bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar family: AND/OR/XOR, shifts, popcount — the bit
    manipulation layer bitmap indexes and flag columns build on (the
    aggregate counterpart is agg_bitwise_line_masks). All JVM-side
    integer ops inside whole-stage codegen."""
    tune(spark)
    o = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.col("o_custkey")).alias("key_xor"),
        F.shiftleft(k, 2).alias("shifted_left"),
        F.shiftright(k, 3).alias("shifted_right"),
        F.bit_count(k).alias("popcount"),
    )


@query(
    "scalar_try_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE) / NULLIF(o_orderkey % 3, 0)
             AS safe_div,
           TRY_CAST(CASE WHEN o_orderkey % 2 = 0
                         THEN CAST(o_orderkey AS VARCHAR)
                         ELSE CAST(o_orderkey AS VARCHAR) || 'x' END
                    AS BIGINT) AS maybe_int,
           TRY_CAST(o_orderpriority AS DOUBLE) AS never_num
    FROM orders
    """,
)
def scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe error-handling expressions: try_divide (NULL on
    division by zero instead of a runtime error) and try_cast (NULL on
    malformed input) — the functions that keep a 100-TB job from dying
    on one bad row under ANSI mode, mirrored by DuckDB's NULLIF
    division and TRY_CAST."""
    tune(spark)
    o = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    maybe = F.when(k % 2 == 0, k.cast("string")).otherwise(
        F.concat(k.cast("string"), F.lit("x"))
    )
    return o.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice").cast("double"), k % 3).alias(
            "safe_div"
        ),
        maybe.try_cast("bigint").alias("maybe_int"),
        F.col("o_orderpriority").try_cast("double").alias("never_num"),
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH g AS (
      SELECT l_returnflag, l_extendedprice AS price,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY l_returnflag, l_extendedprice),
    c AS (
      SELECT l_returnflag, price, w,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price) AS cum,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tot
      FROM g)
    SELECT l_returnflag,
           CAST(MAX(tot) AS BIGINT) AS total_weight,
           MIN(CASE WHEN 2 * cum >= tot THEN price END)
             AS weighted_median_price
    FROM c GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted (lower) median of ``l_extendedprice`` weighted
    by quantity, per return flag: the smallest price whose cumulative
    weight reaches half the group's total — the robust center a
    quantity-weighted pricing dashboard wants, with no weighted-
    quantile UDAF buffering a group in memory.

    Scale shape: weights first collapse onto DISTINCT prices (a
    map-side-combinable integer aggregate — the shuffle carries one
    row per (flag, price), bounded by the price domain, not the row
    count), and only that collapsed table flows through the
    cumulative window. Were the price domain itself unbounded, the
    cumsum would range-bucket exactly like
    ``functions/ranks.global_rank_desc``. The crossing row is picked
    by a conditional MIN — deterministic because cum is strictly
    increasing over distinct prices.
    """
    tune(spark)
    li = table(spark, sf_dir, "lineitem")
    g = (
        li.groupBy("l_returnflag", F.col("l_extendedprice").alias("price"))
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("w"))
    )
    wcum = Window.partitionBy("l_returnflag").orderBy("price")
    wtot = Window.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag",
        "price",
        F.sum("w").over(wcum).alias("cum"),
        F.sum("w").over(wtot).alias("tot"),
    )
    return (
        c.groupBy("l_returnflag")
        .agg(
            F.max("tot").cast("long").alias("total_weight"),
            F.min(
                F.when(F.lit(2) * F.col("cum") >= F.col("tot"), F.col("price"))
            ).alias("weighted_median_price"),
        )
        .orderBy("l_returnflag")
    )


_SQL_HLL_ROLLUP = """
    WITH days AS (
      SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
             CAST(ts AS DATE) AS day, user_id
      FROM events),
    daily AS (
      SELECT week, day, COUNT(DISTINCT user_id) AS du
      FROM days GROUP BY week, day),
    dd AS (
      SELECT week, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(du) AS BIGINT) AS sum_daily_exact
      FROM daily GROUP BY week),
    weekly AS (
      SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT)
               AS exact_week_users
      FROM days GROUP BY week)
    -- the sketch estimate itself is engine-specific; the ORACLE-side
    -- contract is that every Spark-computed invariant column is TRUE
    -- (hash-match fails if the estimate drifts out of HLL error or
    -- the daily-merge path diverges from the direct weekly sketch)
    SELECT dd.week, dd.n_days, weekly.exact_week_users,
           dd.sum_daily_exact,
           TRUE AS est_within_error,
           TRUE AS merge_equals_direct,
           TRUE AS est_le_sum_daily
    FROM dd JOIN weekly ON dd.week = weekly.week
    ORDER BY dd.week
"""


@query("sketch_hll_mergeable_rollup", oracle=_SQL_HLL_ROLLUP)
def sketch_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counting: per-day HLL sketches of
    user_id, merged upward to per-week estimates WITHOUT rescanning
    events — the datasketches pattern a 100-TB deployment uses so
    "distinct users this week/month/quarter" reads pre-aggregated
    daily sketches (~KB each) instead of the raw log. The daily layer
    is what a continuous rollup would persist; the weekly layer here
    is built purely by ``hll_union_agg`` over those sketches.

    DuckDB's approx_count_distinct is a different sketch, so the raw
    estimate can't be oracle-matched — instead the output carries the
    exact rollup columns PLUS the sketch invariants as booleans the
    oracle asserts TRUE (VERDICT r5 item 4): the merged estimate sits
    within HLL error (lgConfigK=12, rsd ~1.6%, bound 8%) of the exact
    weekly count; merging daily sketches equals sketching the raw
    week directly (register-max is associative, so this is exact
    equality, the mergeability property itself); and the estimate
    never exceeds 1.08x the sum of daily exact counts.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    days = e.select(
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    daily = days.groupBy("week", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_day_users"),
    )
    weekly = daily.groupBy("week").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("exact_day_users").cast("long").alias("sum_daily_exact"),
    )
    direct = days.groupBy("week").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "direct_est"
        ),
        F.countDistinct("user_id").cast("long").alias("exact_week_users"),
    )
    est, exact = F.col("est"), F.col("exact_week_users")
    return (
        weekly.join(direct, "week")
        .select(
            "week",
            "n_days",
            "exact_week_users",
            "sum_daily_exact",
            (
                F.abs(est - exact)
                <= F.greatest(F.lit(2.0), 0.08 * exact.cast("double"))
            ).alias("est_within_error"),
            (est == F.col("direct_est")).alias("merge_equals_direct"),
            (est <= 1.08 * F.col("sum_daily_exact").cast("double")).alias(
                "est_le_sum_daily"
            ),
        )
        .orderBy("week")
    )


@query(
    "orders_ship_latency_percentiles",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS days,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    n AS (SELECT priority, COUNT(*) AS n,
                 CAST(SUM(days) AS BIGINT) AS sum_days
          FROM lat GROUP BY priority),
    r AS (SELECT priority, days,
                 ROW_NUMBER() OVER (PARTITION BY priority
                                    ORDER BY days, l_orderkey, l_linenumber)
                   AS rn
          FROM lat)
    SELECT n.priority,
           CAST(n.n AS BIGINT) AS n_items,
           CAST(n.sum_days AS DOUBLE) / n.n AS avg_days,
           MIN(CASE WHEN rn = (n.n + 1) // 2 THEN days END) AS p50_days,
           MIN(CASE WHEN rn = (n.n * 9 + 9) // 10 THEN days END) AS p90_days
    FROM r JOIN n ON n.priority = r.priority
    GROUP BY n.priority, n.n, n.sum_days ORDER BY n.priority
    """,
)
def orders_ship_latency_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-ship latency SLA table: per order priority, the mean
    and EXACT p50/p90 of days between order date and line-item ship
    date — the logistics dashboard row the reference's users build
    over their ClickHouse tables.

    Latencies come from one co-partitioned equi join; percentiles use
    the rank-selection shape (position k of the per-group sort — no
    percentile UDAF buffering a group, same machinery as
    ``agg_exact_p90_rank``) with integer-arithmetic positions so both
    engines pick identical ranks. The per-priority windows partition
    on the group key; at 100-TB the per-group sort is the same sort a
    window already pays, spread across tasks by group.
    """
    tune(spark)
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    lat = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days"),
        "l_orderkey",
        "l_linenumber",
    )
    n = lat.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("days").cast("long").alias("sum_days"),
    )
    w = Window.partitionBy("priority").orderBy(
        "days", "l_orderkey", "l_linenumber"
    )
    r = lat.select("priority", "days", F.row_number().over(w).alias("rn"))
    return (
        r.join(F.broadcast(n), "priority")
        .groupBy("priority", "n", "sum_days")
        .agg(
            F.min(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("days"))
            ).alias("p50_days"),
            F.min(
                F.when(
                    F.col("rn") == F.expr("(n * 9 + 9) div 10"), F.col("days")
                )
            ).alias("p90_days"),
        )
        .select(
            "priority",
            F.col("n").alias("n_items"),
            (F.col("sum_days").cast("double") / F.col("n")).alias("avg_days"),
            "p50_days",
            "p90_days",
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------
# Pareto concentration curve of customer revenue
# --------------------------------------------------------------------

_SQL_PARETO = """
    WITH rev AS (
      SELECT o_custkey AS ck,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100)
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS total FROM rev),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC, ck) AS r
      FROM rev),
    dec AS (
      SELECT ((r - 1) * 10) // n + 1 AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(cents) AS BIGINT) AS dc
      FROM ranked, n GROUP BY 1),
    cum AS (
      SELECT a.decile, a.n_customers, a.dc,
             CAST(SUM(b.dc) AS BIGINT) AS cum_c
      FROM dec a JOIN dec b ON b.decile <= a.decile
      GROUP BY a.decile, a.n_customers, a.dc)
    SELECT decile, n_customers,
           CAST(dc AS DOUBLE) / 100 AS decile_revenue,
           CAST(cum_c AS DOUBLE) / (SELECT total FROM n)
             AS cum_revenue_share
    FROM cum
"""


@query("customer_pareto_curve", oracle=_SQL_PARETO)
def customer_pareto_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration curve: customers ranked by revenue
    (descending), split into 10 equal-count deciles, with each
    decile's revenue and the cumulative revenue share — the "top 10%
    of sources = how much of the corpus?" audit, complementing
    ``stats_gini_revenue_by_nation`` with the full curve.

    Scale: ranks come from ``functions.ranks.global_rank_desc``
    (percentile-bucketed exact global ranking — no global window, the
    registry-wide plan gate forbids those); decile assignment is
    integer arithmetic on the rank; the 10-row cumulative is a tiny
    self-join, not a window. All reductions are exact int64 cents; the
    two output ratios are single IEEE divisions.
    """
    tune(spark)
    from ..functions.ranks import global_rank_desc

    o = table(spark, sf_dir, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(dec("o_totalprice", 14) * 100).cast("long").alias("cents")
    )
    ranked, n_total = global_rank_desc(rev, "cents", "ck", rank_col="r")
    # Integer `div`, matching the oracle's `//`: the double-divide +
    # cast pattern rounds above 2^53 ranks and could misplace a
    # boundary customer's decile at extreme scale.
    by_dec = ranked.groupBy(
        F.expr(f"((r - 1) * 10) div {int(n_total)}").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("dc"),
    )
    by_dec = by_dec.withColumn("decile", F.col("decile") + 1)
    total = ranked.agg(F.sum("cents").cast("long").alias("total"))
    a = by_dec.select(
        F.col("decile").alias("da"),
        F.col("n_customers").alias("na"),
        F.col("dc").alias("dca"),
    )
    b = by_dec.select(F.col("decile").alias("db"), F.col("dc").alias("dcb"))
    cum = (
        a.join(F.broadcast(b), F.col("db") <= F.col("da"))
        .groupBy("da", "na", "dca")
        .agg(F.sum("dcb").cast("long").alias("cum_c"))
    )
    return cum.crossJoin(F.broadcast(total)).select(
        F.col("da").alias("decile"),
        F.col("na").alias("n_customers"),
        (F.col("dca").cast("double") / 100).alias("decile_revenue"),
        (F.col("cum_c").cast("double") / F.col("total").cast("double")).alias(
            "cum_revenue_share"
        ),
    )


# --------------------------------------------------------------------
# Mergeable histogram rollup: daily bins -> weekly percentiles
# --------------------------------------------------------------------

_SQL_HIST_ROLLUP = f"""
    WITH days AS (
      SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
             CAST(ts AS DATE) AS day, value
      FROM events),
    db AS (
      SELECT week, day,
             LEAST(CAST(FLOOR(value / {BIN_WIDTH}) AS BIGINT),
                   {TOP_BIN}) AS bin,
             COUNT(*) AS cnt
      FROM days GROUP BY 1, 2, 3),
    wb AS (
      SELECT week, bin, CAST(SUM(cnt) AS BIGINT) AS w_cnt
      FROM db GROUP BY 1, 2),
    tot AS (SELECT week, CAST(SUM(w_cnt) AS BIGINT) AS n FROM wb GROUP BY 1),
    cum AS (
      SELECT week, bin,
             SUM(w_cnt) OVER (PARTITION BY week ORDER BY bin) AS cum
      FROM wb),
    pb AS (
      SELECT c.week,
             MIN(CASE WHEN c.cum >= (t.n + 1) // 2 THEN c.bin END)
               AS p50_bin,
             MIN(CASE WHEN c.cum >= (9 * t.n + 9) // 10 THEN c.bin END)
               AS p90_bin
      FROM cum c JOIN tot t USING (week) GROUP BY c.week),
    rnk AS (
      SELECT week, value,
             ROW_NUMBER() OVER (PARTITION BY week ORDER BY value) AS r,
             COUNT(*) OVER (PARTITION BY week) AS n
      FROM days),
    ex AS (
      SELECT week,
             MIN(CASE WHEN r = (n + 1) // 2 THEN value END) AS p50_exact,
             MIN(CASE WHEN r = (9 * n + 9) // 10 THEN value END)
               AS p90_exact
      FROM rnk GROUP BY week)
    SELECT pb.week, tot.n, pb.p50_bin, pb.p90_bin,
           ex.p50_exact, ex.p90_exact,
           pb.p50_bin = LEAST(CAST(FLOOR(ex.p50_exact / {BIN_WIDTH})
                                   AS BIGINT), {TOP_BIN}) AS p50_in_bin,
           pb.p90_bin = LEAST(CAST(FLOOR(ex.p90_exact / {BIN_WIDTH})
                                   AS BIGINT), {TOP_BIN}) AS p90_in_bin
    FROM pb JOIN tot USING (week) JOIN ex USING (week)
    ORDER BY pb.week
"""


@query("sketch_histogram_weekly_rollup", oracle=_SQL_HIST_ROLLUP)
def sketch_histogram_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable percentiles: per-day fixed-bin histograms of
    the event value, merged upward to per-week P50/P90 WITHOUT
    rescanning raw events — the quantile sibling of
    ``sketch_hll_mergeable_rollup``. The daily (week, day, bin, cnt)
    layer is what a continuous rollup persists; weekly percentiles
    come purely from summing those counts (integer-exact and
    associative, so daily partials from different machines or
    backfills merge losslessly), reading the first bin whose running
    total reaches ceil(q*n).

    The rollup's answer is a BIN (value known to within the bin
    width); the output also carries the exact type-1 percentile
    computed independently via bracketed rank selection
    (``exact_quantile_values_per_group`` — never a whole-group window
    sort) and the invariant columns the oracle asserts: the exact
    percentile always lands inside the histogram's answer bin, by
    construction of cumulative counts. The bin grid (``bin_of``) and
    the weekly step (``weekly_percentile_bins``) are the streaming
    rollup's, ``streaming.histogram``.
    """
    tune(spark)
    from ..functions.quantiles import exact_quantile_values_per_group

    e = table(spark, sf_dir, "events")
    days = e.select(
        F.date_trunc("week", "ts").alias("week"),
        F.to_date("ts").alias("day"),
        "value",
    )
    db = days.groupBy("week", "day", bin_of(F.col("value")).alias("bin")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ex = (
        exact_quantile_values_per_group(
            days.select("week", "value"),
            ["week"],
            "value",
            [("p50", 1, 2), ("p90", 9, 10)],
        )
        .groupBy("week")
        .agg(
            F.min(F.when(F.col("q_label") == "p50", F.col("value"))).alias(
                "p50_exact"
            ),
            F.min(F.when(F.col("q_label") == "p90", F.col("value"))).alias(
                "p90_exact"
            ),
        )
    )
    return (
        weekly_percentile_bins(db)
        .join(F.broadcast(ex), "week")
        .select(
            "week",
            "n",
            "p50_bin",
            "p90_bin",
            "p50_exact",
            "p90_exact",
            (F.col("p50_bin") == bin_of(F.col("p50_exact"))).alias(
                "p50_in_bin"
            ),
            (F.col("p90_bin") == bin_of(F.col("p90_exact"))).alias(
                "p90_in_bin"
            ),
        )
        .orderBy("week")
    )


# --------------------------------------------------------------------
# Boolean / conditional aggregate family
# --------------------------------------------------------------------

_SQL_BOOL_FAMILY = """
    SELECT event_type,
           CAST(COUNT(*) FILTER (WHERE value > 100) AS BIGINT)
             AS n_big,
           CAST(COUNT(*) FILTER (WHERE user_id IS NULL) AS BIGINT)
             AS n_anon,
           BOOL_AND(value >= 0) AS all_nonneg,
           BOOL_OR(value > 400) AS any_huge,
           BOOL_AND(user_id IS NOT NULL) AS fully_attributed
    FROM events GROUP BY event_type
"""


@query("agg_boolean_family", oracle=_SQL_BOOL_FAMILY)
def agg_boolean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregate family — count_if, bool_and
    (EVERY), bool_or (ANY/SOME) — the SQL surface behind data-quality
    assertions ("all values non-negative", "any value out of range",
    "fully attributed type"). All are map-side-combinable monoids
    (sum / and / or), so the shuffle carries #groups rows; boolean
    results are exact by construction, no float doctrine needed.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_if(F.col("value") > 100).cast("long").alias("n_big"),
        F.count_if(F.col("user_id").isNull()).cast("long").alias("n_anon"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 400).alias("any_huge"),
        F.bool_and(F.col("user_id").isNotNull()).alias("fully_attributed"),
    )


_SKY_BUCKETS = 64


@query(
    "skyline_parts_price_size",
    oracle="""
    WITH g AS (
      SELECT p_retailprice AS price, MIN(p_size) AS gmin
      FROM part GROUP BY 1
    ),
    s AS (
      SELECT price, gmin,
             MIN(gmin) OVER (ORDER BY price
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS smin
      FROM g
    )
    SELECT p.p_partkey, p.p_retailprice AS price, p.p_size
    FROM part p JOIN s ON s.price = p.p_retailprice
    WHERE p.p_size = s.gmin AND (s.smin IS NULL OR s.gmin < s.smin)
    """,
)
def skyline_parts_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query: parts not dominated on
    (p_retailprice, p_size), both minimized — the multi-criteria
    shortlist operator (cheapest-for-its-size catalog frontier).
    Dominance: y beats x iff y.price <= x.price AND y.size <= x.size
    with at least one strict; ties on BOTH axes are mutually
    non-dominating and all survive.

    Shape: the O(n^2) NOT-EXISTS definition reduces, for 2-D min-min
    skylines, to a strict prefix-min of size over the price order —
    x survives iff it has the min size of its exact-price group AND
    every strictly-cheaper group's min size is larger. The prefix-min
    runs WITHOUT a global window (the registry plan gate forbids
    empty-partitionSpec windows): per-price group mins are bucketed
    by approx price quantiles, per-bucket mins fold into prefix
    scalars on the driver (O(n_buckets) collect — the
    ``global_rank_desc`` discipline), and the strict within-bucket
    scan is a bucket-partitioned ROWS window over one-row-per-price
    groups. Bucket boundaries only balance work — any split yields
    the same exact answer. All comparisons are on stored doubles and
    ints: no arithmetic, nothing to quantize.
    """
    tune(spark)
    p = table(spark, sf_dir, "part")
    g = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.min("p_size").alias("gmin")
    )
    qs = [i / _SKY_BUCKETS for i in range(1, _SKY_BUCKETS)]
    row = g.agg(F.percentile_approx("price", qs, 10_000).alias("bs")).first()
    bounds = sorted({float(b) for b in (row["bs"] or []) if b is not None})
    if bounds:
        barr = F.array(*[F.lit(b) for b in bounds])
        bucket = F.size(F.filter(barr, lambda b: b < F.col("price")))
    else:
        bucket = F.lit(0)
    gb = g.withColumn("__b", bucket)
    # per-bucket min -> strict prefix min across buckets, computed on
    # the driver over O(n_buckets) scalars and rejoined as literals.
    bmins = {
        r["__b"]: r["m"]
        for r in gb.groupBy("__b").agg(F.min("gmin").alias("m")).collect()
    }
    pre, acc = [], None
    for b in range(len(bounds) + 1):
        pre.append(acc)
        m = bmins.get(b)
        if m is not None:
            acc = m if acc is None or m < acc else acc
    parr = F.array(
        *[F.lit(v).cast("int") if v is not None else F.lit(None).cast("int")
          for v in pre]
    )
    w = (
        Window.partitionBy("__b")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = gb.select(
        "price",
        "gmin",
        F.least(
            F.coalesce(F.min("gmin").over(w), F.lit(None).cast("int")),
            F.element_at(parr, F.col("__b") + 1),
        ).alias("smin"),
    )
    # least() is null-safe only when BOTH are null; with one null it
    # returns the other — exactly the semantics the merge needs.
    return (
        p.join(s, p["p_retailprice"] == s["price"])
        .filter(
            (F.col("p_size") == F.col("gmin"))
            & (F.col("smin").isNull() | (F.col("gmin") < F.col("smin")))
        )
        .select("p_partkey", F.col("p_retailprice").alias("price"), "p_size")
    )


_SYS_STEP = 100


@query(
    "sample_systematic_every_k",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, n_chars, rk
    FROM r WHERE (rk - 1) % {_SYS_STEP} = 0
    """,
)
def sample_systematic_every_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every-k-th) sampling: rank all documents by
    (n_chars DESC, doc_id) and keep ranks 1, 101, 201, ... — the
    classic length-ordered systematic probe whose sample spans the
    whole size distribution by construction (each kept row represents
    one contiguous stratum of 100 ranks), unlike a Bernoulli sample
    which can miss the tails.

    Scale: the global order comes from
    ``functions.ranks.global_rank_desc`` (percentile-bucketed exact
    ranking — no global window; the oracle uses the plain ROW_NUMBER
    formulation the primitive is proven equal to). The stride filter
    is integer arithmetic on the rank.
    """
    tune(spark)
    from ..functions.ranks import global_rank_desc

    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked, _ = global_rank_desc(d, "n_chars", "doc_id", rank_col="rk")
    return ranked.filter((F.col("rk") - 1) % _SYS_STEP == 0).select(
        "doc_id", "n_chars", "rk"
    )


_PVM_Y1, _PVM_Y2 = 1995, 1996


@query(
    "orders_price_volume_mix",
    oracle=f"""
    WITH base AS (
      SELECT p.p_brand AS brand, YEAR(l.l_shipdate) AS y,
             CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT) AS q,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE YEAR(l.l_shipdate) IN ({_PVM_Y1}, {_PVM_Y2})
      GROUP BY 1, 2
    ),
    j AS (
      SELECT a.brand, a.q AS q1, a.rev AS rev1, b.q AS q2, b.rev AS rev2
      FROM base a JOIN base b ON b.brand = a.brand
      WHERE a.y = {_PVM_Y1} AND b.y = {_PVM_Y2}
    )
    SELECT brand, q1, q2, rev1, rev2,
           rev2 - rev1 AS delta_cents,
           (CAST(rev2 AS DOUBLE) / q2 - CAST(rev1 AS DOUBLE) / q1) * q1
             AS price_effect_cents,
           (CAST(rev1 AS DOUBLE) / q1) * (q2 - q1) AS volume_effect_cents,
           (CAST(rev2 AS DOUBLE) / q2 - CAST(rev1 AS DOUBLE) / q1)
             * (q2 - q1) AS mix_effect_cents
    FROM j
    """,
)
def orders_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix decomposition of year-over-year revenue per
    brand (1995 -> 1996): Δrevenue split into the price effect
    ((p2−p1)·q1), the volume effect (p1·Δq), and the joint/mix term
    ((p2−p1)·Δq), which reconstruct the exact delta by construction —
    the standard FP&A bridge ("did we sell more, or sell dearer?")
    that none of the TPC-H aggregates express.

    Shape: one (brand, year) aggregate over the fact table (exact
    integer units and cents), then a model-level brand self-join.
    Unit prices are rationals of exact integers; each effect is one
    shared double expression, and ``delta_cents`` stays pure integer
    so the decomposition's completeness is auditable row by row.
    """
    tune(spark)
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = (
        l.filter(F.year("l_shipdate").isin(_PVM_Y1, _PVM_Y2))
        .join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("l_shipdate").alias("y"),
        )
        .agg(
            F.sum(F.round("l_quantity").cast("long")).cast("long").alias("q"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("rev"),
        )
    )
    a = base.filter(F.col("y") == _PVM_Y1).select(
        "brand",
        F.col("q").alias("q1"),
        F.col("rev").alias("rev1"),
    )
    b = base.filter(F.col("y") == _PVM_Y2).select(
        "brand",
        F.col("q").alias("q2"),
        F.col("rev").alias("rev2"),
    )
    p1 = F.col("rev1").cast("double") / F.col("q1")
    p2 = F.col("rev2").cast("double") / F.col("q2")
    return a.join(b, "brand").select(
        "brand",
        "q1",
        "q2",
        "rev1",
        "rev2",
        (F.col("rev2") - F.col("rev1")).alias("delta_cents"),
        ((p2 - p1) * F.col("q1")).alias("price_effect_cents"),
        (p1 * (F.col("q2") - F.col("q1"))).alias("volume_effect_cents"),
        ((p2 - p1) * (F.col("q2") - F.col("q1"))).alias("mix_effect_cents"),
    )


@query(
    "orders_repeat_purchase_latency",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders),
    f AS (SELECT o_custkey, o_orderdate AS d1 FROM r WHERE rn = 1),
    s AS (SELECT o_custkey, o_orderdate AS d2 FROM r WHERE rn = 2),
    g AS (
      SELECT c.c_mktsegment AS segment,
             COUNT(*) AS n_customers,
             CAST(COUNT(s.o_custkey) AS BIGINT) AS n_repeat,
             CAST(SUM(CASE WHEN s.o_custkey IS NOT NULL
                      THEN datediff('day', f.d1, s.d2) END) AS BIGINT)
               AS gap_days_sum
      FROM f
      JOIN customer c ON c.c_custkey = f.o_custkey
      LEFT JOIN s ON s.o_custkey = f.o_custkey
      GROUP BY 1)
    SELECT segment, n_customers, n_repeat,
           CAST(n_repeat AS DOUBLE) / n_customers AS repeat_rate,
           CAST(gap_days_sum AS DOUBLE) / n_repeat AS avg_days_to_second
    FROM g
    """,
)
def orders_repeat_purchase_latency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Repeat-purchase behavior per market segment: how many
    first-time customers ever order a second time, and how long the
    first-to-second-order gap runs — the retention/latency pair a
    lifecycle-marketing dashboard leads with (the order-level
    complement of ``events_retention_halflife``'s event-level curve).

    Shape: the first/second order per customer is one
    customer-partitioned ROW_NUMBER window (never global), the
    segment lookup is a broadcast dim join, and the report is exact
    integer counts/day-sums with two final divisions.
    """
    tune(spark)
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = o.select(
        "o_custkey", "o_orderdate", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 2)
    f = r.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("o_orderdate").alias("d1")
    )
    s = r.filter(F.col("rn") == 2).select(
        F.col("o_custkey").alias("s_ck"), F.col("o_orderdate").alias("d2")
    )
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    g = (
        f.join(F.broadcast(c), "o_custkey")
        .join(s, f["o_custkey"] == s["s_ck"], "left")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.count("s_ck").cast("long").alias("n_repeat"),
            F.sum(
                F.when(
                    F.col("s_ck").isNotNull(), F.datediff("d2", "d1")
                )
            )
            .cast("long")
            .alias("gap_days_sum"),
        )
    )
    return g.select(
        "segment",
        "n_customers",
        "n_repeat",
        (F.col("n_repeat").cast("double") / F.col("n_customers")).alias(
            "repeat_rate"
        ),
        (F.col("gap_days_sum").cast("double") / F.col("n_repeat")).alias(
            "avg_days_to_second"
        ),
    )
