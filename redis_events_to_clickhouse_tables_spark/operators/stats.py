"""Statistical-inference and privacy aggregates (Layer B).

OLS regression, chi-square independence, an A/B two-proportion z-test,
k-anonymity auditing, and a mergeable fixed-bin histogram-percentile
sketch. None of these exist in the reference (its §2.9 surface has no
relational operators); they extend the training-data-pipeline layer
with the measurement primitives a 100-TB curation job needs: "did my
filter change the label distribution?" (chi-square), "is variant B's
conversion lift real?" (z-test), "is this export re-identifiable?"
(k-anonymity), "what is p99 without a global sort?" (binned sketch).

Determinism strategy (same as ``advanced.agg_stats_explicit``): every
order-sensitive reduction happens in exact integer/decimal arithmetic
(associative, parallelism-proof); the closed-form statistic is then
ONE scalar IEEE expression evaluated identically by Spark and the
DuckDB oracle. Where a sum of data-dependent doubles is unavoidable
(chi-square terms), each term is floor-scaled to an integer first
(``floor(term * 1e6)`` — floor of an identical double is identical,
with no round-half tie semantics to disagree on) so the reduction is
exact int64 and order-free; the documented cost is <=1e-6 absolute
per term. DuckDB SUMs over int are cast to BIGINT to match Spark's
long (DuckDB would otherwise widen to HUGEINT), and double literals
are written ``CAST(x AS DOUBLE)`` (bare ``4.0`` parses as DECIMAL in
DuckDB and drags expressions into decimal arithmetic Spark never
performs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import DUCKDB_MD5_LONG, md5_long
from ..functions.numeric import dec
from ..functions.lineage import model_checkpoint
from ..registry import query
from ..session import tune
from ..sources.tables import table


# --------------------------------------------------------------------
# OLS regression from exact power sums
# --------------------------------------------------------------------

_SQL_REGRESSION = """
    WITH sums AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(12,2))))
                  AS DOUBLE) AS sx,
             CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(12,2))
                            * CAST(l_quantity AS DECIMAL(12,2))))
                  AS DOUBLE) AS sxx,
             CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(14,2))))
                  AS DOUBLE) AS sy,
             CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                            * CAST(l_extendedprice AS DECIMAL(14,2))))
                  AS DOUBLE) AS syy,
             CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(12,2))
                            * CAST(l_extendedprice AS DECIMAL(14,2))))
                  AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             AS intercept,
           ((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
    FROM sums
"""


@query("stats_regression_price_qty", oracle=_SQL_REGRESSION)
def stats_regression_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS of extendedprice on quantity (slope /
    intercept / R²) via exact decimal power sums.

    Scale: one map-side-combined groupBy over lineitem shuffling a
    3-row result; the regression itself is a scalar expression. This
    is how a 1000-executor job fits a per-stratum trend without ever
    materializing the points: moments commute with partitioning.

    Cross-engine note: power sums are truncated to their integer part
    (FLOOR — cast-to-decimal(38,0) rounds HALF_UP in Spark but not in
    DuckDB, so the truncation must be an explicit floor) before the
    double cast. A decimal whose scaled value exceeds 2^53 converts
    to double with one rounding in Spark (correctly-rounded
    BigDecimal) but two in DuckDB (int128 halves), which differed by
    1 ulp on syy; the integer part stays exactly representable far
    longer and the dropped cents are relative error ~1e-18 on the
    statistic.
    """
    tune(spark)
    l = table(spark, sf_dir, "lineitem")
    q, p = dec("l_quantity", 12), dec("l_extendedprice", 14)

    def isum(c):
        return F.floor(F.sum(c)).cast("double")

    sums = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        isum(q).alias("sx"),
        isum(q * q).alias("sxx"),
        isum(p).alias("sy"),
        isum(p * p).alias("syy"),
        isum(q * p).alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (
        F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy")
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        (
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("r2"),
    )


# --------------------------------------------------------------------
# Chi-square independence: nation x market segment
# --------------------------------------------------------------------

_SQL_CHI2 = """
    WITH cells AS (
      SELECT c_nationkey AS nk, c_mktsegment AS seg, COUNT(*) AS obs
      FROM customer GROUP BY c_nationkey, c_mktsegment),
    rt AS (SELECT nk, SUM(obs) AS rtot FROM cells GROUP BY nk),
    ct AS (SELECT seg, SUM(obs) AS ctot FROM cells GROUP BY seg),
    tot AS (SELECT SUM(obs) AS n, COUNT(DISTINCT nk) AS nr,
                   COUNT(DISTINCT seg) AS nc FROM cells),
    terms AS (
      SELECT (CAST(obs AS DOUBLE) - CAST(rtot * ctot AS DOUBLE) / n)
             * (CAST(obs AS DOUBLE) - CAST(rtot * ctot AS DOUBLE) / n)
             / (CAST(rtot * ctot AS DOUBLE) / n) AS term,
             nr, nc
      FROM cells JOIN rt USING (nk) JOIN ct USING (seg) CROSS JOIN tot)
    SELECT COUNT(*) AS n_cells,
           CAST((MIN(nr) - 1) * (MIN(nc) - 1) AS BIGINT) AS dof,
           CAST(SUM(CAST(FLOOR(term * CAST(1000000 AS DOUBLE)) AS BIGINT))
                AS DOUBLE) / CAST(1000000 AS DOUBLE) AS chi2
    FROM terms
"""


def _chi2_cells(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, Column]:
    """The nation x segment contingency table as (cells, term): one row
    per (nk, seg) cell with ``obs``, its marginals ``rtot``/``ctot``
    and the totals ``n``/``nr``/``nc``; ``term`` is the cell's
    (obs-exp)^2/exp double."""
    cells = (
        table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    rt = cells.groupBy("nk").agg(F.sum("obs").alias("rtot"))
    ct = cells.groupBy("seg").agg(F.sum("obs").alias("ctot"))
    tot = cells.agg(
        F.sum("obs").alias("n"),
        F.countDistinct("nk").alias("nr"),
        F.countDistinct("seg").alias("nc"),
    )
    j = (
        cells.join(F.broadcast(rt), "nk")
        .join(F.broadcast(ct), "seg")
        .crossJoin(F.broadcast(tot))
    )
    exp = (F.col("rtot") * F.col("ctot")).cast("double") / F.col("n")
    d = F.col("obs").cast("double") - exp
    return j, d * d / exp


@query("stats_chi2_nation_segment", oracle=_SQL_CHI2)
def stats_chi2_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square statistic for independence of customer nation and
    market segment, from the contingency table.

    Order-free summation: each cell's (obs-exp)²/exp is a
    deterministic double, floor-scaled to int64 (x1e6) before the SUM
    so the reduction is exact and partitioning-independent (summing
    raw doubles would flap at the ulp level across 1000 executors).
    Scale (:func:`_chi2_cells`): one groupBy over customer to a
    |nations|x|segments| cell frame; marginals are re-aggregations of
    that tiny frame, broadcast back — the big table is scanned exactly
    once.
    """
    tune(spark)
    j, term = _chi2_cells(spark, sf_dir)
    return j.agg(
        F.count(F.lit(1)).alias("n_cells"),
        ((F.min("nr") - 1) * (F.min("nc") - 1))
        .cast("long")
        .alias("dof"),
        (
            F.sum(F.floor(term * F.lit(1000000.0)).cast("long")).cast("double")
            / F.lit(1000000.0)
        ).alias("chi2"),
    )


# --------------------------------------------------------------------
# A/B test: deterministic hash split + two-proportion z-test
# --------------------------------------------------------------------

_SQL_AB = f"""
    WITH assigned AS (
      SELECT c_custkey,
             {DUCKDB_MD5_LONG("CAST(c_custkey AS VARCHAR)", salt="ab")} % 2
               AS variant
      FROM customer),
    conv AS (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderpriority = '1-URGENT'),
    flags AS (
      SELECT variant,
             CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END AS converted
      FROM assigned LEFT JOIN conv ON c_custkey = o_custkey),
    counts AS (
      SELECT
        CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT)
          AS c_a,
        CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT)
          AS c_b
      FROM flags)
    SELECT n_a, n_b, c_a, c_b,
           CAST(c_a AS DOUBLE) / n_a AS rate_a,
           CAST(c_b AS DOUBLE) / n_b AS rate_b,
           (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
             / SQRT(CAST(c_a + c_b AS DOUBLE) / (n_a + n_b)
                    * (CAST(1 AS DOUBLE)
                       - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))
             AS z_score
    FROM counts
"""


@query("stats_ab_test_conversion", oracle=_SQL_AB)
def stats_ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on a deterministic 50/50 hash split of
    customers; "conversion" = the customer placed at least one
    urgent-priority order (placing *any* order is ~universal in this
    data, which would make the pooled variance zero).

    The assignment is ``md5(custkey) % 2`` — the same stable,
    engine-independent bucketing a real experiment framework uses, so
    reruns and backfills land every unit in the same arm. Counts are
    exact integers; the z statistic is one scalar IEEE expression
    (+,-,*,/,sqrt are all correctly-rounded — only exp/ln diverge
    across engines, and none appear here).
    Scale: one distinct-project of orders (shuffle on o_custkey) +
    one equi-join co-partitioned on the same key, then a single-row
    conditional aggregate with map-side partials.
    """
    tune(spark)
    assigned = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.pmod(md5_long(F.col("c_custkey").cast("string"), salt="ab"), F.lit(2))
        .alias("variant"),
    )
    conv = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    flags = assigned.join(
        conv, assigned.c_custkey == conv.o_custkey, "left"
    ).select(
        "variant",
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("converted"),
    )
    counts = flags.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)).alias("c_b"),
    )
    n_a, n_b, c_a, c_b = (F.col(c) for c in ("n_a", "n_b", "c_a", "c_b"))
    rate_a = c_a.cast("double") / n_a
    rate_b = c_b.cast("double") / n_b
    pooled = (c_a + c_b).cast("double") / (n_a + n_b)
    return counts.select(
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        (
            (rate_a - rate_b)
            / F.sqrt(
                pooled
                * (F.lit(1.0) - pooled)
                * (F.lit(1.0) / n_a + F.lit(1.0) / n_b)
            )
        ).alias("z_score"),
    )


# --------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers
# --------------------------------------------------------------------

_K_ANON = 5

_SQL_K_ANON = f"""
    SELECT c_nationkey AS nk, c_mktsegment AS seg,
           CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
           COUNT(*) AS group_size,
           CASE WHEN COUNT(*) < {_K_ANON} THEN 1 ELSE 0 END AS at_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment, FLOOR(c_acctbal / 1000.0)
"""


@query("dq_k_anonymity", oracle=_SQL_K_ANON)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: group customers by quasi-identifier tuple
    (nation, market segment, account-balance band) and flag
    equivalence classes smaller than k=5 — the rows a privacy review
    would force you to suppress or generalize before exporting
    training data.

    Scale: one groupBy with map-side combine; cardinality is bounded
    by the QI domain (|nations| x |segments| x ~12 bands), so the
    shuffle is tiny no matter how large customer grows.
    """
    tune(spark)
    band = F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long")
    return (
        table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("c_mktsegment").alias("seg"),
            band.alias("bal_band"),
        )
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.when(F.count(F.lit(1)) < _K_ANON, 1).otherwise(0).alias("at_risk"),
        )
    )


# --------------------------------------------------------------------
# Mergeable fixed-bin histogram -> percentile estimates
# --------------------------------------------------------------------

_BIN_W = 4.0  # events.value spans ~[0, 500); ~125 bins


_SQL_HIST_PCT = f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(FLOOR(value / CAST({_BIN_W} AS DOUBLE)) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events WHERE value IS NOT NULL
      GROUP BY CAST(ts AS DATE), FLOOR(value / CAST({_BIN_W} AS DOUBLE))),
    merged AS (
      SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt FROM daily GROUP BY bin),
    cdf AS (
      SELECT a.bin AS bin, CAST(MAX(a.cnt) AS BIGINT) AS cnt,
             CAST(SUM(b.cnt) AS BIGINT) AS cum
      FROM merged a JOIN merged b ON b.bin <= a.bin GROUP BY a.bin),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM merged),
    qs AS (SELECT UNNEST([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE),
                          CAST(0.99 AS DOUBLE)]) AS q),
    hits AS (
      SELECT q, MIN(cdf.bin) AS bin
      FROM qs CROSS JOIN tot JOIN cdf
        ON cdf.cum >= CAST(CEIL(q * n) AS BIGINT)
      GROUP BY q)
    SELECT q,
           hits.bin * CAST({_BIN_W} AS DOUBLE)
             + CAST({_BIN_W} AS DOUBLE)
               * (CAST(CEIL(q * n) AS BIGINT) - (cdf.cum - cdf.cnt))
               / cdf.cnt AS estimate
    FROM hits JOIN cdf ON hits.bin = cdf.bin CROSS JOIN tot
"""


@query("sketch_histogram_percentiles", oracle=_SQL_HIST_PCT)
def sketch_histogram_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile estimates (p50/p95/p99 of events.value) from a
    mergeable fixed-width histogram sketch.

    The partial per (day, bin) is a plain count — associative and
    mergeable, so daily partials roll up to any window without
    rescanning raw events (same partial-store pattern as the HLL
    rollup, ``sketch_hll_mergeable_rollup``). Estimates interpolate
    inside the hit bin; error is bounded by the bin width — the
    textbook trade for avoiding a global sort at 100 TB.

    No global window: the cumulative distribution over the ~125-bin
    merged frame is a tiny self-join (b.bin <= a.bin), kept identical
    in the oracle so both engines compute the same cum.
    """
    tune(spark)
    ev = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.floor(F.col("value") / F.lit(_BIN_W)).cast("long").alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    merged = daily.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    a, b = merged.alias("a"), merged.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.bin") <= F.col("a.bin"))
        .groupBy(F.col("a.bin").alias("bin"))
        .agg(F.max("a.cnt").alias("cnt"), F.sum("b.cnt").alias("cum"))
    )
    tot = merged.agg(F.sum("cnt").alias("n"))
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))).alias("q")
    )
    rank = F.ceil(F.col("q") * F.col("n")).cast("long")
    hits = (
        qs.crossJoin(F.broadcast(tot))
        .join(F.broadcast(cum), cum.cum >= rank)
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
    )
    return (
        hits.join(F.broadcast(cum), "bin")
        .crossJoin(F.broadcast(tot))
        .select(
            "q",
            (
                F.col("bin") * F.lit(_BIN_W)
                + F.lit(_BIN_W)
                * (rank - (F.col("cum") - F.col("cnt")))
                / F.col("cnt")
            ).alias("estimate"),
        )
    )


# --------------------------------------------------------------------
# Poisson bootstrap: distribution-free CI for a mean, one pass
# --------------------------------------------------------------------

_BOOT_B = 32  # bootstrap replicates
# Poisson(1) CDF * 1e5, floored: P(W<=k) thresholds for the
# inverse-CDF draw from a uniform in [0, 1e5). Identical integer
# literals on both engines => identical weights.
_POIS_CDF = (36787, 73575, 91969, 98101, 99634)

# ONE md5 per event row; the per-(row, b) uniform is two Lehmer rounds
# of exact integer mixing (the eval_poisson_bootstrap_ci doctrine —
# r10 guide §1/§4: 32 md5 evaluations per row made this the stats
# family's most CPU- and contention-heavy plan). Intermediates stay
# < 2^48 (h < 2^31, h*48271 < 2^47, (%P)*69621 < 2^48): exact and
# overflow-free in Spark BIGINT (ANSI on or off) and DuckDB BIGINT.
#
# Documented statistical trade (ADVICE r10): for a fixed row, the B
# replicate uniforms are successive Lehmer steps from one seed, so
# they are lattice-correlated rather than independent md5 draws, and
# the CDF granularity is 1e5 (was 1e9). That weakens CI fidelity
# slightly; it is the deliberate price of removing the per-(row, b)
# hashing hot loop, and both engines evaluate the identical exact
# integer expression so cross-engine determinism is unaffected.
_BOOT_P = 2147483647  # 2^31 - 1
_BOOT_A, _BOOT_M, _BOOT_C = 48271, 16807, 69621

_BOOT_H_SQL = (
    "CAST(('0x' || substr(md5('boot:' || CAST(event_id AS VARCHAR)), "
    f"1, 15)) AS BIGINT) % {_BOOT_P}"
)
_BOOT_U_SQL = (
    f"(((h * {_BOOT_A} + b * {_BOOT_M}) % {_BOOT_P}) * {_BOOT_C})"
    f" % {_BOOT_P} % 100000"
)
_BOOT_W = (
    f"CASE WHEN u < {_POIS_CDF[0]} THEN 0 "
    f"WHEN u < {_POIS_CDF[1]} THEN 1 "
    f"WHEN u < {_POIS_CDF[2]} THEN 2 "
    f"WHEN u < {_POIS_CDF[3]} THEN 3 "
    f"WHEN u < {_POIS_CDF[4]} THEN 4 ELSE 5 END"
)

_SQL_BOOTSTRAP = f"""
    WITH repids AS (
      SELECT CAST(unnest(generate_series(1, {_BOOT_B})) AS BIGINT) AS b),
    hashed AS (
      SELECT event_type, {_BOOT_H_SQL} AS h,
             CAST(value AS DECIMAL(12,2)) AS v
      FROM events),
    wrows AS (
      SELECT event_type, b, ({_BOOT_U_SQL}) AS u, v
      FROM hashed CROSS JOIN repids),
    reps AS (
      SELECT event_type, b,
             CAST(SUM({_BOOT_W}) AS BIGINT) AS nb,
             SUM({_BOOT_W} * v) AS sb
      FROM wrows
      GROUP BY event_type, b),
    -- nb = 0 (all-zero Poisson weights, prob e^-n per replicate) makes
    -- mean_b NULL; Spark ranks NULLs first, DuckDB last, so the CI
    -- rank selection would pick different replicates cross-engine.
    -- Drop empty replicates BEFORE ranking, identically on both sides.
    means AS (
      SELECT event_type, b, CAST(sb AS DOUBLE) / nb AS mean_b,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY CAST(sb AS DOUBLE) / nb, b) AS rk
      FROM reps WHERE nb > 0),
    ci AS (
      SELECT event_type,
             MAX(CASE WHEN rk = 2 THEN mean_b END) AS ci_lo,
             MAX(CASE WHEN rk = {_BOOT_B - 1} THEN mean_b END) AS ci_hi
      FROM means GROUP BY event_type),
    pt AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
               AS mean
      FROM events GROUP BY event_type)
    SELECT pt.event_type AS event_type, pt.n, pt.mean, ci.ci_lo, ci.ci_hi
    FROM pt JOIN ci ON pt.event_type = ci.event_type
"""


@query("stats_bootstrap_mean_ci", oracle=_SQL_BOOTSTRAP)
def stats_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type mean of ``value`` with a rank-based Poisson
    bootstrap confidence interval (B=32 replicates; bounds = 2nd and
    31st replicate means — the nearest-rank ~90% percentile CI).

    The Poisson bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", 2012) is THE distributed bootstrap:
    classical resampling needs the whole sample in one place to draw
    n-out-of-n, but Poisson(1) per-row weights are independent across
    rows, so each replicate is a weighted aggregate that commutes with
    arbitrary partitioning. One scan, B map-side-combined partials per
    group, B rows shuffled per group — no data movement proportional
    to n.

    Determinism: weights come from the inverse Poisson CDF applied to
    a deterministic uniform (ONE md5 per event row -> two Lehmer
    rounds of exact integer mixing per replicate — integer threshold
    compares, no float RNG), replicate sums are exact decimals, and
    the CI bounds are rank-selected (b tiebreak), so both engines pick
    the same replicate bit-for-bit. ``rand()`` would be none of
    reproducible, engine-portable, or retry-stable. Hashing once per
    row instead of once per (row x replicate) cuts the hot loop's
    hash work {B}x and makes the query load-robust (the
    eval_poisson_bootstrap_ci rework, r10).
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    # project h once per fact row; the per-(row, b) uniform is pure
    # integer mixing
    hashed = e.select(
        "event_type",
        dec("value", 12).alias("v"),
        (
            md5_long(F.col("event_id").cast("string"), salt="boot")
            % _BOOT_P
        ).alias("h"),
    )

    repids = spark.range(1, _BOOT_B + 1).select(F.col("id").alias("b"))
    u = (
        (F.col("h") * _BOOT_A + F.col("b") * _BOOT_M) % _BOOT_P * _BOOT_C
    ) % _BOOT_P % 100000
    w = (
        F.when(u < _POIS_CDF[0], 0)
        .when(u < _POIS_CDF[1], 1)
        .when(u < _POIS_CDF[2], 2)
        .when(u < _POIS_CDF[3], 3)
        .when(u < _POIS_CDF[4], 4)
        .otherwise(5)
    )
    reps = hashed.crossJoin(F.broadcast(repids)).groupBy(
        "event_type", "b"
    ).agg(
        F.sum(w).cast("long").alias("nb"),
        F.sum(w * F.col("v")).alias("sb"),
    )
    mean_b = (F.col("sb").cast("double") / F.col("nb")).alias("mean_b")
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy("mean_b", "b")
    )
    # Drop nb == 0 replicates before ranking (mirrors the oracle's
    # WHERE nb > 0): a NULL mean_b would rank first in Spark but last
    # in DuckDB, shifting which replicate the CI bounds select.
    ci = (
        reps.filter(F.col("nb") > 0)
        .select("event_type", "b", mean_b)
        .withColumn("rk", rk)
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("rk") == 2, F.col("mean_b"))).alias("ci_lo"),
            F.max(F.when(F.col("rk") == _BOOT_B - 1, F.col("mean_b"))).alias(
                "ci_hi"
            ),
        )
    )
    pt = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(dec("value", 12)).cast("double") / F.count(F.lit(1))).alias(
            "mean"
        ),
    )
    return pt.join(ci, "event_type").select(
        "event_type", "n", "mean", "ci_lo", "ci_hi"
    )


# --------------------------------------------------------------------
# Gini concentration of customer revenue, per nation
# --------------------------------------------------------------------

_SQL_GINI = """
    WITH rev AS (
      SELECT o_custkey AS ck,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100)
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey),
    nat AS (
      SELECT n_name, ck, cents
      FROM rev JOIN customer ON c_custkey = ck
               JOIN nation ON n_nationkey = c_nationkey),
    ranked AS (
      SELECT n_name, cents,
             ROW_NUMBER() OVER (PARTITION BY n_name
                                ORDER BY cents, ck) AS r
      FROM nat),
    agg AS (
      SELECT n_name, COUNT(*) AS n_customers,
             CAST(SUM(cents) AS BIGINT) AS t,
             CAST(SUM(r * cents) AS BIGINT) AS s
      FROM ranked GROUP BY n_name)
    SELECT n_name, n_customers,
           CAST(t AS DOUBLE) / 100 AS total_revenue,
           (CAST(2 * s AS DOUBLE) - CAST((n_customers + 1) * t AS DOUBLE))
             / (CAST(n_customers AS DOUBLE) * CAST(t AS DOUBLE)) AS gini
    FROM agg
"""


@query("stats_gini_revenue_by_nation", oracle=_SQL_GINI)
def stats_gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer order revenue within each
    nation — the concentration/inequality audit a curation job runs on
    any contributor-weighted corpus ("is 1% of sources 90% of the
    data?"), here over the TPC-H order book.

    Uses the rank formula G = (2*sum(r_i*x_i) - (N+1)*sum(x_i)) /
    (N*sum(x_i)) with ascending ranks under a total order; tied values
    with consecutive ranks contribute the same sum under any tie
    permutation, so the result is tie-order-independent.

    Scale: revenue is aggregated per customer first (map-side
    combine), so the ranked set is customers, not orders; ranks come
    from a window PARTITIONED by nation (each task sorts one nation's
    customers). For a corpus where one group holds most of the keys,
    swap the rank source to ``functions.ranks.global_rank_desc``'s
    bucketed machinery per group — same downstream algebra.
    Determinism: cents are exact int64, both reductions are exact
    integer sums (bounded ~N*T < 2^53 through sf1), and the final
    Gini is one IEEE expression on exactly-representable doubles.
    """
    tune(spark)
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(dec("o_totalprice", 14) * 100).cast("long").alias("cents")
    )
    nat = rev.join(
        F.broadcast(c.select("c_custkey", "c_nationkey")),
        rev.ck == F.col("c_custkey"),
    ).join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    w = Window.partitionBy("n_name").orderBy("cents", "ck")
    ranked = nat.select(
        "n_name", "cents", "ck"
    ).withColumn("r", F.row_number().over(w))
    agg = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").cast("long").alias("t"),
        F.sum(F.col("r") * F.col("cents")).cast("long").alias("s"),
    )
    nc, t, s = F.col("n_customers"), F.col("t"), F.col("s")
    return agg.select(
        "n_name",
        "n_customers",
        (t.cast("double") / 100).alias("total_revenue"),
        (
            ((2 * s).cast("double") - ((nc + 1) * t).cast("double"))
            / (nc.cast("double") * t.cast("double"))
        ).alias("gini"),
    )


# --------------------------------------------------------------------
# Winsorized mean (5% / 95%) by return flag
# --------------------------------------------------------------------

_SQL_WINSOR = """
    WITH n AS (SELECT l_returnflag, COUNT(*) AS n FROM lineitem
               GROUP BY l_returnflag),
    r AS (SELECT l_returnflag, l_extendedprice AS v,
                 ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_extendedprice) AS rn
          FROM lineitem),
    cuts AS (
      SELECT r.l_returnflag,
             MIN(CASE WHEN rn = (n * 5 + 99) // 100 THEN v END) AS lo,
             MIN(CASE WHEN rn = (n * 95 + 99) // 100 THEN v END) AS hi
      FROM r JOIN n USING (l_returnflag) GROUP BY r.l_returnflag)
    SELECT l_returnflag, lo, hi,
           CAST(SUM(CAST(LEAST(GREATEST(l_extendedprice, lo), hi)
                         AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*)
             AS winsorized_mean
    FROM lineitem JOIN cuts USING (l_returnflag)
    GROUP BY l_returnflag, lo, hi
"""


@query("stats_winsorized_price", oracle=_SQL_WINSOR)
def stats_winsorized_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (clamp at exact P5/P95, then average) of
    extendedprice per return flag — the outlier-robust location
    estimate a quality pipeline prefers over the raw mean when a few
    extreme rows (pathological docs, mispriced orders) would dominate.

    Two passes: (1) exact P5/P95 per group via
    ``functions.quantiles.exact_quantile_values_per_group`` (sketch-
    bracketed rank selection — only bracket survivors are ever
    sorted, never a whole 3-value group through one window task;
    positions ceil(q*n) as (q*100*n + 99) div 100 so both engines
    agree in integer arithmetic), broadcast back; (2) clamp inside
    codegen and take an exact decimal mean. The clamp values are
    deterministic under ties (position k of the sorted multiset); the
    mean is ``div_avg``-exact.
    """
    tune(spark)
    from ..functions.quantiles import exact_quantile_values_per_group

    li = table(spark, sf_dir, "lineitem")
    vals = exact_quantile_values_per_group(
        li.select("l_returnflag", "l_extendedprice"),
        ["l_returnflag"],
        "l_extendedprice",
        [("lo", 5, 100), ("hi", 95, 100)],
    )
    cuts = vals.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("q_label") == "lo", F.col("value"))).alias("lo"),
        F.min(F.when(F.col("q_label") == "hi", F.col("value"))).alias("hi"),
    )
    clamped = li.join(F.broadcast(cuts), "l_returnflag").select(
        "l_returnflag",
        "lo",
        "hi",
        F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
        .alias("cv"),
    )
    return clamped.groupBy("l_returnflag", "lo", "hi").agg(
        (F.sum(dec("cv", 14)).cast("double") / F.count(F.lit(1))).alias(
            "winsorized_mean"
        )
    )


# --------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test
# --------------------------------------------------------------------

_KS_A = "1-URGENT"
_KS_B = "5-LOW"


def _ks_value_counts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """URGENT vs LOW order values in exact int64 cents as (dv, tot):
    per distinct value its count in each sample (``a``, ``b``), and the
    1-row sample sizes (``na``, ``nb``)."""
    o = table(spark, sf_dir, "orders")
    rows = o.filter(
        F.col("o_orderpriority").isin(_KS_A, _KS_B)
    ).select(
        (dec("o_totalprice", 14) * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority") == _KS_A, 1).otherwise(0).alias("ia"),
    )
    dv = rows.groupBy("cents").agg(
        F.sum("ia").cast("long").alias("a"),
        (F.count(F.lit(1)) - F.sum("ia")).cast("long").alias("b"),
    )
    tot = dv.agg(
        F.sum("a").cast("long").alias("na"),
        F.sum("b").cast("long").alias("nb"),
    )
    return dv, tot


_SQL_KS = f"""
    WITH rows_ AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_orderpriority = '{_KS_A}' THEN 1 ELSE 0 END AS ia
      FROM orders
      WHERE o_orderpriority IN ('{_KS_A}', '{_KS_B}')),
    dv AS (
      SELECT cents, CAST(SUM(ia) AS BIGINT) AS a,
             CAST(COUNT(*) - SUM(ia) AS BIGINT) AS b
      FROM rows_ GROUP BY cents),
    cum AS (
      SELECT SUM(a) OVER (ORDER BY cents) AS ca,
             SUM(b) OVER (ORDER BY cents) AS cb
      FROM dv),
    tot AS (
      SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb
      FROM dv)
    SELECT na, nb,
           CAST(MAX(ABS(ca * nb - cb * na)) AS DOUBLE)
             / (CAST(na AS DOUBLE) * nb) AS d_stat
    FROM cum, tot GROUP BY na, nb
"""


@query("stats_ks_two_sample", oracle=_SQL_KS)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between URGENT
    and LOW order-value distributions: D = sup |F_a - F_b| — the
    distribution-shift test a pipeline runs between data slices
    (train/val drift, pre/post deploy) when means hide the difference.

    Scale: the supremum needs CDFs, i.e. running totals along the
    global value order — the classic "needs one sorted pass" shape.
    Here it's ``functions.ranks.bucketed_prefix_sums``: approximate
    range boundaries bucket the DISTINCT-value table, per-bucket
    totals collect O(n_buckets) scalars, broadcast exclusive offsets
    feed within-bucket ordered windows (~N/n_buckets rows per task) —
    an exact distributed scan, no global window (plan-gated
    registry-wide). Evaluating at distinct values (not raw rows)
    keeps tied values at a single CDF point, the correct KS
    treatment. Determinism: cents are exact int64, the sup is a max
    of exact cross-multiplied integers |ca*nb - cb*na| (max is
    order-free), and D is one final IEEE division.
    """
    tune(spark)
    from ..functions.ranks import bucketed_prefix_sums

    dv, tot = _ks_value_counts(spark, sf_dir)
    cum = bucketed_prefix_sums(dv, "cents", ["a", "b"])
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            (
                F.max(
                    F.abs(
                        F.col("cum_a") * F.col("nb")
                        - F.col("cum_b") * F.col("na")
                    )
                ).cast("double")
                / (F.col("na").cast("double") * F.col("nb"))
            ).alias("d_stat")
        )
        .select("na", "nb", "d_stat")
    )


# --------------------------------------------------------------------
# Herfindahl-Hirschman concentration index
# --------------------------------------------------------------------

_SQL_HHI = """
    WITH rev AS (
      SELECT n.n_regionkey AS rk, l.l_suppkey AS sk,
             CAST(FLOOR(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))))
                  AS BIGINT) AS v
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY n.n_regionkey, l.l_suppkey),
    agg AS (
      SELECT rk, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             CAST(SUM(v) AS BIGINT) AS t,
             CAST(SUM(v * v) AS BIGINT) AS sq
      FROM rev GROUP BY rk)
    SELECT r.r_name AS region, n_suppliers,
           CAST(t AS DOUBLE) AS total_revenue,
           CAST(sq AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
             AS hhi,
           CAST(1 AS DOUBLE) / n_suppliers AS hhi_uniform
    FROM agg JOIN region r ON r.r_regionkey = rk
"""


@query("stats_hhi_supplier_concentration", oracle=_SQL_HHI)
def stats_hhi_supplier_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration
    per region — sum of squared market shares, the antitrust-grade
    concentration number (1/n = perfectly even, 1 = monopoly); the
    single-number sibling of the Gini/Pareto pair, and the audit a
    data pipeline runs on "is one provider dominating this slice?".

    Scale: one lineitem scan with broadcast supplier/nation dims into
    per-(region, supplier) exact cent sums; HHI = sum(cents^2)/T^2
    needs no shares materialized — revenues are floored to exact
    whole-dollar int64 first so the squared sums stay inside int64
    (cents^2 would overflow), and int64->double conversion is
    correctly rounded identically in both engines. HHI is
    scale-invariant, so dollars vs cents changes nothing.
    """
    tune(spark)
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    rev = (
        li.join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_regionkey").alias("rk"), "l_suppkey")
        .agg(
            F.floor(F.sum(dec("l_extendedprice", 14)))
            .cast("long")
            .alias("v")
        )
    )
    agg = rev.groupBy("rk").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("v").cast("long").alias("t"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("sq"),
    )
    return agg.join(
        F.broadcast(r), F.col("rk") == F.col("r_regionkey")
    ).select(
        F.col("r_name").alias("region"),
        "n_suppliers",
        F.col("t").cast("double").alias("total_revenue"),
        (
            F.col("sq").cast("double")
            / (F.col("t").cast("double") * F.col("t").cast("double"))
        ).alias("hhi"),
        (F.lit(1).cast("double") / F.col("n_suppliers")).alias("hhi_uniform"),
    )


# --------------------------------------------------------------------
# Theil-T between-group inequality decomposition
# --------------------------------------------------------------------

_SQL_THEIL = """
    WITH rev AS (
      SELECT c.c_nationkey AS nk,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100)
                  AS BIGINT) AS cents,
             CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_cust
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey),
    tot AS (
      SELECT CAST(SUM(cents) AS BIGINT) AS t,
             CAST(SUM(n_cust) AS BIGINT) AS n
      FROM rev),
    terms AS (
      -- log2 of the exact ratio (cents*n)/(t*n_cust): one division of
      -- exactly-representable products, quantized per NATION
      SELECT cents, t,
             CAST(FLOOR(log2((CAST(cents AS DOUBLE) * n)
                             / (CAST(t AS DOUBLE) * n_cust)) * 1000000)
                  AS BIGINT) AS lg6
      FROM rev, tot)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nations,
           CAST(SUM(cents * lg6) AS DOUBLE)
             / (MIN(CAST(t AS DOUBLE)) * 1000000) AS theil_between_bits
    FROM terms
"""


@query("stats_theil_between_nations", oracle=_SQL_THEIL)
def stats_theil_between_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Between-group component of the Theil-T inequality index over
    customer revenue, grouped by nation (in bits): sum over groups of
    share_g * log2(share_g / population_share_g). Unlike Gini, Theil
    decomposes additively into between + within — this is the
    between term, the "which slices are over-represented per capita"
    number that pairs with ``stats_gini_revenue_by_nation`` (total
    inequality) and ``stats_hhi_supplier_concentration`` (market
    shares).

    Scale: one orders scan into per-nation exact cent sums and
    customer counts (25 rows); the statistic is algebra on that tiny
    frame. Determinism (chi2 precedent): each group's log2 argument
    is ONE division of exactly-representable integer cross-products,
    floor-quantized per NATION (model-level); the weighted sum
    cents*lg6 is EXACT int64 arithmetic (|cents| < 2^47 per nation
    through sf1, |lg6| < 2^23 — products < 2^70/2^6 fit), so the
    reduction is order-free, and the index is one final IEEE
    division.
    """
    tune(spark)
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    rev = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(dec("o_totalprice", 14) * 100).cast("long").alias("cents"),
            F.countDistinct("o_custkey").cast("long").alias("n_cust"),
        )
    )
    tot = rev.agg(
        F.sum("cents").cast("long").alias("t"),
        F.sum("n_cust").cast("long").alias("n"),
    )
    terms = rev.crossJoin(F.broadcast(tot)).select(
        "cents",
        "t",
        F.floor(
            F.log2(
                (F.col("cents").cast("double") * F.col("n"))
                / (F.col("t").cast("double") * F.col("n_cust"))
            )
            * 1e6
        )
        .cast("long")
        .alias("lg6"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_nations"),
        (
            F.sum(F.col("cents") * F.col("lg6")).cast("double")
            / (F.min(F.col("t").cast("double")) * F.lit(1e6))
        ).alias("theil_between_bits"),
    )


# --------------------------------------------------------------------
# Mann-Whitney U (rank-sum) two-sample test
# --------------------------------------------------------------------

_SQL_MWU = f"""
    WITH rows_ AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_orderpriority = '{_KS_A}' THEN 1 ELSE 0 END AS ia
      FROM orders
      WHERE o_orderpriority IN ('{_KS_A}', '{_KS_B}')),
    dv AS (
      SELECT cents, CAST(SUM(ia) AS BIGINT) AS a,
             CAST(COUNT(*) - SUM(ia) AS BIGINT) AS b
      FROM rows_ GROUP BY cents),
    cum AS (
      SELECT a, b, SUM(b) OVER (ORDER BY cents) AS cb
      FROM dv),
    s AS (
      SELECT CAST(SUM(a * (2 * (cb - b) + b)) AS BIGINT) AS two_u
      FROM cum),
    tot AS (
      SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb
      FROM dv)
    SELECT na, nb,
           CAST(two_u AS DOUBLE) / 2 AS u_stat,
           (CAST(two_u AS DOUBLE) / 2
            - CAST(na AS DOUBLE) * nb / 2)
             / SQRT(CAST(na AS DOUBLE) * nb
                    * (CAST(na AS DOUBLE) + nb + 1) / CAST(12 AS DOUBLE))
             AS z_approx
    FROM s, tot
"""


@query("stats_mann_whitney_u", oracle=_SQL_MWU)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U between URGENT and LOW order values: the
    rank-sum location test that pairs with ``stats_ks_two_sample``
    (KS sees any shape difference, U sees a location shift) — the
    nonparametric A/B readout when values are skewed and a t-test
    would mislead.

    U = #(a > b pairs) + #(ties)/2, computed WITHOUT ranking rows:
    per distinct value v, a_v * (2*cum_b(<v) + b_v) summed — exact
    int64 via a ``bucketed_prefix_sums`` scan over the KS test's
    per-value counts, :func:`_ks_value_counts` (tied values contribute
    half in the doubled domain, so arithmetic
    stays integral). z_approx is the no-tie-correction normal
    approximation, one fixed IEEE tail identical in both engines;
    halves are exactly representable so u_stat is bit-exact.
    """
    tune(spark)
    from ..functions.ranks import bucketed_prefix_sums

    dv, tot = _ks_value_counts(spark, sf_dir)
    cum = bucketed_prefix_sums(dv, "cents", ["b"])
    s = cum.agg(
        F.sum(
            F.col("a")
            * (2 * (F.col("cum_b") - F.col("b")) + F.col("b"))
        )
        .cast("long")
        .alias("two_u")
    )
    na, nb = F.col("na").cast("double"), F.col("nb")
    u = F.col("two_u").cast("double") / 2
    return s.crossJoin(F.broadcast(tot)).select(
        "na",
        "nb",
        u.alias("u_stat"),
        (
            (u - na * nb / 2)
            / F.sqrt(na * nb * (na + nb + 1) / F.lit(12).cast("double"))
        ).alias("z_approx"),
    )


# --------------------------------------------------------------------
# Spearman rank correlation (tie-aware, exact midranks)
# --------------------------------------------------------------------

_SQL_SPEARMAN = """
    WITH rows_ AS (
      SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS y
      FROM lineitem),
    dx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM rows_ GROUP BY x),
    dy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM rows_ GROUP BY y),
    -- doubled midrank: 2*(rows before) + count + 1, exact integer
    rx AS (SELECT x, 2 * (SUM(c) OVER (ORDER BY x) - c) + c + 1 AS mr2
           FROM dx),
    ry AS (SELECT y, 2 * (SUM(c) OVER (ORDER BY y) - c) + c + 1 AS mr2
           FROM dy),
    m AS (
      SELECT rx.mr2 AS a, ry.mr2 AS b
      FROM rows_ JOIN rx USING (x) JOIN ry USING (y)),
    -- power sums in exact 128-bit integers (HUGEINT), converted to
    -- double only once at the end: midranks scale with 2n, so
    -- sum(a*a) ~ n*(2n)^2 wraps int64 past ~sf0.3 — HUGEINT holds it
    -- exactly to ~1.7e38, and HUGEINT->DOUBLE is correctly rounded,
    -- matching Spark's DECIMAL(38,0)->double conversion bit-for-bit.
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(a AS HUGEINT)) AS DOUBLE) AS sa,
             CAST(SUM(CAST(b AS HUGEINT)) AS DOUBLE) AS sb,
             CAST(SUM(CAST(a AS HUGEINT) * b) AS DOUBLE) AS sab,
             CAST(SUM(CAST(a AS HUGEINT) * a) AS DOUBLE) AS saa,
             CAST(SUM(CAST(b AS HUGEINT) * b) AS DOUBLE) AS sbb
      FROM m)
    SELECT n AS n_rows,
           (CAST(n AS DOUBLE) * sab - sa * sb)
             / SQRT((CAST(n AS DOUBLE) * saa - sa * sa)
                    * (CAST(n AS DOUBLE) * sbb - sb * sb))
             AS spearman_rho
    FROM s
"""


@query("stats_spearman_rho", oracle=_SQL_SPEARMAN)
def stats_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware Spearman rank correlation between quantity and
    extended price over lineitem — the monotonic-association measure
    that survives the skew/outliers Pearson (``stats_corr_matrix``)
    is blind to.

    Exact at scale: per-variable MIDRANKS come from the bucketed
    prefix-sum recipe applied per variable over a SINGLE fused
    distinct-value pass (explode to (k, v) — one corpus scan feeds
    both variables' tables, r10 guide §2.3; doubled domain
    2*prev + count + 1 keeps tie midpoints integral — no row-level
    rank windows, and tie order can't flap the result the way
    row_number ranks would); rows join their midranks on the
    value (hash join, partitioned by value), and Pearson-on-midranks
    runs as exact DECIMAL(38,0) power sums — midranks scale with 2n,
    so sum(a*a) ~ n*(2n)^2 wraps int64 past ~sf0.3; decimal sums stay
    exact to ~1e38 (enough for 100-TB row counts) — with one IEEE
    tail. DECIMAL(38,0)->double (Spark, Java BigDecimal) and
    HUGEINT->DOUBLE (DuckDB oracle) are both correctly rounded, so
    the single final conversion agrees bit-for-bit.
    """
    tune(spark)
    li = table(spark, sf_dir, "lineitem")
    rows = li.select(
        (dec("l_quantity", 12) * 100).cast("long").alias("x"),
        (dec("l_extendedprice", 14) * 100).cast("long").alias("y"),
    )

    # BOTH variables' distinct-value tables from ONE corpus pass
    # (guide §2.3/§2.4 — two per-column groupBys each re-scanned
    # lineitem): explode each row to (k, v), k 0=x / 1=y, and build
    # the doubled midranks with the bucketed-prefix recipe applied
    # per k (boundaries per variable from one grouped sketch job,
    # exact per-(k, bucket) offsets from one collect — approximation
    # affects LOAD BALANCE only, the midrank values are exact counts
    # regardless of the boundary set, same as bucketed_prefix_sums).
    kv = rows.select(
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("k"), F.col("x").alias("v")),
                F.struct(F.lit(1).alias("k"), F.col("y").alias("v")),
            )
        ).alias("s")
    ).select("s.k", "s.v")
    dv = (
        kv.groupBy("k", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    n_buckets = 64
    qs = [i / n_buckets for i in range(1, n_buckets)]
    brows = (
        dv.groupBy("k")
        .agg(F.percentile_approx("v", qs, 10_000).alias("bs"))
        .collect()
    )
    bounds = {
        r["k"]: sorted({int(b) for b in (r["bs"] or []) if b is not None})
        for r in brows
    }

    def bucket_expr(k: int) -> F.Column:
        bs = bounds.get(k, [])
        if not bs:
            return F.lit(0)
        barr = F.array(*[F.lit(b) for b in bs])
        return F.size(F.filter(barr, lambda b: b < F.col("v")))

    sb = dv.withColumn(
        "__b",
        F.when(F.col("k") == 0, bucket_expr(0)).otherwise(bucket_expr(1)),
    )
    totals = {
        (r["k"], r["__b"]): r["t"]
        for r in sb.groupBy("k", "__b")
        .agg(F.sum("c").alias("t"))
        .collect()
    }
    offs: dict[int, list[int]] = {}
    for k in (0, 1):
        acc, lst = 0, []
        for b in range(len(bounds.get(k, [])) + 1):
            lst.append(acc)
            acc += totals.get((k, b), 0)
        offs[k] = lst

    def off_expr(k: int) -> F.Column:
        return F.element_at(
            F.array(*[F.lit(o) for o in offs[k]]), F.col("__b") + 1
        )

    w = (
        Window.partitionBy("k", "__b")
        .orderBy(F.asc("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mr = sb.withColumn(
        "cum_c",
        F.when(F.col("k") == 0, off_expr(0)).otherwise(off_expr(1))
        + F.sum("c").over(w),
    ).select(
        "k",
        "v",
        (2 * (F.col("cum_c") - F.col("c")) + F.col("c") + 1).alias("mr2"),
    )
    rx = mr.filter(F.col("k") == 0).select(
        F.col("v").alias("x"), F.col("mr2").alias("a")
    )
    ry = mr.filter(F.col("k") == 1).select(
        F.col("v").alias("y"), F.col("mr2").alias("b")
    )
    m = rows.join(rx, "x").join(ry, "y")
    # decimal(18,0) per-row (midranks < 1e18 at any plausible scale);
    # decimal(18)*decimal(18) -> decimal(37,0) per-row product, summed
    # into decimal(38,0): exact, no silent int64 wrap.
    a18 = F.col("a").cast("decimal(18,0)")
    b18 = F.col("b").cast("decimal(18,0)")
    s = m.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(a18).cast("decimal(38,0)").alias("sa"),
        F.sum(b18).cast("decimal(38,0)").alias("sb"),
        F.sum(a18 * b18).cast("decimal(38,0)").alias("sab"),
        F.sum(a18 * a18).cast("decimal(38,0)").alias("saa"),
        F.sum(b18 * b18).cast("decimal(38,0)").alias("sbb"),
    )
    n = F.col("n").cast("double")
    sa = F.col("sa").cast("double")
    sb = F.col("sb").cast("double")
    sab = F.col("sab").cast("double")
    saa = F.col("saa").cast("double")
    sbb = F.col("sbb").cast("double")
    return s.select(
        F.col("n").alias("n_rows"),
        (
            (n * sab - sa * sb)
            / F.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
        ).alias("spearman_rho"),
    )


# --------------------------------------------------------------------
# Theil-Sen robust trend of daily revenue
# --------------------------------------------------------------------

# slope fixed-point quantum: the model's quantize-the-model doctrine
# (textstats log2 family) — the statistic IS the quantized slope, so
# both engines select the median of identical integers.
_SEN_FP = 1_000_000


_SQL_THEIL_SEN = f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(14,2))))
                  AS BIGINT) AS v
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT CAST(FLOOR(CAST(b.v - a.v AS DOUBLE)
                        / CAST(b.d - a.d AS DOUBLE) * {_SEN_FP})
                  AS BIGINT) AS s_fp
      FROM daily a JOIN daily b ON b.d > a.d),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs),
    ranked AS (
      SELECT s_fp, ROW_NUMBER() OVER (ORDER BY s_fp) AS r FROM pairs)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           m.n_pairs,
           CAST(ranked.s_fp AS DOUBLE) / {_SEN_FP} AS sen_slope
    FROM ranked CROSS JOIN m
    WHERE ranked.r = (m.n_pairs + 1) // 2
"""


@query("stats_theil_sen_trend", oracle=_SQL_THEIL_SEN)
def stats_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator of the daily-revenue trend: the median of
    the slopes of all day pairs — the robust alternative to the OLS
    slope (``stats_regression_price_qty``), immune to up to ~29%
    outlier days (holiday spikes, backfill gaps).

    Scale: orders collapse to the model-level day table first (one
    exact-decimal map-side aggregate), so the O(days^2) pair fan-out
    is quadratic only in CALENDAR DAYS — bounded by the date span, not
    the corpus (2,400 days -> ~3M pair rows at any corpus size). The
    median is selected by exact bracketed rank
    (``exact_quantile_values_per_group``), never by sorting the pair
    table through one window task.

    Determinism: each pair slope is one IEEE division of exact
    integers (identical in both engines), quantized to the 1e-6
    fixed-point grid — the quantized slope IS the statistic, so the
    median selects the same integer everywhere. Lower median
    (position ceil(m/2)) avoids cross-engine interpolation.
    """
    tune(spark)
    from ..functions.quantiles import exact_quantile_values_per_group

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
        ).alias("d")
    ).agg(F.floor(F.sum(dec("o_totalprice", 14))).cast("long").alias("v"))
    a = daily.select(F.col("d").alias("da"), F.col("v").alias("x"))
    b = daily.select(F.col("d").alias("db"), F.col("v").alias("y"))
    # greatest(.., 1) never changes a value the join emits (db > da
    # implies db - da >= 1); it exists because Catalyst may fuse this
    # projection into a downstream join/filter condition and evaluate
    # it SPECULATIVELY on rows the db > da condition hasn't filtered
    # yet — under ANSI mode a db == da row would then raise
    # DIVIDE_BY_ZERO from inside the fused stage even though it can
    # never appear in the output.
    pairs = a.join(F.broadcast(b), F.col("db") > F.col("da")).select(
        F.floor(
            (F.col("y") - F.col("x")).cast("double")
            / F.greatest(F.col("db") - F.col("da"), F.lit(1)).cast("double")
            * _SEN_FP
        )
        .cast("long")
        .alias("s_fp"),
        F.lit(1).alias("g"),
    )
    # the pair fan-out is cheap to hold (#days^2 rows of one long) and
    # the bracketed-rank primitive walks it three times (bracket agg,
    # counting scan, survivor selection) plus the n_pairs count —
    # checkpoint (r10) so the BNLJ fan-out runs once AND each walk
    # plans against a leaf instead of the fan-out subtree.
    pairs = model_checkpoint(pairs)
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    n_pairs = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    med = exact_quantile_values_per_group(
        pairs, ["g"], "s_fp", [("med", 1, 2)]
    )
    return (
        med.crossJoin(F.broadcast(n_days))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "n_days",
            "n_pairs",
            (F.col("value").cast("double") / _SEN_FP).alias("sen_slope"),
        )
    )


# --------------------------------------------------------------------
# Kruskal-Wallis H (k-sample rank test, tie-corrected)
# --------------------------------------------------------------------

_KW_PRIOS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _kw_r2_cases() -> str:
    parts = []
    for i, p in enumerate(_KW_PRIOS):
        parts.append(
            f"CAST(SUM(CASE WHEN g = '{p}' THEN CAST(cg AS HUGEINT) * mr2 "
            f"ELSE 0 END) AS DOUBLE) AS r2_{i},\n        "
            f"CAST(SUM(CASE WHEN g = '{p}' THEN cg ELSE 0 END) AS BIGINT) "
            f"AS n_{i}"
        )
    return ",\n        ".join(parts)


_SQL_KRUSKAL = f"""
    WITH rows_ AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS cents,
             o_orderpriority AS g
      FROM orders),
    gv AS (SELECT cents, g, CAST(COUNT(*) AS BIGINT) AS cg
           FROM rows_ GROUP BY cents, g),
    dv AS (SELECT cents, CAST(SUM(cg) AS BIGINT) AS c FROM gv GROUP BY cents),
    mr AS (SELECT cents, 2 * (SUM(c) OVER (ORDER BY cents) - c) + c + 1
                    AS mr2
           FROM dv),
    r2 AS (
      SELECT
        {_kw_r2_cases()},
        CAST(SUM(cg) AS BIGINT) AS n
      FROM gv JOIN mr USING (cents)),
    tie AS (SELECT CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS DOUBLE)
                     AS tsum
            FROM dv)
    SELECT n AS n_rows,
           CAST({len(_KW_PRIOS) - 1} AS BIGINT) AS dof,
           (CAST(12 AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1))
            * ((r2_0 / 2) * (r2_0 / 2) / n_0
               + (r2_1 / 2) * (r2_1 / 2) / n_1
               + (r2_2 / 2) * (r2_2 / 2) / n_2
               + (r2_3 / 2) * (r2_3 / 2) / n_3
               + (r2_4 / 2) * (r2_4 / 2) / n_4)
            - CAST(3 AS DOUBLE) * (CAST(n AS DOUBLE) + 1))
           / (CAST(1 AS DOUBLE)
              - tsum / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
             AS h_stat
    FROM r2, tie
"""


@query("stats_kruskal_wallis", oracle=_SQL_KRUSKAL)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Kruskal-Wallis H across the five order
    priorities on order value — the k-sample extension of
    ``stats_mann_whitney_u`` ("do ANY of these priority classes have
    a shifted price distribution?"), the nonparametric cousin of
    ``stats_anova_f_priority``.

    Exact at scale: per-group rank sums come from the same doubled
    MIDRANK pipeline as Spearman — distinct-value counts through
    ``bucketed_prefix_sums`` (no row-level rank window), per-group
    sums of cg * mr2 in exact DECIMAL(38,0) (HUGEINT in the oracle;
    both 128-bit-exact, both correctly rounded at the single final
    double conversion). The 5 per-group terms combine in one
    fixed-order scalar expression, and the tie term sum(c^3 - c) is
    an exact decimal aggregate over the distinct-value table.
    """
    tune(spark)
    from ..functions.ranks import bucketed_prefix_sums

    o = table(spark, sf_dir, "orders")
    rows = o.select(
        (dec("o_totalprice", 14) * 100).cast("long").alias("cents"),
        F.col("o_orderpriority").alias("g"),
    )
    gv = rows.groupBy("cents", "g").agg(
        F.count(F.lit(1)).cast("long").alias("cg")
    )
    dv = gv.groupBy("cents").agg(F.sum("cg").cast("long").alias("c"))
    mr = bucketed_prefix_sums(dv, "cents", ["c"]).select(
        "cents",
        (2 * (F.col("cum_c") - F.col("c")) + F.col("c") + 1).alias("mr2"),
    )
    j = gv.join(mr, "cents")
    cg18 = F.col("cg").cast("decimal(18,0)")
    mr218 = F.col("mr2").cast("decimal(18,0)")
    aggs = []
    for i, p in enumerate(_KW_PRIOS):
        aggs.append(
            F.sum(F.when(F.col("g") == p, cg18 * mr218))
            .cast("decimal(38,0)")
            .alias(f"r2_{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("g") == p, F.col("cg")))
            .cast("long")
            .alias(f"n_{i}")
        )
    aggs.append(F.sum("cg").cast("long").alias("n"))
    r2 = j.agg(*aggs)
    c12 = F.col("c").cast("decimal(12,0)")
    tie = dv.agg(
        F.sum(c12 * c12 * c12 - c12).cast("decimal(38,0)").alias("tsum")
    )
    nd = F.col("n").cast("double")
    terms = None
    for i in range(len(_KW_PRIOS)):
        r2d = F.col(f"r2_{i}").cast("double")
        t = (r2d / 2) * (r2d / 2) / F.col(f"n_{i}")
        terms = t if terms is None else terms + t
    h = (
        F.lit(12).cast("double") / (nd * (nd + 1)) * terms
        - F.lit(3).cast("double") * (nd + 1)
    ) / (
        F.lit(1).cast("double")
        - F.col("tsum").cast("double") / (nd * nd * nd - nd)
    )
    return r2.crossJoin(F.broadcast(tie)).select(
        F.col("n").alias("n_rows"),
        F.lit(len(_KW_PRIOS) - 1).cast("long").alias("dof"),
        h.alias("h_stat"),
    )


# --------------------------------------------------------------------
# One-way ANOVA F across order priorities
# --------------------------------------------------------------------


def _anova_cases() -> str:
    parts = []
    for i, p in enumerate(_KW_PRIOS):
        parts.append(
            f"CAST(SUM(CASE WHEN g = '{p}' THEN CAST(cents AS HUGEINT) "
            f"ELSE 0 END) AS DOUBLE) AS s_{i},\n        "
            f"CAST(SUM(CASE WHEN g = '{p}' THEN 1 ELSE 0 END) AS BIGINT) "
            f"AS n_{i}"
        )
    return ",\n        ".join(parts)


_SQL_ANOVA = f"""
    WITH rows_ AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS cents,
             o_orderpriority AS g
      FROM orders),
    sums AS (
      SELECT
        {_anova_cases()},
        CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE) AS s,
        CAST(SUM(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS q,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM rows_)
    SELECT n AS n_rows,
           CAST({len(_KW_PRIOS) - 1} AS BIGINT) AS dof_between,
           CAST(n - {len(_KW_PRIOS)} AS BIGINT) AS dof_within,
           ((s_0 * s_0 / n_0 + s_1 * s_1 / n_1 + s_2 * s_2 / n_2
             + s_3 * s_3 / n_3 + s_4 * s_4 / n_4) - s * s / n)
           / CAST({len(_KW_PRIOS) - 1} AS DOUBLE)
           / ((q - (s_0 * s_0 / n_0 + s_1 * s_1 / n_1 + s_2 * s_2 / n_2
                    + s_3 * s_3 / n_3 + s_4 * s_4 / n_4))
              / CAST(n - {len(_KW_PRIOS)} AS DOUBLE))
             AS f_stat,
           ((s_0 * s_0 / n_0 + s_1 * s_1 / n_1 + s_2 * s_2 / n_2
             + s_3 * s_3 / n_3 + s_4 * s_4 / n_4) - s * s / n)
           / (q - s * s / n) AS eta_sq
    FROM sums
"""


@query("stats_anova_f_priority", oracle=_SQL_ANOVA)
def stats_anova_f_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F (and eta-squared effect size) for order value
    across the five priority classes — the parametric counterpart of
    ``stats_kruskal_wallis``: SSB/SSW from exact per-group power sums,
    no per-row residuals ever materialized.

    Scale: ONE map-side-combined aggregate over orders produces every
    input (per-group sums/counts + global sum of squares); the F
    statistic is a single fixed-order scalar expression. Sums
    accumulate in DECIMAL(38,0) (HUGEINT in the oracle) — cents^2 per
    row is ~2.5e15, so int64 would wrap past ~sf0.5; decimal stays
    exact at any plausible scale and the one double conversion is
    correctly rounded in both engines.
    """
    tune(spark)
    o = table(spark, sf_dir, "orders")
    rows = o.select(
        (dec("o_totalprice", 14) * 100).cast("long").alias("cents"),
        F.col("o_orderpriority").alias("g"),
    )
    c18 = F.col("cents").cast("decimal(18,0)")
    aggs = []
    for i, p in enumerate(_KW_PRIOS):
        aggs.append(
            F.sum(F.when(F.col("g") == p, c18))
            .cast("decimal(38,0)")
            .alias(f"s_{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("g") == p, F.lit(1)))
            .cast("long")
            .alias(f"n_{i}")
        )
    aggs.append(F.sum(c18).cast("decimal(38,0)").alias("s"))
    aggs.append(F.sum(c18 * c18).cast("decimal(38,0)").alias("q"))
    aggs.append(F.count(F.lit(1)).cast("long").alias("n"))
    sums = rows.agg(*aggs)
    k = len(_KW_PRIOS)
    sd = F.col("s").cast("double")
    qd = F.col("q").cast("double")
    ssb_terms = None
    for i in range(k):
        si = F.col(f"s_{i}").cast("double")
        t = si * si / F.col(f"n_{i}")
        ssb_terms = t if ssb_terms is None else ssb_terms + t
    ssb = ssb_terms - sd * sd / F.col("n")
    ssw = qd - ssb_terms
    sst = qd - sd * sd / F.col("n")
    return sums.select(
        F.col("n").alias("n_rows"),
        F.lit(k - 1).cast("long").alias("dof_between"),
        (F.col("n") - k).cast("long").alias("dof_within"),
        (
            ssb
            / F.lit(k - 1).cast("double")
            / (ssw / (F.col("n") - k).cast("double"))
        ).alias("f_stat"),
        (ssb / sst).alias("eta_sq"),
    )


# --------------------------------------------------------------------
# Welch's unequal-variance t-test (URGENT vs LOW)
# --------------------------------------------------------------------

_SQL_WELCH = f"""
    WITH rows_ AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_orderpriority = '{_KS_A}' THEN 1 ELSE 0 END AS ia
      FROM orders
      WHERE o_orderpriority IN ('{_KS_A}', '{_KS_B}')),
    sums AS (
      SELECT
        CAST(SUM(ia) AS BIGINT) AS n_a,
        CAST(COUNT(*) - SUM(ia) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN ia = 1 THEN CAST(cents AS HUGEINT) ELSE 0 END)
             AS DOUBLE) AS s_a,
        CAST(SUM(CASE WHEN ia = 0 THEN CAST(cents AS HUGEINT) ELSE 0 END)
             AS DOUBLE) AS s_b,
        CAST(SUM(CASE WHEN ia = 1 THEN CAST(cents AS HUGEINT) * cents
                 ELSE 0 END) AS DOUBLE) AS q_a,
        CAST(SUM(CASE WHEN ia = 0 THEN CAST(cents AS HUGEINT) * cents
                 ELSE 0 END) AS DOUBLE) AS q_b
      FROM rows_)
    SELECT n_a, n_b,
           s_a / n_a / 100 AS mean_a,
           s_b / n_b / 100 AS mean_b,
           (s_a / n_a - s_b / n_b)
           / SQRT((q_a - s_a * s_a / n_a) / (n_a - 1) / n_a
                  + (q_b - s_b * s_b / n_b) / (n_b - 1) / n_b)
             AS t_stat,
           ((q_a - s_a * s_a / n_a) / (n_a - 1) / n_a
            + (q_b - s_b * s_b / n_b) / (n_b - 1) / n_b)
           * ((q_a - s_a * s_a / n_a) / (n_a - 1) / n_a
              + (q_b - s_b * s_b / n_b) / (n_b - 1) / n_b)
           / ((q_a - s_a * s_a / n_a) / (n_a - 1) / n_a
              * ((q_a - s_a * s_a / n_a) / (n_a - 1) / n_a) / (n_a - 1)
              + (q_b - s_b * s_b / n_b) / (n_b - 1) / n_b
                * ((q_b - s_b * s_b / n_b) / (n_b - 1) / n_b) / (n_b - 1))
             AS dof_welch
    FROM sums
"""


@query("stats_welch_t_test", oracle=_SQL_WELCH)
def stats_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between URGENT and LOW order
    values — the parametric two-sample companion to
    ``stats_mann_whitney_u`` (same two groups), with the
    Welch-Satterthwaite effective degrees of freedom. This is the
    test an experimentation pipeline runs on a metric whose variance
    differs across arms.

    Scale: one aggregate over the filtered scan yields both groups'
    exact DECIMAL(38,0) power sums (cents^2 wraps int64 past ~sf0.5);
    t and the dof are fixed-order scalar IEEE expressions on the
    single result row, identical in both engines.
    """
    tune(spark)
    o = table(spark, sf_dir, "orders")
    rows = o.filter(F.col("o_orderpriority").isin(_KS_A, _KS_B)).select(
        (dec("o_totalprice", 14) * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority") == _KS_A, 1).otherwise(0).alias("ia"),
    )
    c18 = F.col("cents").cast("decimal(18,0)")
    sums = rows.agg(
        F.sum("ia").cast("long").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("ia")).cast("long").alias("n_b"),
        F.sum(F.when(F.col("ia") == 1, c18))
        .cast("decimal(38,0)")
        .alias("s_a"),
        F.sum(F.when(F.col("ia") == 0, c18))
        .cast("decimal(38,0)")
        .alias("s_b"),
        F.sum(F.when(F.col("ia") == 1, c18 * c18))
        .cast("decimal(38,0)")
        .alias("q_a"),
        F.sum(F.when(F.col("ia") == 0, c18 * c18))
        .cast("decimal(38,0)")
        .alias("q_b"),
    )
    sa, sb = F.col("s_a").cast("double"), F.col("s_b").cast("double")
    qa, qb = F.col("q_a").cast("double"), F.col("q_b").cast("double")
    na, nb = F.col("n_a"), F.col("n_b")
    va = (qa - sa * sa / na) / (na - 1) / na
    vb = (qb - sb * sb / nb) / (nb - 1) / nb
    return sums.select(
        "n_a",
        "n_b",
        (sa / na / 100).alias("mean_a"),
        (sb / nb / 100).alias("mean_b"),
        ((sa / na - sb / nb) / F.sqrt(va + vb)).alias("t_stat"),
        (
            (va + vb) * (va + vb)
            / (va * va / (na - 1) + vb * vb / (nb - 1))
        ).alias("dof_welch"),
    )


# --------------------------------------------------------------------
# Kendall tau-b of daily revenue vs daily order count
# --------------------------------------------------------------------

_SQL_KENDALL = """
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(14,2))))
                  AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END
               AS sx,
             CASE WHEN b.m > a.m THEN 1 WHEN b.m < a.m THEN -1 ELSE 0 END
               AS sy
      FROM daily a JOIN daily b ON b.d > a.d),
    counts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS conc,
             CAST(SUM(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS disc,
             CAST(SUM(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
             CAST(SUM(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
      FROM pairs),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily)
    SELECT n_days, n_pairs, conc AS n_concordant, disc AS n_discordant,
           CAST(conc - disc AS DOUBLE)
           / SQRT(CAST(n_pairs - tx AS DOUBLE)
                  * CAST(n_pairs - ty AS DOUBLE)) AS tau_b
    FROM counts, nd
"""


@query("stats_kendall_tau_daily", oracle=_SQL_KENDALL)
def stats_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between daily revenue and daily
    order count — the pair-concordance association measure that
    complements Spearman (``stats_spearman_rho``): tau has a direct
    probabilistic reading (P(concordant) - P(discordant)) and a
    smaller variance under heavy ties.

    Scale (Theil-Sen precedent): orders collapse to the model-level
    DAY table first, so the O(days^2) pair fan-out is quadratic only
    in calendar days — ~3M tiny pair rows at ANY corpus size, via a
    broadcast non-equi self-join that never shuffles the fact table.
    Every count is exact int64; tau-b is one fixed IEEE expression.
    """
    tune(spark)
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
        ).alias("d")
    ).agg(
        F.floor(F.sum(dec("o_totalprice", 14))).cast("long").alias("v"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    a = daily.select(
        F.col("d").alias("da"), F.col("v").alias("va"), F.col("m").alias("ma")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("v").alias("vb"), F.col("m").alias("mb")
    )
    sgn = (
        lambda x, y: F.when(y > x, 1).when(y < x, -1).otherwise(0)
    )
    pairs = a.join(F.broadcast(b), F.col("db") > F.col("da")).select(
        sgn(F.col("va"), F.col("vb")).alias("sx"),
        sgn(F.col("ma"), F.col("mb")).alias("sy"),
    )
    counts = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("sx") * F.col("sy") == 1, 1).otherwise(0))
        .cast("long")
        .alias("conc"),
        F.sum(F.when(F.col("sx") * F.col("sy") == -1, 1).otherwise(0))
        .cast("long")
        .alias("disc"),
        F.sum(F.when(F.col("sx") == 0, 1).otherwise(0))
        .cast("long")
        .alias("tx"),
        F.sum(F.when(F.col("sy") == 0, 1).otherwise(0))
        .cast("long")
        .alias("ty"),
    )
    nd = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return counts.crossJoin(F.broadcast(nd)).select(
        "n_days",
        "n_pairs",
        F.col("conc").alias("n_concordant"),
        F.col("disc").alias("n_discordant"),
        (
            (F.col("conc") - F.col("disc")).cast("double")
            / F.sqrt(
                (F.col("n_pairs") - F.col("tx")).cast("double")
                * (F.col("n_pairs") - F.col("ty")).cast("double")
            )
        ).alias("tau_b"),
    )


# --------------------------------------------------------------------
# Cramér's V effect size for nation x segment
# --------------------------------------------------------------------

_SQL_CRAMERS_V = """
    WITH cells AS (
      SELECT c_nationkey AS nk, c_mktsegment AS seg, COUNT(*) AS obs
      FROM customer GROUP BY c_nationkey, c_mktsegment),
    rt AS (SELECT nk, SUM(obs) AS rtot FROM cells GROUP BY nk),
    ct AS (SELECT seg, SUM(obs) AS ctot FROM cells GROUP BY seg),
    tot AS (SELECT SUM(obs) AS n, COUNT(DISTINCT nk) AS nr,
                   COUNT(DISTINCT seg) AS nc FROM cells),
    terms AS (
      SELECT (CAST(obs AS DOUBLE) - CAST(rtot * ctot AS DOUBLE) / n)
             * (CAST(obs AS DOUBLE) - CAST(rtot * ctot AS DOUBLE) / n)
             / (CAST(rtot * ctot AS DOUBLE) / n) AS term,
             n, nr, nc
      FROM cells JOIN rt USING (nk) JOIN ct USING (seg) CROSS JOIN tot),
    chi AS (
      SELECT CAST(MIN(n) AS BIGINT) AS n,
             CAST(LEAST(MIN(nr) - 1, MIN(nc) - 1) AS BIGINT) AS mindim,
             CAST(SUM(CAST(FLOOR(term * CAST(1000000 AS DOUBLE)) AS BIGINT))
                  AS DOUBLE) / CAST(1000000 AS DOUBLE) AS chi2
      FROM terms)
    SELECT n AS n_rows, mindim, chi2,
           SQRT(chi2 / (CAST(n AS DOUBLE) * mindim)) AS cramers_v
    FROM chi
"""


@query("stats_cramers_v", oracle=_SQL_CRAMERS_V)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the nation x market-segment
    association — the [0,1]-normalized companion to
    ``stats_chi2_nation_segment``: chi-square says "is there ANY
    dependence", V says "how strong", comparable across tables of
    different shape. A curation pipeline uses V to rank which
    metadata columns actually stratify the corpus.

    Scale/determinism: the contingency table is :func:`_chi2_cells`,
    the chi2 query's builder (one scan to a 125-cell frame, broadcast
    marginals), with the same floor-scaled int64 term sum; V adds one
    sqrt on the single result row.
    """
    tune(spark)
    j, term = _chi2_cells(spark, sf_dir)
    chi = j.agg(
        F.min("n").cast("long").alias("n"),
        F.least(F.min("nr") - 1, F.min("nc") - 1)
        .cast("long")
        .alias("mindim"),
        (
            F.sum(F.floor(term * F.lit(1000000.0)).cast("long")).cast("double")
            / F.lit(1000000.0)
        ).alias("chi2"),
    )
    return chi.select(
        F.col("n").alias("n_rows"),
        "mindim",
        "chi2",
        F.sqrt(
            F.col("chi2") / (F.col("n").cast("double") * F.col("mindim"))
        ).alias("cramers_v"),
    )


@query(
    "stats_overdispersion_index",
    oracle="""
    WITH k AS (
      SELECT event_type, user_id, COUNT(*) AS k
      FROM events WHERE user_id IS NOT NULL
      GROUP BY 1, 2
    ),
    p AS (
      SELECT event_type, COUNT(*) AS n_users, SUM(k) AS sk,
             SUM(CAST(k AS DECIMAL(19,0)) * CAST(k AS DECIMAL(19,0))) AS sk2
      FROM k GROUP BY 1
    )
    SELECT event_type, n_users, CAST(sk AS BIGINT) AS n_events,
           CAST(sk AS DOUBLE) / n_users AS mean_k,
           ((CAST(sk2 AS DOUBLE)
             - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE) / n_users)
            / (n_users - 1))
           / (CAST(sk AS DOUBLE) / n_users) AS dispersion,
           (n_users - 1)
           * (((CAST(sk2 AS DOUBLE)
                - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE) / n_users)
               / (n_users - 1))
              / (CAST(sk AS DOUBLE) / n_users)) AS chi2_stat
    FROM p WHERE n_users > 1
    """,
)
def stats_overdispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion diagnostic per event type: the index of
    dispersion D = var/mean of per-user event counts (among users who
    emitted the type), plus the (n-1)·D chi-square statistic — D >> 1
    means clumped/bursty traffic a Poisson model (and any
    rate-limiting built on one) would underestimate; the companion of
    ``stats_poisson_two_rate`` (which compares rates, not shape).

    Two map-side-combinable aggregates: per-(type, user) counts, then
    per-type power sums with Σk² in DECIMAL(38,0) (a single bot user
    at 1e9+ events would silently wrap an int64 square — the
    ``stats_spearman_rho`` lesson applied up front). The variance /
    dispersion tail is one shared expression tree of IEEE ops both
    engines evaluate identically.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    k = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    p = k.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("k").alias("sk"),
        F.sum(
            F.col("k").cast("decimal(19,0)") * F.col("k").cast("decimal(19,0)")
        ).alias("sk2"),
    )
    mean_k = F.col("sk").cast("double") / F.col("n_users")
    var_k = (
        F.col("sk2").cast("double")
        - F.col("sk").cast("double") * F.col("sk").cast("double")
        / F.col("n_users")
    ) / (F.col("n_users") - 1)
    disp = var_k / mean_k
    return p.filter(F.col("n_users") > 1).select(
        "event_type",
        "n_users",
        F.col("sk").alias("n_events"),
        mean_k.alias("mean_k"),
        disp.alias("dispersion"),
        ((F.col("n_users") - 1) * disp).alias("chi2_stat"),
    )


@query(
    "stats_brown_forsythe",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    rn AS (SELECT event_type, c,
                  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS r
           FROM v),
    nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM v GROUP BY 1),
    med AS (SELECT rn.event_type, rn.c AS med
            FROM rn JOIN nn USING (event_type)
            WHERE rn.r = (nn.n + 1) // 2),
    z AS (SELECT v.event_type, ABS(v.c - med.med) AS z
          FROM v JOIN med USING (event_type)),
    g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ng,
                 CAST(SUM(z) AS BIGINT) AS sz,
                 SUM(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0)))
                   AS szz
          FROM z GROUP BY 1),
    q AS (SELECT ng, sz, szz,
                 CAST(FLOOR(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
                            / CAST(ng AS DOUBLE) * 1000000) AS BIGINT) AS qg
          FROM g),
    tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(sz) AS BIGINT) AS stot,
                   CAST(SUM(szz) AS DECIMAL(38,0)) AS szztot,
                   CAST(SUM(qg) AS BIGINT) AS sq
            FROM q)
    SELECT n AS n_obs, k AS n_groups,
           ((CAST(sq AS DOUBLE) / 1e6
             - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
               / CAST(n AS DOUBLE)) / (k - 1))
           / ((CAST(szztot AS DOUBLE) - CAST(sq AS DOUBLE) / 1e6) / (n - k))
             AS bf_statistic
    FROM tot
    """,
)
def stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (the median-based robust Levene variant)
    for variance homogeneity across event types: one-way ANOVA on the
    absolute deviations from each group's median — the
    heteroscedasticity GATE a user should check before trusting
    ``stats_anova_f_priority``/``stats_welch_t_test`` variance
    assumptions. Median = the exact lower-median order statistic
    ceil(n/2) (integer, interpolation-free — the cross-engine-safe
    convention), via the sketch-bracketed exact selection primitive.

    Exactness: deviations are integer cents; per-group Σz in int64 and
    Σz² in DECIMAL(38,0); the one cross-group sum of non-rationals
    (Σ sz_g²/n_g) floor-quantizes each group's term to a 1e-6 long
    first, so every aggregate is order-independent and the F-ratio is
    a single shared double expression tree.
    """
    tune(spark)
    from ..functions.quantiles import exact_quantile_values_per_group

    v = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
        )
    )
    v = v.persist()
    med = exact_quantile_values_per_group(
        v, ["event_type"], "c", [("med", 1, 2)]
    ).select("event_type", F.col("value").cast("long").alias("med"))
    z = v.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("c") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(
            F.col("z").cast("decimal(19,0)") * F.col("z").cast("decimal(19,0)")
        ).alias("szz"),
    )
    q = g.select(
        "ng",
        "sz",
        "szz",
        F.floor(
            F.col("sz").cast("double")
            * F.col("sz").cast("double")
            / F.col("ng").cast("double")
            * F.lit(1_000_000)
        )
        .cast("long")
        .alias("qg"),
    )
    tot = q.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sz").cast("long").alias("stot"),
        F.sum("szz").cast("decimal(38,0)").alias("szztot"),
        F.sum("qg").cast("long").alias("sq"),
    )
    num = (
        F.col("sq").cast("double") / F.lit(1e6)
        - F.col("stot").cast("double")
        * F.col("stot").cast("double")
        / F.col("n").cast("double")
    ) / (F.col("k") - 1)
    den = (
        F.col("szztot").cast("double") - F.col("sq").cast("double") / F.lit(1e6)
    ) / (F.col("n") - F.col("k"))
    out = tot.select(
        F.col("n").alias("n_obs"),
        F.col("k").alias("n_groups"),
        (num / den).alias("bf_statistic"),
    )
    out = out.persist()
    out.count()
    v.unpersist()
    return out


@query(
    "stats_cohens_d_matrix",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS prio,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                           AS BIGINT)) AS BIGINT) AS s,
             SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                           AS BIGINT) AS DECIMAL(19,0))
                 * CAST(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                             AS BIGINT) AS DECIMAL(19,0))) AS q
      FROM orders GROUP BY 1
    )
    SELECT a.prio AS prio_a, b.prio AS prio_b, a.n AS n_a, b.n AS n_b,
           (CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n) / 100
             AS mean_diff,
           ((CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
            / SQRT(((CAST(a.q AS DOUBLE)
                     - CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) / a.n)
                    + (CAST(b.q AS DOUBLE)
                       - CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE) / b.n))
                   / (a.n + b.n - 2))) AS cohens_d,
           ((CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
            / SQRT(((CAST(a.q AS DOUBLE)
                     - CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) / a.n)
                    + (CAST(b.q AS DOUBLE)
                       - CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE) / b.n))
                   / (a.n + b.n - 2)))
           * (1 - CAST(3 AS DOUBLE) / (4 * (a.n + b.n) - 9)) AS hedges_g
    FROM g a JOIN g b ON a.prio < b.prio
    """,
)
def stats_cohens_d_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes for every pair of order priorities:
    Cohen's d (mean difference over the pooled standard deviation) and
    the small-sample Hedges' g correction — the MAGNITUDE companion
    to the significance tests (``stats_welch_t_test``,
    ``stats_anova_f_priority``): with 100-TB row counts everything is
    "significant"; effect size is the number that still means
    something.

    One aggregate produces every group's exact power sums (cents in
    int64, squares in DECIMAL(38,0)); the pairwise table is a
    broadcast self-join of the 5-row model frame, and d/g are one
    shared double expression tree per pair.
    """
    tune(spark)
    o = table(spark, sf_dir, "orders")
    cents = (dec("o_totalprice", 14) * 100).cast("long")
    g = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents).cast("long").alias("s"),
        F.sum(
            cents.cast("decimal(19,0)") * cents.cast("decimal(19,0)")
        ).alias("q"),
    )
    a = g.select(
        F.col("prio").alias("prio_a"),
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("q").alias("q_a"),
    )
    b = g.select(
        F.col("prio").alias("prio_b"),
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("q").alias("q_b"),
    )
    mean_diff = (
        F.col("s_a").cast("double") / F.col("n_a")
        - F.col("s_b").cast("double") / F.col("n_b")
    )
    ssq = (
        F.col("q_a").cast("double")
        - F.col("s_a").cast("double") * F.col("s_a").cast("double")
        / F.col("n_a")
    ) + (
        F.col("q_b").cast("double")
        - F.col("s_b").cast("double") * F.col("s_b").cast("double")
        / F.col("n_b")
    )
    d = mean_diff / F.sqrt(ssq / (F.col("n_a") + F.col("n_b") - 2))
    return (
        a.join(F.broadcast(b), F.col("prio_a") < F.col("prio_b"))
        .select(
            "prio_a",
            "prio_b",
            "n_a",
            "n_b",
            (mean_diff / 100).alias("mean_diff"),
            d.alias("cohens_d"),
            (
                d
                * (
                    1
                    - F.lit(3).cast("double")
                    / (4 * (F.col("n_a") + F.col("n_b")) - 9)
                )
            ).alias("hedges_g"),
        )
    )


_OR_ILOG = "CAST(FLOOR(log2(CAST({x} AS DOUBLE)) * 1000000) AS BIGINT)"
_LN2 = "0.6931471805599453"


@query(
    "stats_odds_ratio_urgent_by_segment",
    oracle=f"""
    WITH cust AS (
      SELECT c_custkey,
             CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS exp
      FROM customer),
    outc AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderpriority = '1-URGENT'),
    cells AS (
      SELECT
        CAST(SUM(CASE WHEN exp = 1 AND o.o_custkey IS NOT NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        CAST(SUM(CASE WHEN exp = 1 AND o.o_custkey IS NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        CAST(SUM(CASE WHEN exp = 0 AND o.o_custkey IS NOT NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        CAST(SUM(CASE WHEN exp = 0 AND o.o_custkey IS NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM cust LEFT JOIN outc o ON o.o_custkey = cust.c_custkey)
    SELECT a, b, c, d,
           (CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c) AS odds_ratio,
           CAST({_OR_ILOG.format(x="a * d")}
                - {_OR_ILOG.format(x="b * c")} AS DOUBLE)
             / 1000000 * {_LN2} AS log_or,
           SQRT(CAST(1 AS DOUBLE) / a + CAST(1 AS DOUBLE) / b
                + CAST(1 AS DOUBLE) / c + CAST(1 AS DOUBLE) / d) AS se_log_or
    FROM cells
    """,
)
def stats_odds_ratio_urgent_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """2x2 odds ratio: does the AUTOMOBILE segment place URGENT orders
    at different odds than everyone else? Reports the contingency
    cells, the odds ratio ad/bc, its log (the quantity whose sampling
    distribution is approximately normal), and the Woolf standard
    error sqrt(1/a+1/b+1/c+1/d) — the effect+uncertainty pair for
    binary-exposure/binary-outcome questions, complementing
    ``stats_chi2_nation_segment`` (which tests, but doesn't size).

    Shape: one distinct-outcome side, one shuffle left join (AQE
    sizes it), one 1-row cell aggregate. Exactness: cells are exact integers;
    log(OR) = (ilog2(a·d) − ilog2(b·c)) · ln2 rides the quantized
    integer-log discipline (products are int64-safe to ~3e9
    customers per cell); OR and the SE are shared double expression
    trees.
    """
    tune(spark)
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1)
        .otherwise(0)
        .alias("exp"),
    )
    outc = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # plain shuffle left join: the URGENT-customer set scales with the
    # customer table (not a model-level frame), so forcing a broadcast
    # would violate the file's scale discipline — AQE may still demote
    # it to broadcast when it measures small (ADVICE r6)
    j = cust.join(outc, cust["c_custkey"] == outc["o_custkey"], "left")
    cells = j.agg(
        F.sum(F.when((F.col("exp") == 1) & F.col("hit").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when((F.col("exp") == 1) & F.col("hit").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("exp") == 0) & F.col("hit").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("exp") == 0) & F.col("hit").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    ilog = lambda col: F.floor(
        F.log2(col.cast("double")) * F.lit(1_000_000)
    ).cast("long")
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        (
            F.col("a").cast("double") * F.col("d")
            / (F.col("b").cast("double") * F.col("c"))
        ).alias("odds_ratio"),
        (
            (
                ilog(F.col("a") * F.col("d")) - ilog(F.col("b") * F.col("c"))
            ).cast("double")
            / F.lit(1_000_000)
            * F.lit(0.6931471805599453)
        ).alias("log_or"),
        F.sqrt(
            F.lit(1.0) / F.col("a")
            + F.lit(1.0) / F.col("b")
            + F.lit(1.0) / F.col("c")
            + F.lit(1.0) / F.col("d")
        ).alias("se_log_or"),
    )
