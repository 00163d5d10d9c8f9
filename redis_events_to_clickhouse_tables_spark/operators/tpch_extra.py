"""TPC-H Q7/Q8/Q9/Q11/Q16/Q17/Q20/Q21 shapes (Layer B widening).

Completes the TPC-H-style sweep over the driver's star schema. The
driver's schema has no ``partsupp`` table, so the partsupp-based
queries (Q9 supplycost, Q11 stock value, Q16 supplier attrs, Q20
availqty) are adapted to equivalent *shapes* over ``lineitem`` — the
operator structure (nested aggregates, NOT IN, correlated EXISTS,
scalar thresholds) is what's exercised, and the DuckDB oracle pins
exact semantics.

All money/measure aggregates go through exact decimal sums with the
final cast to double, using the same expression tree as the oracle
(see functions/numeric.py) — bit-identical across engines and
partition counts.

Scale notes: nation/region broadcasts are fixed-cardinality (25/5).
Per-key aggregates feeding comparisons are DataFrames joined back in
(shuffle on the key, partial aggregation map-side) — never
partitionless windows. Scalar aggregates (totals) are 1-row
DataFrames broadcast-cross-joined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.lineage import model_checkpoint
from ..functions.numeric import dec, one_dec
from ..registry import query
from ..session import tune
from ..sources.tables import table
from .relational import _SQL_REV, _rev
from .subqueries import _view


@query(
    "q7_nation_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(YEAR FROM l_shipdate) AS l_year,
           CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY n1.n_name, n2.n_name, EXTRACT(YEAR FROM l_shipdate)
    """,
)
def q7_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: 6-table join with a disjunctive cross-side
    nation-pair predicate, grouped by both nations and year.

    The nation filter can't be pushed to either dim alone (the pair
    condition spans both sides), but both nation joins broadcast
    (25 rows) so the predicate evaluates streaming-side with zero
    extra shuffles.
    """
    tune(spark)
    l = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31 00:00:00")
    )
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
           CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
                         THEN CAST({_SQL_REV} AS DECIMAL(24,4))
                         ELSE CAST(0 AS DECIMAL(24,4)) END) AS DOUBLE)
             / CAST(SUM(CAST({_SQL_REV} AS DECIMAL(24,4))) AS DOUBLE)
             AS mkt_share
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n2.n_regionkey
    WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY EXTRACT(YEAR FROM o_orderdate)
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: 8-table star join, share-of-total per group
    (conditional decimal sum / total decimal sum, one IEEE division).
    """
    tune(spark)
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31 00:00:00")
    )
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rkey")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev24 = _rev().cast("decimal(24,4)")
    zero24 = F.lit(0).cast("decimal(24,4)")
    nat = F.sum(F.when(F.col("supp_nation") == "NATION_3", rev24).otherwise(zero24))
    tot = F.sum(rev24)
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_rkey") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((nat.cast("double") / tot.cast("double")).alias("mkt_share"))
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
           CAST(SUM({_SQL_REV}) AS DOUBLE)
             - CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))
                        * CAST(l_quantity AS DECIMAL(12,2))
                        * CAST(0.1 AS DECIMAL(2,1))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%bolt%'
    GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per nation-year with a LIKE filter.

    No partsupp table in this schema, so supply cost is modeled as
    10% of retail price x quantity — the exact-decimal revenue-minus-
    cost structure is the point. Revenue and cost are summed as
    decimals separately and subtracted after the double cast (the same
    tree as the oracle). The LIKE pattern targets a noun that occurs
    in this corpus's generated part names at every SF ('%5%' matched
    nothing anywhere, leaving the query value-unchecked).
    """
    tune(spark)
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    cost = (
        dec("p_retailprice", 12) * dec("l_quantity", 12) * F.lit(0.1).cast("decimal(2,1)")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (F.sum(_rev()).cast("double") - F.sum(cost).cast("double")).alias("profit")
        )
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH val AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                 * CAST(l_quantity AS DECIMAL(12,2))) AS v
      FROM lineitem GROUP BY l_partkey),
    total AS (SELECT SUM(v) AS t, COUNT(*) AS n FROM val)
    SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
    FROM val, total
    WHERE CAST(v AS DOUBLE) > 1.5 * CAST(t AS DOUBLE) / n
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-key value vs a fraction of the grand total
    (scalar subquery threshold).

    Adapted from partsupp to lineitem value. The threshold is 1.5x the
    mean part value rather than TPC-H's fixed share of the total: a
    fixed share selects nothing once part count exceeds its reciprocal
    (0 rows at sf>=0.01 — value-unchecked), while a multiple of the
    mean keeps a stable selectivity at every SF, which is exactly what
    TPC-H's own 0.0001/SF scaling is for. The grand total reuses the
    per-key aggregate (one shuffle, then a 25-row-ish re-agg) and is
    broadcast back — the fact table is scanned once.
    """
    tune(spark)
    l = table(spark, sf_dir, "lineitem")
    val = l.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice", 14) * dec("l_quantity", 12)).alias("v")
    )
    total = val.agg(F.sum("v").alias("t"), F.count(F.lit(1)).alias("n"))
    return (
        val.join(
            F.broadcast(total),
            F.col("v").cast("double")
            > F.lit(1.5) * F.col("t").cast("double") / F.col("n"),
        )
        .select("l_partkey", F.col("v").cast("double").alias("part_value"))
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery exclusion + COUNT(DISTINCT)
    per part attributes.

    The NOT IN becomes a broadcast anti join (the "complaint"
    supplier list is tiny); s_suppkey is non-null so NOT IN and ANTI
    JOIN agree.
    """
    tune(spark)
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pavg AS (
      SELECT l_partkey,
             0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                    / COUNT(*)) AS threshold
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pavg ON pavg.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#12' AND l_quantity < threshold
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-key AVG threshold.

    The correlated subquery decorrelates to a per-part aggregate
    joined back to the fact table — written that way directly. The
    threshold is 0.2 x exact-sum/count (one double multiply), the
    same tree as the oracle.
    """
    tune(spark)
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    pavg = l.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        (
            F.lit(0.2)
            * (F.sum(dec("l_quantity", 12)).cast("double") / F.count(F.lit(1)))
        ).alias("threshold")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(pavg, l.l_partkey == pavg.pa_key)
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg(
            (F.sum(dec("l_extendedprice", 14)).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@query(
    "q20_excess_shippers",
    oracle="""
    WITH part_total AS (
      SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_partkey),
    sp AS (
      SELECT l_suppkey, lineitem.l_partkey,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sp_qty
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey, lineitem.l_partkey)
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM sp
      JOIN part_total ON part_total.l_partkey = sp.l_partkey
      WHERE CAST(sp_qty AS DOUBLE) > 0.3 * CAST(total_qty AS DOUBLE))
    """,
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN subqueries over per-(supplier,part)
    aggregates vs a per-part threshold, semi-joined to supplier.

    Adapted from partsupp availqty to "supplier shipped >30% of a
    PROMO part's 1997 volume". Both aggregates shuffle on partkey and
    join co-partitioned; the surviving supplier-id set is tiny and
    becomes a broadcast semi join.
    """
    tune(spark)
    l97 = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = table(spark, sf_dir, "supplier")
    part_total = l97.groupBy(F.col("l_partkey").alias("pt_key")).agg(
        F.sum(dec("l_quantity", 12)).alias("total_qty")
    )
    sp = (
        l97.join(p, l97.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity", 12)).alias("sp_qty"))
    )
    excess = (
        sp.join(part_total, sp.l_partkey == part_total.pt_key)
        .filter(
            F.col("sp_qty").cast("double")
            > F.lit(0.3) * F.col("total_qty").cast("double")
        )
        .select("l_suppkey")
    )
    return s.join(
        F.broadcast(excess), s.s_suppkey == excess.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: correlated EXISTS + NOT EXISTS (the supplier
    who alone was late on a multi-supplier order).

    Written through spark.sql so Catalyst decorrelates both
    subqueries into semi/anti joins — the plan a 1000-executor run
    wants (no per-row subquery execution). "Late" is adapted to
    shipdate > orderdate + 90 days (this schema has no
    receipt/commit dates).
    """
    tune(spark)
    s = _view(spark, sf_dir, "supplier")
    l = _view(spark, sf_dir, "lineitem")
    o = _view(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        SELECT s_name, COUNT(*) AS numwait
        FROM {s}
        JOIN {l} l1 ON s_suppkey = l1.l_suppkey
        JOIN {o} ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAYS
          AND EXISTS (SELECT 1 FROM {l} l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM {l} l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAYS)
        GROUP BY s_name
        """
    )


@query(
    "basket_brand_pairs_lift",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM basket),
    brand_n AS (SELECT brand, COUNT(*) AS c FROM basket GROUP BY brand),
    pair_n AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS c
      FROM basket a JOIN basket b
        ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT p.brand_a, p.brand_b,
           CAST(p.c AS BIGINT) AS n_together,
           CAST(p.c AS DOUBLE) / n.n_orders AS support,
           CAST(p.c AS DOUBLE) / ba.c AS confidence_a_to_b,
           (CAST(p.c AS DOUBLE) * n.n_orders) / (ba.c * bb.c) AS lift
    FROM pair_n p
    JOIN brand_n ba ON ba.brand = p.brand_a
    JOIN brand_n bb ON bb.brand = p.brand_b
    CROSS JOIN n
    WHERE p.c >= 3
    """,
)
def basket_brand_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: support / confidence / lift
    for every pair of part brands co-purchased in one order (min
    support 3 orders) — the A-priori first pass, the cross-sell
    signal every commerce warehouse computes.

    Scale shape: baskets dedupe to (order, brand) — the within-order
    self-join fans out at most |brands-per-order|^2 (brands are a
    25-value dimension, so <=300 pair rows per order, never a corpus
    cross join); pair counts and per-brand counts are hash
    aggregates; the scalar order count broadcasts. The part dimension
    joins broadcast (dim table).
    """
    tune(spark)
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    basket = (
        l.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            l.l_partkey == p.p_partkey,
        )
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    # model_checkpoint (r10, was persist): the (order, brand) basket —
    # fixed-width decision metadata, guide §8 — feeds four consumers
    # (scalar order count, per-brand counts, both pair-join sides);
    # the leaf stops each reference re-embedding the join+distinct
    # subtree and retires the trailing persist/count/unpersist triple.
    basket = model_checkpoint(basket)
    n_orders = basket.select("okey").distinct().count()
    brand_n = basket.groupBy("brand").agg(F.count(F.lit(1)).alias("c"))
    a = basket.select("okey", F.col("brand").alias("brand_a"))
    b = basket.select("okey", F.col("brand").alias("brand_b"))
    pair_n = (
        a.join(b, "okey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 3)
    )
    ba = brand_n.select(F.col("brand").alias("brand_a"), F.col("c").alias("ca"))
    bb = brand_n.select(F.col("brand").alias("brand_b"), F.col("c").alias("cb"))
    out = (
        pair_n.join(F.broadcast(ba), "brand_a")
        .join(F.broadcast(bb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            F.col("c").cast("long").alias("n_together"),
            (F.col("c").cast("double") / n_orders).alias("support"),
            (F.col("c").cast("double") / F.col("ca")).alias(
                "confidence_a_to_b"
            ),
            (
                (F.col("c").cast("double") * n_orders)
                / (F.col("ca") * F.col("cb"))
            ).alias("lift"),
        )
    )
    return out


@query(
    "supplier_otif_rate",
    oracle="""
    SELECT l.l_suppkey AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(*) FILTER (l.l_shipdate <= o.o_orderdate
                                 + INTERVAL 30 DAY) AS BIGINT) AS n_on_time,
           CAST(COUNT(*) FILTER (l.l_shipdate <= o.o_orderdate
                                 + INTERVAL 30 DAY
                                 AND l.l_quantity >= 25) AS BIGINT)
             AS n_otif,
           CAST(COUNT(*) FILTER (l.l_shipdate <= o.o_orderdate
                                 + INTERVAL 30 DAY) AS DOUBLE)
             / COUNT(*) AS on_time_rate,
           CAST(COUNT(*) FILTER (l.l_shipdate <= o.o_orderdate
                                 + INTERVAL 30 DAY
                                 AND l.l_quantity >= 25) AS DOUBLE)
             / COUNT(*) AS otif_rate
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY l.l_suppkey
    """,
)
def supplier_otif_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-Time-In-Full per supplier: the supply-chain KPI — share of
    line items shipped within 30 days of the order date (on-time; this
    schema carries no commit date, so the SLA is date-relative), and
    of those, with a full quantity (>= 25 standing in for the
    full-allocation flag).

    Scale shape: one fact-fact equi-join on the order key (the Q4
    shape) followed by a conditional hash aggregate keyed on the
    supplier — two shuffles at any scale, predicates evaluated
    streaming-side in codegen.
    """
    tune(spark)
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_quantity"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = l.join(o, l.l_orderkey == o.o_orderkey)
    on_time = F.col("l_shipdate") <= F.date_add(F.col("o_orderdate"), 30)
    in_full = on_time & (F.col("l_quantity") >= 25)
    n = F.count(F.lit(1))
    n_ot = F.sum(F.when(on_time, 1).otherwise(0))
    n_otif = F.sum(F.when(in_full, 1).otherwise(0))
    return j.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        n.cast("long").alias("n_lines"),
        n_ot.cast("long").alias("n_on_time"),
        n_otif.cast("long").alias("n_otif"),
        (n_ot.cast("double") / n).alias("on_time_rate"),
        (n_otif.cast("double") / n).alias("otif_rate"),
    )
