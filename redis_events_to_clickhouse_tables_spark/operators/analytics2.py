"""Cross-domain analytics wave: co-purchase link prediction, graph
assortativity, grouped elasticity regression, Neyman sampling design,
an AMS second-moment sketch probe, and time-decay attribution.

Exactness: integer/decimal reductions everywhere; the one sqrt-based
weight (Neyman) is floor-quantized before normalization; time-decay
weights are exact powers of two. Scale: co-purchase edges are
support-thresholded (a sparse, slowly-growing graph), wedge centers
are degree-capped, and every join is keyed.

Reference parity note: the reference ETL (src/main.ts) has no
analytics operators; Layer-B north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import DUCKDB_MD5_LONG, md5_long
from ..functions.lineage import model_checkpoint
from ..registry import query
from ..session import tune
from ..sources.tables import table

_CP_SUPPORT = 2  # orders containing both parts
_CP_DEG_CAP = 256
_CP_TOP = 200

_SQL_CP_EDGES = f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    e0 AS (
      SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS support
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING COUNT(*) >= {_CP_SUPPORT}),
    edges AS (
      SELECT pa AS s, pb AS d FROM e0
      UNION ALL SELECT pb, pa FROM e0),
    deg AS (SELECT s AS v, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY 1)
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s, d): the symmetrized co-purchase edge list. Part pairs bought
    together in at least ``_CP_SUPPORT`` orders (one order-keyed self
    join of the distinct (order, part) set), each pair once per
    orientation, so every vertex's out-edges are its neighbors."""
    li = table(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = op.select("o", F.col("p").alias("pa"))
    b = op.select("o", F.col("p").alias("pb"))
    e0 = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= _CP_SUPPORT)
    )
    return e0.select(
        F.col("pa").alias("s"), F.col("pb").alias("d")
    ).unionAll(e0.select(F.col("pb").alias("s"), F.col("pa").alias("d")))


def _copurchase_edge_leaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_copurchase_edges`, materialized once and read back as a
    lineage leaf, for the queries that reference the graph many times.

    Materialize first: several downstream branches (degrees, wedge
    sides, the adjacency anti-join, both endpoint joins) consume the
    frame, and an unmaterialized graph would recompute the order-pair
    self-join once per branch (measured 4x wall at sf0.1). Then
    checkpoint (r11, the er_part hybrid pattern): six downstream
    references each re-embedded the ~10 KB order-pair self-join
    subtree into a 70 KB consumer plan and Catalyst planning dominated
    the action (1.75 s over a ~3.5k-row cached graph). Checkpointing
    the ALREADY-CACHED frame is one cheap cache scan, and the stats
    loss is moot: every downstream join carries an explicit broadcast
    hint. The cache is released at once; every reference reads the
    leaf.
    """
    cached = _copurchase_edges(spark, sf_dir).persist()
    cached.count()
    edges = model_checkpoint(cached)
    cached.unpersist()
    return edges


@query(
    "graph_copurchase_jaccard_linkpred",
    oracle=_SQL_CP_EDGES
    + f""",
    wedge AS (
      SELECT e1.d AS a, e2.d AS b,
             CAST(COUNT(DISTINCT e1.s) AS BIGINT) AS cn
      FROM edges e1
      JOIN deg dc ON dc.v = e1.s AND dc.deg <= {_CP_DEG_CAP}
      JOIN edges e2 ON e2.s = e1.s AND e1.d < e2.d
      GROUP BY 1, 2),
    cand AS (
      SELECT w.a, w.b, w.cn, da.deg AS deg_a, db.deg AS deg_b
      FROM wedge w
      JOIN deg da ON da.v = w.a
      JOIN deg db ON db.v = w.b
      WHERE NOT EXISTS (SELECT 1 FROM edges e
                        WHERE e.s = w.a AND e.d = w.b))
    SELECT a AS part_a, b AS part_b, cn AS common_neighbors,
           deg_a, deg_b,
           CAST(cn AS DOUBLE) / (deg_a + deg_b - cn) AS jaccard
    FROM cand
    ORDER BY cn DESC, a ASC, b ASC
    LIMIT {_CP_TOP}
    """,
)
def graph_copurchase_jaccard_linkpred(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jaccard link prediction on the co-purchase graph: part pairs
    never bought together (non-adjacent) but sharing co-purchase
    neighbors, scored by |N(a) n N(b)| / |N(a) u N(b)| — the
    neighborhood-overlap recommender next to the Adamic-Adar variant
    (graph_linkpred_common_neighbors, which runs on the document
    similarity graph).

    Scale: edges require co-purchase SUPPORT >= {s} orders, which
    keeps the graph sparse (random pairs almost never repeat — ~3.5k
    edges at both sf0.01 and sf0.1); wedge centers are degree-capped
    at {cap}; adjacency exclusion is an anti-join on the edge list.
    The emitted top-{top} orders by the EXACT integer common-neighbor
    count with id tiebreaks.
    """
    tune(spark)
    edges = _copurchase_edge_leaf(spark, sf_dir)
    deg = edges.groupBy(F.col("s").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    centers = deg.filter(F.col("deg") <= _CP_DEG_CAP).select(
        F.col("v").alias("s")
    )
    # r11 (guide §3.1): every join below pairs a frame bounded by the
    # support-thresholded sparse graph (edges / deg — ~3.5k rows at
    # sf0.01 AND sf0.1, the operator's own scale argument) against
    # another; without hints the initial plan ran all five as
    # SortMergeJoin and left the conversion to per-stage AQE jobs
    # (measured 18 jobs / 1.8 s action). Explicit broadcasts put the
    # exchange-free plan up front.
    e1 = edges.join(F.broadcast(centers), "s").select(
        "s", F.col("d").alias("a")
    )
    e2 = edges.select("s", F.col("d").alias("b"))
    wedge = (
        e1.join(F.broadcast(e2), "s")
        .filter(F.col("a") < F.col("b"))
        # count(1) == countDistinct(s) here: edges is a set (e0 rows
        # are unique (pa < pb) pairs and the two union halves have
        # disjoint orientations), so each center s contributes at most
        # one (s, a, b) wedge row — the oracle's COUNT(DISTINCT e1.s)
        # over the same set. Dropping the DISTINCT removes the expand
        # pass from the aggregate.
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    cand = wedge.join(
        F.broadcast(edges.select(F.col("s").alias("a"), F.col("d").alias("b"))),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    out = (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            "deg_a",
            "deg_b",
            (
                F.col("cn").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("common_neighbors"), F.asc("part_a"), F.asc("part_b"))
        .limit(_CP_TOP)
    )
    return out


@query(
    "graph_copurchase_assortativity",
    oracle=_SQL_CP_EDGES
    + """
    , ex AS (
      SELECT ds.deg AS x, dd.deg AS y
      FROM edges e
      JOIN deg ds ON ds.v = e.s
      JOIN deg dd ON dd.v = e.d),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM ex)
    SELECT n AS n_edge_endpoints,
           (CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE))
           / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                  * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
             AS assortativity
    FROM s
    """,
)
def graph_copurchase_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity of the co-purchase graph: Pearson
    correlation of endpoint degrees over every directed edge —
    positive means hub products pair with hubs (bundling), negative
    means hub-and-spoke catalogs. One number that summarizes the
    graph's mixing pattern.

    All five moment sums are exact DECIMAL(38,0)/HUGEINT over the
    symmetrized edge list; r is one shared IEEE expression
    (sqrt of a product of two correctly-rounded doubles).
    """
    tune(spark)
    edges = _copurchase_edge_leaf(spark, sf_dir)
    deg = edges.groupBy(F.col("s").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    # broadcast hints for the same reason as linkpred (r11): deg is
    # bounded by the sparse support-thresholded graph's vertex set.
    ex = (
        edges.join(
            F.broadcast(
                deg.select(F.col("v").alias("s"), F.col("deg").alias("x"))
            ),
            "s",
        )
        .join(
            F.broadcast(
                deg.select(F.col("v").alias("d"), F.col("deg").alias("y"))
            ),
            "d",
        )
        .select("x", "y")
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")
    s = ex.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(d38("x") * F.col("y")).alias("sxy"),
        F.sum(d38("x") * F.col("x")).alias("sxx"),
        F.sum(d38("y") * F.col("y")).alias("syy"),
    )
    return s.select(
        F.col("n").alias("n_edge_endpoints"),
        (
            (F.col("n") * F.col("sxy") - d38("sx") * F.col("sy")).cast(
                "double"
            )
            / F.sqrt(
                (F.col("n") * F.col("sxx") - d38("sx") * F.col("sx")).cast(
                    "double"
                )
                * (F.col("n") * F.col("syy") - d38("sy") * F.col("sy")).cast(
                    "double"
                )
            )
        ).alias("assortativity"),
    )


@query(
    "orders_discount_elasticity_by_brand",
    oracle="""
    WITH rows_ AS (
      SELECT p.p_brand,
             CAST(CAST(l.l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS x,
             CAST(CAST(l.l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    s AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM rows_ GROUP BY 1)
    SELECT p_brand, n AS n_lineitems,
           CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
           / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
             AS slope_qty_per_pct,
           (CAST(sy AS DOUBLE)
              - CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) * sx)
             / n AS intercept_qty
    FROM s
    """,
)
def orders_discount_elasticity_by_brand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-brand discount elasticity: OLS slope of quantity on
    discount within each brand — does discounting move volume, and
    for which brands? The grouped sibling of the global
    stats_regression_price_qty, showing the GROUPed-regression shape
    (one pass, per-group exact moment sums, no per-group model loop).

    Discount and quantity are exact scaled integers; slope and
    intercept are ratios of DECIMAL(38,0)/HUGEINT expressions with
    one double conversion each. The part join shuffles on partkey;
    brands are a bounded group space.
    """
    tune(spark)
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rows = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        "p_brand",
        (F.col("l_discount").cast("decimal(4,2)") * 100)
        .cast("long")
        .alias("x"),
        (F.col("l_quantity").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")
    s = rows.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(d38("x") * F.col("y")).alias("sxy"),
        F.sum(d38("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - d38("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - d38("sx") * F.col("sx")).cast("double")
    return s.select(
        "p_brand",
        F.col("n").alias("n_lineitems"),
        slope.alias("slope_qty_per_pct"),
        ((F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")).alias(
            "intercept_qty"
        ),
    )


_NEYMAN_BUDGET = 1000  # total sample size to allocate


@query(
    "sample_neyman_allocation",
    oracle=f"""
    WITH s AS (
      SELECT c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
                  AS BIGINT) AS sx,
             SUM(CAST(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                      AS HUGEINT)
                 * CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
               AS sxx
      FROM customer GROUP BY 1),
    w AS (
      SELECT c_nationkey, nh,
             CAST(FLOOR(sqrt(CAST(nh * sxx - CAST(sx AS HUGEINT) * sx
                                  AS DOUBLE)) / nh * 1000) AS BIGINT)
               AS nhsh_fp
      FROM s),
    tot AS (SELECT CAST(SUM(CAST(nh AS HUGEINT) * nhsh_fp) AS BIGINT)
              AS tot_fp FROM w)
    SELECT c_nationkey, nh AS stratum_size,
           CAST(nh AS DOUBLE) * nhsh_fp / tot_fp AS share,
           CAST(nh AS DOUBLE) * nhsh_fp / tot_fp * {_NEYMAN_BUDGET}
             AS allocated_n
    FROM w CROSS JOIN tot
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling design over customer
    nations: allocate the sample budget proportionally to N_h * S_h
    (stratum size times stddev of account balance) — the
    variance-minimizing alternative to proportional allocation every
    survey/eval-sampling pipeline should use.

    S_h enters as a floor-quantized fixed-point weight
    (sqrt(n*Sxx - Sx^2)/n, the population-sd numerator over exact
    cent sums), so the normalizing total is an exact integer and all
    shares ride one deterministic double pipeline.
    """
    tune(spark)
    c = table(spark, sf_dir, "customer")
    cents = (F.col("c_acctbal").cast("decimal(12,2)") * 100).cast("long")
    s = c.select("c_nationkey", cents.alias("xc")).groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum("xc").cast("long").alias("sx"),
        F.sum(F.col("xc").cast("decimal(38,0)") * F.col("xc")).alias("sxx"),
    )
    w = s.select(
        "c_nationkey",
        "nh",
        F.floor(
            F.sqrt(
                (
                    F.col("nh") * F.col("sxx")
                    - F.col("sx").cast("decimal(38,0)") * F.col("sx")
                ).cast("double")
            )
            / F.col("nh")
            * F.lit(1000)
        )
        .cast("long")
        .alias("nhsh_fp"),
    )
    tot = w.agg(
        F.sum(F.col("nh").cast("decimal(38,0)") * F.col("nhsh_fp"))
        .cast("long")
        .alias("tot_fp")
    )
    share = F.col("nh").cast("double") * F.col("nhsh_fp") / F.col("tot_fp")
    return w.crossJoin(F.broadcast(tot)).select(
        "c_nationkey",
        F.col("nh").alias("stratum_size"),
        share.alias("share"),
        (share * F.lit(_NEYMAN_BUDGET)).alias("allocated_n"),
    )


_AMS_ESTIMATORS = 5


@query(
    "sketch_ams_f2",
    oracle=f"""
    WITH k AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE user_id IS NOT NULL GROUP BY 1),
    est AS (
      SELECT j.j,
             CAST(SUM((1 - 2 * ({DUCKDB_MD5_LONG("CAST(j.j AS VARCHAR) || ':' || CAST(k.user_id AS VARCHAR)", salt="ams")} % 2)) * k.c)
                  AS BIGINT) AS s
      FROM k, UNNEST(range(0, {_AMS_ESTIMATORS})) AS j(j)
      GROUP BY 1),
    exact AS (
      SELECT SUM(CAST(c AS HUGEINT) * c) AS f2 FROM k),
    med AS (
      SELECT CAST(s AS HUGEINT) * s AS m FROM est
      ORDER BY CAST(s AS HUGEINT) * s LIMIT 1 OFFSET {_AMS_ESTIMATORS // 2})
    SELECT CAST(est.j AS BIGINT) AS estimator,
           CAST(CAST(est.s AS HUGEINT) * est.s AS BIGINT) AS f2_estimate,
           CAST(exact.f2 AS BIGINT) AS f2_exact,
           CAST(med.m AS BIGINT) AS f2_median,
           CAST(med.m AS DOUBLE) / CAST(exact.f2 AS DOUBLE) AS median_ratio
    FROM est CROSS JOIN exact CROSS JOIN med
    """,
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) second-moment sketch probe: {k}
    independent +/-1 hash estimators of F2 = sum of squared user
    event counts, with the median estimate next to the EXACT F2 — the
    join-size/self-join-cardinality estimator, measured the same way
    the CountMin/HLL/Bloom probes pin their error.

    Signs are md5-derived (cross-engine hash contract); each
    estimator's sum is exact int64, squares and the exact F2 are
    DECIMAL(38,0)/HUGEINT, and the median is an exact integer order
    statistic — the whole probe hash-matches bit-for-bit.
    """
    tune(spark)
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    k = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("c"))
    js = spark.range(0, _AMS_ESTIMATORS).select(F.col("id").alias("j"))
    sign = 1 - 2 * (
        md5_long(
            F.concat(
                F.col("j").cast("string"),
                F.lit(":"),
                F.col("user_id").cast("string"),
            ),
            salt="ams",
        )
        % 2
    )
    est = (
        k.crossJoin(F.broadcast(js))
        .groupBy("j")
        .agg(F.sum(sign * F.col("c")).cast("long").alias("s"))
    )
    exact = k.agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("f2")
    )
    med = (
        est.select((F.col("s").cast("decimal(38,0)") * F.col("s")).alias("m"))
        .orderBy("m")
        .limit(_AMS_ESTIMATORS // 2 + 1)
        .orderBy(F.desc("m"))
        .limit(1)
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("j").cast("long").alias("estimator"),
            (F.col("s").cast("decimal(38,0)") * F.col("s"))
            .cast("long")
            .alias("f2_estimate"),
            F.col("f2").cast("long").alias("f2_exact"),
            F.col("m").cast("long").alias("f2_median"),
            (F.col("m").cast("double") / F.col("f2").cast("double")).alias(
                "median_ratio"
            ),
        )
    )


_DECAY_WINDOW_S = 1800


@query(
    "events_attribution_time_decay",
    oracle=f"""
    WITH pairs AS (
      SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
             CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS lag_s
      FROM events v
      JOIN events p
        ON p.user_id = v.user_id
       AND p.ts > v.ts
       AND p.ts <= v.ts + INTERVAL {_DECAY_WINDOW_S} SECONDS
      WHERE v.event_type = 'view' AND p.event_type = 'purchase'),
    wt AS (
      SELECT user_id, view_id, purchase_id, lag_s,
             CAST(1 AS BIGINT) << CAST(30 - lag_s // 60 AS INTEGER)
               AS weight_fp
      FROM pairs),
    tot AS (
      SELECT purchase_id, CAST(SUM(weight_fp) AS BIGINT) AS w_tot
      FROM wt GROUP BY 1)
    SELECT wt.user_id, wt.view_id, wt.purchase_id, wt.lag_s, wt.weight_fp,
           CAST(wt.weight_fp AS DOUBLE) / tot.w_tot AS credit
    FROM wt JOIN tot ON tot.purchase_id = wt.purchase_id
    """,
)
def events_attribution_time_decay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-decay conversion attribution: each purchase's credit is
    split across the user's preceding 30-minute views with weight
    2^(-minutes-of-age) — recency-weighted, the standard middle
    ground between last-touch and the linear split
    (events_attribution_linear).

    The decay weight is an EXACT power of two (bit shift on the
    integer minute age), so per-purchase weight totals are exact
    int64 and each credit is one IEEE division. Same user-keyed
    interval-join shape as events_view_purchase_attribution.
    """
    tune(spark)
    e = table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    pairs = v.join(
        p,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") > F.col("v_ts"))
        # interval comparison on the full-precision timestamps — a
        # floored-seconds bound would disagree with the oracle at the
        # window edge when microseconds straddle it
        & (
            F.col("p_ts")
            <= F.col("v_ts") + F.expr(f"INTERVAL {_DECAY_WINDOW_S} SECONDS")
        ),
    ).select(
        "user_id",
        "view_id",
        "purchase_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias("lag_s"),
    )
    wt = pairs.select(
        "user_id",
        "view_id",
        "purchase_id",
        "lag_s",
        F.expr(
            "shiftleft(CAST(1 AS BIGINT),"
            " CAST(30 - floor(lag_s / 60) AS INT))"
        ).alias("weight_fp"),
    )
    tot = wt.groupBy("purchase_id").agg(
        F.sum("weight_fp").cast("long").alias("w_tot")
    )
    return wt.join(tot, "purchase_id").select(
        "user_id",
        "view_id",
        "purchase_id",
        "lag_s",
        "weight_fp",
        (F.col("weight_fp").cast("double") / F.col("w_tot")).alias("credit"),
    )


@query(
    "basket_rules_confidence",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM ob),
    supp AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS s FROM ob GROUP BY 1),
    pair AS (
      SELECT a.b AS ant, c.b AS cons, CAST(COUNT(*) AS BIGINT) AS s_ab
      FROM ob a JOIN ob c ON a.o = c.o AND a.b <> c.b
      GROUP BY 1, 2)
    SELECT pair.ant AS antecedent, pair.cons AS consequent,
           sa.s AS supp_antecedent, sc.s AS supp_consequent, pair.s_ab
             AS supp_both,
           CAST(pair.s_ab AS DOUBLE) / sa.s AS confidence,
           CAST(n.n_orders AS DOUBLE) * pair.s_ab
             / (CAST(sa.s AS DOUBLE) * sc.s) AS lift,
           CAST((n.n_orders - sc.s) AS DOUBLE) * sa.s
             / (CAST(n.n_orders AS DOUBLE) * NULLIF(sa.s - pair.s_ab, 0))
             AS conviction
    FROM pair
    JOIN supp sa ON sa.b = pair.ant
    JOIN supp sc ON sc.b = pair.cons
    CROSS JOIN n
    """,
)
def basket_rules_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules over brand baskets: for every
    ordered brand pair a -> b, support, confidence P(b|a), lift, and
    conviction — the full rule metrics behind "customers who buy a
    also buy b" (basket_brand_pairs_lift is the symmetric lift-only
    sibling).

    Rule space is bounded by the brand-vocabulary square; counts are
    exact integers from one order-keyed self-join; each metric is a
    single IEEE expression over exact counts (conviction NULLs out at
    confidence = 1 via an integer NULLIF — no division-by-zero float
    path).
    """
    tune(spark)
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
        .persist()
    )
    ob.count()  # multi-branch consumer (n, supp, both pair sides)
    n = ob.agg(F.countDistinct("o").cast("long").alias("n_orders"))
    supp = ob.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("s"))
    a = ob.select("o", F.col("b").alias("ant"))
    c = ob.select("o", F.col("b").alias("cons"))
    pair = (
        a.join(c, "o")
        .filter(F.col("ant") != F.col("cons"))
        .groupBy("ant", "cons")
        .agg(F.count(F.lit(1)).cast("long").alias("s_ab"))
    )
    sa = supp.select(F.col("b").alias("ant"), F.col("s").alias("sa"))
    sc = supp.select(F.col("b").alias("cons"), F.col("s").alias("sc"))
    return (
        pair.join(F.broadcast(sa), "ant")
        .join(F.broadcast(sc), "cons")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("ant").alias("antecedent"),
            F.col("cons").alias("consequent"),
            F.col("sa").alias("supp_antecedent"),
            F.col("sc").alias("supp_consequent"),
            F.col("s_ab").alias("supp_both"),
            (F.col("s_ab").cast("double") / F.col("sa")).alias("confidence"),
            (
                F.col("n_orders").cast("double")
                * F.col("s_ab")
                / (F.col("sa").cast("double") * F.col("sc"))
            ).alias("lift"),
            (
                (F.col("n_orders") - F.col("sc")).cast("double")
                * F.col("sa")
                / (
                    F.col("n_orders").cast("double")
                    * F.nullif(F.col("sa") - F.col("s_ab"), F.lit(0))
                )
            ).alias("conviction"),
        )
    )


@query(
    "graph_copurchase_brand_conductance",
    oracle=_SQL_CP_EDGES
    + """
    , lab AS (
      SELECT e.s, e.d, ps.p_brand AS bs, pd.p_brand AS bd
      FROM edges e
      JOIN part ps ON ps.p_partkey = e.s
      JOIN part pd ON pd.p_partkey = e.d),
    per AS (
      SELECT bs AS p_brand,
             CAST(COUNT(*) AS BIGINT) AS vol,
             CAST(COUNT(CASE WHEN bs <> bd THEN 1 END) AS BIGINT) AS cut
      FROM lab GROUP BY 1)
    SELECT p_brand, vol AS degree_volume, cut AS boundary_edges,
           CAST(cut AS DOUBLE) / vol AS conductance
    FROM per
    """,
)
def graph_copurchase_brand_conductance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conductance of each brand's community in the co-purchase graph:
    the fraction of a brand's edge volume that crosses to other brands
    — low conductance means the brand is bought as a self-contained
    bundle, high means it mixes freely (the per-community
    cut-quality view next to graph_source_modularity's global score).

    Edge endpoints are labeled by two keyed part joins (AQE sizes
    them); volume and cut are exact integer counts over the
    symmetrized support-thresholded edge list; conductance is one
    division.
    """
    tune(spark)
    edges = _copurchase_edges(spark, sf_dir)
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ps = p.select(F.col("p_partkey").alias("s"), F.col("p_brand").alias("bs"))
    pd_ = p.select(
        F.col("p_partkey").alias("d"), F.col("p_brand").alias("bd")
    )
    lab = edges.join(ps, "s").join(pd_, "d")
    per = lab.groupBy(F.col("bs").alias("p_brand")).agg(
        F.count(F.lit(1)).cast("long").alias("vol"),
        F.count(F.when(F.col("bs") != F.col("bd"), 1))
        .cast("long")
        .alias("cut"),
    )
    return per.select(
        "p_brand",
        F.col("vol").alias("degree_volume"),
        F.col("cut").alias("boundary_edges"),
        (F.col("cut").cast("double") / F.col("vol")).alias("conductance"),
    )


_KMV_K = 64
_KMV_DOMAIN = float(1 << 60)  # md5_long range [0, 2^60)


@query(
    "sketch_kmv_audience_overlap",
    oracle=f"""
    WITH tu AS (
      SELECT DISTINCT event_type,
             {DUCKDB_MD5_LONG("CAST(user_id AS VARCHAR)", salt="kmv")} AS h
      FROM events WHERE user_id IS NOT NULL),
    sk AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h ASC)
                 AS rk
        FROM tu)
      WHERE rk <= {_KMV_K}),
    uni AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, u.h,
             ROW_NUMBER() OVER (PARTITION BY a.event_type, b.event_type
                                ORDER BY u.h ASC) AS rk
      FROM (SELECT DISTINCT event_type FROM sk) a
      JOIN (SELECT DISTINCT event_type FROM sk) b
        ON a.event_type < b.event_type
      JOIN LATERAL (
        SELECT DISTINCT h FROM sk
        WHERE sk.event_type IN (a.event_type, b.event_type)) u ON TRUE),
    tau AS (
      SELECT type_a, type_b, CAST(MAX(h) AS BIGINT) AS tau_h
      FROM uni WHERE rk <= {_KMV_K} GROUP BY 1, 2),
    common AS (
      SELECT uni.type_a, uni.type_b, CAST(COUNT(*) AS BIGINT) AS c
      FROM uni
      JOIN tau ON tau.type_a = uni.type_a AND tau.type_b = uni.type_b
      JOIN sk sa ON sa.event_type = uni.type_a AND sa.h = uni.h
      JOIN sk sb ON sb.event_type = uni.type_b AND sb.h = uni.h
      WHERE uni.rk <= {_KMV_K}
      GROUP BY 1, 2),
    exact AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM tu a JOIN tu b
        ON a.h = b.h AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT tau.type_a, tau.type_b,
           COALESCE(common.c, 0) AS k_common,
           exact.n_exact AS exact_common_users,
           ({_KMV_K} - 1) * {_KMV_DOMAIN} / tau.tau_h AS union_estimate,
           CAST(COALESCE(common.c, 0) AS DOUBLE) / {_KMV_K}
             * (({_KMV_K} - 1) * {_KMV_DOMAIN} / tau.tau_h)
             AS intersection_estimate
    FROM tau
    LEFT JOIN common ON common.type_a = tau.type_a
                    AND common.type_b = tau.type_b
    JOIN exact ON exact.type_a = tau.type_a AND exact.type_b = tau.type_b
    """,
)
def sketch_kmv_audience_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KMV (k-minimum-values) sketch set operations: per event type,
    the bottom-{k} user hashes form a mergeable distinct-count
    sketch; for every type pair the merged sketch estimates the UNION
    cardinality ((k-1)*D/h_k) and the fraction of the merged sketch
    present in both sides estimates the INTERSECTION — the
    theta-sketch workflow behind audience-overlap dashboards, with
    the exact overlap (events_type_audience_jaccard's quantity)
    alongside for the error readout.

    All sketch contents are exact md5-hash integers (per-type bottom-k
    via the pruned bottomk_per_group primitive — no full sort);
    pairwise merging runs over a (types x k) model frame, and the two
    estimates are single IEEE expressions — the probe hash-matches
    bit-for-bit like the HLL/CountMin/Bloom/AMS family.
    """
    tune(spark)
    from ..functions.ranks import bottomk_per_group

    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    tu = e.select(
        "event_type",
        md5_long(F.col("user_id").cast("string"), salt="kmv").alias("h"),
    ).distinct()
    sk = bottomk_per_group(
        tu, ["event_type"], "h", ["h"], k=_KMV_K
    ).select("event_type", "h")
    ta = sk.select(F.col("event_type").alias("type_a"), F.col("h").alias("ha"))
    tb = sk.select(F.col("event_type").alias("type_b"), F.col("h").alias("hb"))
    # merged candidate pool per pair: distinct hashes from either sketch
    types = sk.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    pool = (
        pairs.join(
            sk.select(F.col("event_type").alias("te"), "h"),
            (F.col("te") == F.col("type_a")) | (F.col("te") == F.col("type_b")),
        )
        .select("type_a", "type_b", "h")
        .distinct()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("type_a", "type_b").orderBy(F.asc("h"))
    uni = pool.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _KMV_K
    )
    tau = uni.groupBy("type_a", "type_b").agg(
        F.max("h").cast("long").alias("tau_h")
    )
    common = (
        uni.join(
            ta, (F.col("ha") == F.col("h")) & (ta["type_a"] == uni["type_a"])
        )
        .join(
            tb, (F.col("hb") == F.col("h")) & (tb["type_b"] == uni["type_b"])
        )
        .groupBy(uni["type_a"], uni["type_b"])
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ea = tu.select(F.col("event_type").alias("type_a"), "h")
    eb = tu.select(F.col("event_type").alias("type_b"), F.col("h").alias("h2"))
    exact = (
        ea.join(eb, (F.col("h2") == F.col("h")))
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    union_est = (
        F.lit(float(_KMV_K - 1)) * F.lit(_KMV_DOMAIN) / F.col("tau_h")
    )
    return (
        tau.join(common, ["type_a", "type_b"], "left")
        .join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.coalesce("c", F.lit(0)).cast("long").alias("k_common"),
            F.col("n_exact").alias("exact_common_users"),
            union_est.alias("union_estimate"),
            (
                F.coalesce("c", F.lit(0)).cast("double")
                / F.lit(_KMV_K)
                * union_est
            ).alias("intersection_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# Linear counting sketch (Whang et al. 1990) for distinct users
# ---------------------------------------------------------------------------

_LC_M = 4096  # bitmap size: 2^12, so log2(m) is exactly 12
_LC_LN2 = "0.6931471805599453"


@query(
    "sketch_linear_counting_users",
    oracle=f"""
    WITH hits AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5('lc:' || user_id), 1, 15)) AS BIGINT)
               % {_LC_M} AS slot
      FROM events),
    occ AS (SELECT CAST(COUNT(*) AS BIGINT) AS filled FROM hits),
    ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
           FROM events)
    SELECT {_LC_M} AS m, filled,
           CAST({_LC_M} - filled AS BIGINT) AS empty_slots,
           CAST({_LC_M} AS DOUBLE) * CAST({_LC_LN2} AS DOUBLE)
             * (CAST(12000000 AS BIGINT)
                - CAST(FLOOR(log2(CAST(GREATEST({_LC_M} - filled, 1)
                                        AS DOUBLE))
                             * 1000000) AS BIGINT))
             / CAST(1000000 AS DOUBLE) AS lc_estimate,
           exact_users
    FROM occ, ex
    """,
)
def sketch_linear_counting_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear counting (Whang et al. 1990) estimate of distinct users:
    hash every user into an m = 4096-slot bitmap and estimate
    n ~ m * ln(m / empty_slots) — the low-cardinality-accurate sketch
    that complements HLL (``sketch_hll_mergeable_rollup``): LC beats
    HLL below ~m distinct values, and its occupancy map is trivially
    mergeable (OR) across partitions and days.

    Exactness: slots come from the cross-engine md5 mixer; occupancy
    is an exact distinct-count; ln(m/V) factors into
    ``ln2 * (log2 m - log2 V)`` where log2 m is exactly 12 and
    log2 V rides the audited 1e6 fixed-point integer-log quantization
    (``tests/test_ilog_quantization.py`` gates Spark==DuckDB floored
    ilogs for integer arguments) — so the estimate, like the
    entropy family, is a DEFINED deterministic quantity, not a
    float race. Scale: one map-side distinct on 4096 keys.
    """
    tune(spark)
    from ..functions.hashing import md5_long

    e = table(spark, sf_dir, "events")
    hits = (
        e.select(
            (md5_long(F.col("user_id").cast("string"), salt="lc") % _LC_M).alias(
                "slot"
            )
        )
        .distinct()
    )
    occ = hits.agg(F.count(F.lit(1)).cast("long").alias("filled"))
    ex = e.agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
    empty = (F.lit(_LC_M) - F.col("filled")).cast("long")
    # saturation guard (ADVICE r8): a full bitmap (empty = 0) would
    # make log2 diverge — DuckDB's FLOOR(-inf)::BIGINT errors while
    # Spark emits null. Clamp to >= 1 in BOTH engines: at saturation
    # the estimate degrades to m*ln(m), the standard LC fallback
    # before switching to HLL.
    ilog_v = F.floor(
        F.log2(F.greatest(empty, F.lit(1)).cast("double")) * 1000000
    ).cast("long")
    return occ.crossJoin(F.broadcast(ex)).select(
        F.lit(_LC_M).alias("m"),
        "filled",
        empty.alias("empty_slots"),
        (
            F.lit(float(_LC_M))
            * F.lit(float(_LC_LN2))
            * (F.lit(12000000).cast("long") - ilog_v)
            / F.lit(1000000.0)
        ).alias("lc_estimate"),
        "exact_users",
    )
