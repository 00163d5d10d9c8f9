"""Exact order statistics without a global or whole-group window.

``Window.orderBy(...)`` with no partitionBy moves every row through a
single task — the scale-killer Spark itself warns about — and a plain
``Window.partitionBy(group)`` does the same to a skewed group. The
five primitives here are two recipes.

The bucketed scan (:func:`global_rank_desc`, :func:`bucketed_prefix_sums`,
:func:`bucketed_prefix_min`): ``percentile_approx`` picks
~``n_buckets`` range boundaries on the key (the approximation affects
LOAD BALANCE only, never values); each row maps to its range bucket
via a broadcast literal array (a codegen expression, no join); one
O(n_buckets) collect of per-bucket aggregates folds into each bucket's
exclusive offset; a window over Window.partitionBy(bucket), each task
sorting ~N/n_buckets rows, plus the offset is the exact global value.

The pruned top-k (:func:`bottomk_per_group`,
:func:`topk_by_value_per_group`): a per-group cutoff keeps ~c0*k rows
per group in the scan stage, a 1-scalar probe checks each group kept
min(k, n), a miss widens the cutoff, and the window ranks survivors.

Cache lifetime: the scans persist their input (:func:`_pin`), the
top-k functions their final survivors. Spark's CacheManager holds that
block until the caller unpersists the pinned input or clears the
cache; neither Python nor JVM garbage collection releases a
``persist``, so a session that never clears its cache keeps one block
per call.
"""

from __future__ import annotations

from itertools import accumulate, count

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BUCKET = "__rk_bucket"


def _pin(df: DataFrame) -> DataFrame:
    """Persist a primitive's input frame unless the caller already
    cached it.

    Every primitive in this module runs 2+ driver actions over its
    input (boundary sketch, bucket counts, exactness probe) and then
    returns a frame that references the input AGAIN — without
    pinning, the input's whole lineage re-executes once per
    reference (measured: orders_abc_classification 10.1 s -> 4.4 s
    at sf0.1 from pinning rev + the ranked intermediate; the rank
    family's inputs are pre-aggregated model/feature frames, orders
    of magnitude smaller than their base tables). MEMORY_AND_DISK
    (the persist() default) spills instead of OOMing, so the pin is
    safe at any scale where the primitive itself is usable."""
    sl = df.storageLevel
    if not (sl.useMemory or sl.useDisk or sl.useOffHeap):
        return df.persist()
    return df


def _range_buckets(
    df: DataFrame, key: str, n_buckets: int, descending: bool
) -> tuple[DataFrame, int]:
    """Pin ``df``, sketch ~``n_buckets`` range boundaries on the
    integral ``key`` and add the ``_BUCKET`` column; returns (frame,
    number of buckets). Bucket 0 holds the smallest keys (id = #bounds
    < key), or the largest if ``descending`` (id = #bounds >= key), so
    each bucket is a contiguous slice of the key order and ties on key
    never straddle buckets."""
    df = _pin(df)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    row = df.agg(F.percentile_approx(key, qs, 10_000).alias("bs")).first()
    bounds = sorted({int(b) for b in (row["bs"] or []) if b is not None})
    barr = F.array(*[F.lit(b) for b in bounds])
    if not bounds:
        bucket = F.lit(0)
    elif descending:
        bucket = F.size(F.filter(barr, lambda b: b >= F.col(key)))
    else:
        bucket = F.size(F.filter(barr, lambda b: b < F.col(key)))
    return df.withColumn(_BUCKET, bucket), len(bounds) + 1


def _bucket_values(
    sb: DataFrame, n: int, aggs: dict[str, Column]
) -> dict[str, list]:
    """One O(n) collect of each aggregate per bucket of ``sb``:
    alias -> the value of buckets 0..n-1, None for an empty bucket."""
    rows = {
        r[_BUCKET]: r
        for r in sb.groupBy(_BUCKET)
        .agg(*[a.alias(name) for name, a in aggs.items()])
        .collect()
    }
    return {
        name: [rows[b][name] if b in rows else None for b in range(n)]
        for name in aggs
    }


def _add(acc, v):
    # an empty or all-NULL bucket adds 0 to later offsets
    return acc + (v or 0)


def _min(acc, v):
    return acc if v is None else v if acc is None else min(acc, v)


def _offset_at(values: list, fold, start) -> Column:
    """Each row's bucket offset: ``fold`` over ``start`` and the values
    of every EARLIER bucket, in a literal array (NULL cast to long)."""
    offsets = accumulate([start, *values[:-1]], fold)
    lits = [F.lit(None).cast("long") if o is None else F.lit(o) for o in offsets]
    return F.element_at(F.array(*lits), F.col(_BUCKET) + 1)


def _scan(
    df: DataFrame,
    key: str,
    order: list[Column],
    n_buckets: int,
    descending: bool,
    sum_cols: list[str],
    rank_col: str | None = None,
) -> tuple[DataFrame, int]:
    """The bucketed scan behind :func:`global_rank_desc` and
    :func:`bucketed_prefix_sums`: ``cum_<c>`` running totals of
    ``sum_cols`` and, if named, a 1-based ``rank_col`` along ``order``
    (a total order that refines ``key``'s). Returns (frame, n_rows)."""
    sb, n = _range_buckets(df, key, n_buckets, descending)
    # reserved aliases (__rk_n / __rk_sum_<c>) so a sum_col named like
    # the count alias can never collide (ADVICE r10)
    aggs = {"__rk_n": F.count(F.lit(1))}
    aggs.update({f"__rk_sum_{c}": F.sum(c) for c in sum_cols})
    totals = _bucket_values(sb, n, aggs)
    w = Window.partitionBy(_BUCKET).orderBy(*order)
    out = sb
    if rank_col is not None:
        off = _offset_at(totals["__rk_n"], _add, 0)
        out = out.withColumn(rank_col, off + F.row_number().over(w))
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for c in sum_cols:
        off = _offset_at(totals[f"__rk_sum_{c}"], _add, 0)
        out = out.withColumn(f"cum_{c}", off + F.sum(c).over(wsum))
    return out.drop(_BUCKET), sum(v or 0 for v in totals["__rk_n"])


def global_rank_desc(
    df: DataFrame,
    key: str,
    tiebreak: str,
    rank_col: str = "r",
    n_buckets: int = 64,
    sum_cols: list[str] | None = None,
) -> tuple[DataFrame, int]:
    """Attach ``rank_col`` = exact global 1-based rank of each row
    under (``key`` DESC, ``tiebreak`` ASC). Returns (frame, n_rows).

    ``key`` must be integral (boundaries are materialized as int
    literals); ``tiebreak`` must be unique so the order is total.

    ``sum_cols`` (r10): also attach ``cum_<c>`` = the exact running
    total of each listed integral column ALONG THE RANK ORDER —
    identical values to chaining :func:`bucketed_prefix_sums` over the
    ranked output (rank order is total, so cum over r ASC equals cum
    over (key DESC, tiebreak ASC)), but it rides the SAME two driver
    actions, one persist and one window instead of doubling all three.
    """
    order = [F.desc(key), F.asc(tiebreak)]
    return _scan(df, key, order, n_buckets, True, sum_cols or [], rank_col)


def bucketed_prefix_sums(
    df: DataFrame,
    key: str,
    sum_cols: list[str],
    n_buckets: int = 64,
) -> DataFrame:
    """Attach exact ASCENDING-order running totals ``cum_<c>`` of each
    ``sum_cols`` column along ``key`` order — the distributed "scan"
    primitive — without a global window: the ``sum_cols`` path of
    :func:`global_rank_desc` in ascending order, without a rank.
    ``key`` values must be unique rows (pre-aggregate duplicates
    first) and integral, ``sum_cols`` integral.
    """
    out, _ = _scan(df, key, [F.asc(key)], n_buckets, False, sum_cols)
    return out


def bucketed_prefix_min(
    df: DataFrame,
    key: str,
    val: str,
    out_col: str = "cum_min",
    n_buckets: int = 64,
) -> DataFrame:
    """Attach the exact ASCENDING-order running MINIMUM of ``val``
    along ``key`` order — the scan primitive Page-Hinkley-style
    detectors need (min-so-far of a cumulative statistic) — without a
    global window. ``key`` values must be unique rows and integral;
    ``val`` integral (offsets are materialized as int literals).
    """
    sb, n = _range_buckets(df, key, n_buckets, descending=False)
    mins = _bucket_values(sb, n, {"m": F.min(val)})["m"]
    w = (
        Window.partitionBy(_BUCKET)
        .orderBy(F.asc(key))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = _offset_at(mins, _min, None)
    within = F.min(val).over(w)
    out = sb.withColumn(out_col, F.least(F.coalesce(off, within), within))
    return out.drop(_BUCKET)


def _topk_survivors(
    df: DataFrame,
    stats: DataFrame,
    group_cols: list[str],
    keep,
    order: list,
    k: int,
) -> DataFrame:
    """The pruned top-k loop: rows of ``df`` with ``rk`` <= k under
    ``order`` within each ``group_cols`` group, EXACTLY the plain
    window's rows. ``stats`` holds each group's count ``__n`` and what
    ``keep`` reads; ``keep(i)`` is the survivor filter of widen step i
    and must keep a whole group at some finite step.

    r11: the survivors (~c0*k rows per group) are persisted, so the
    probe's count doubles as their materializer and the final window
    reads the cache instead of re-running the corpus scan + stats join
    (guide §2: the probe and the consumer share one corpus pass).
    """
    for i in count():
        surv = df.join(stats, list(group_cols)).filter(keep(i)).persist()
        # Probe from STATS, not from survivors: a group whose every row
        # lands outside the cutoff has zero surviving rows and would be
        # invisible to a survivor-side aggregate — left-join the
        # survivor counts onto the full group list and treat a missing
        # group as __s = 0 so it triggers the widen-retry.
        surv_counts = surv.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("__s")
        )
        short = (
            stats.join(surv_counts, list(group_cols), "left")
            .filter(
                F.coalesce(F.col("__s"), F.lit(0))
                < F.least(F.lit(k), F.col("__n"))
            )
            .count()  # 1-scalar probe, O(#groups); fills surv's cache
        )
        if short == 0:
            break
        surv.unpersist()
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        surv.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop(*[c for c in stats.columns if c not in group_cols])
    )


def bottomk_per_group(
    df: DataFrame,
    group_cols: list[str],
    hash_col: str,
    tiebreak_cols: list[str],
    k: int,
    counts: DataFrame | None = None,
    c0: float = 8.0,
) -> DataFrame:
    """Rows whose rank under (``hash_col`` ASC, tiebreaks ASC) within
    each ``group_cols`` partition is <= k, with ``rk`` attached.

    ``hash_col`` is ~uniform on [0, 2**60) (the shared md5 family), so
    the k smallest hashes almost surely sit below c0*k/n * 2**60: one
    map-side-combined count per group (or caller-provided ``counts``)
    gives that cutoff. The probe misses with probability
    ~exp(-k(c0-1)^2/2c0); each retry widens c0 4x. Groups with
    n <= c0*k keep every row (cutoff saturates at 1.0).

    The input is typically a corpus-sized exploded frame (all (token,
    doc) pairs), deliberately NOT pinned: caching it would spill the
    whole corpus and hide the scan from filter pushdown.
    """
    if counts is None:
        counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("__n"))
    else:
        counts = counts.select(*group_cols, F.col(counts.columns[-1]).alias("__n"))

    def keep(i: int) -> Column:
        frac = F.least(F.lit(1.0), F.lit(c0 * 4.0**i * k) / F.col("__n"))
        # When the fraction saturates at 1.0 the group must keep every
        # row unconditionally: comparing the LONG hash against the
        # DOUBLE cutoff promotes the hash to double, and values in
        # [2**60 - 512, 2**60) round UP to exactly 2**60, so a strict
        # `<` would reject them even at full width — and since frac
        # can never exceed 1.0, the widen-retry loop would then spin
        # forever (the probe fix surfaced this: before it, such a
        # group was silently dropped instead).
        return (frac >= 1.0) | (F.col(hash_col) < frac * F.lit(float(2**60)))

    order = [hash_col, *tiebreak_cols]
    return _topk_survivors(df, counts, group_cols, keep, order, k)


def topk_by_value_per_group(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    tiebreak_cols: list[str],
    k: int,
    c0: float = 4.0,
) -> DataFrame:
    """Rows whose rank under (``value_col`` DESC, tiebreaks ASC)
    within each ``group_cols`` partition is <= k, with ``rk`` attached.

    An arbitrary VALUE ordering (top-N docs per source by length, top
    spenders per nation) has no analytic cutoff like
    :func:`bottomk_per_group`'s hash: one grouped, map-side combinable
    aggregate takes each group's count and approximate value quantiles
    at the keep-fraction grid 1, 1/2, 1/4, ...; each group keeps
    ``value >=`` the grid cutoff whose fraction is ~c0*k/n (ties
    included, so the true top-k survives whenever the probe passes).
    Each retry widens the fraction 4x; the last grid step keeps the
    whole group, so termination is unconditional.
    """
    # input NOT pinned: corpus-sized, as in bottomk_per_group
    grid_bits = 20  # keep fractions 2^0 .. 2^-20
    qs = [1.0 - 2.0**-i for i in range(grid_bits + 1)]
    stats = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.percentile_approx(value_col, qs, 10_000).alias("__qs"),
    )

    def keep(i: int) -> Column:
        # smallest grid index whose keep fraction >= c0*k/n, 2 steps
        # (x4) lower per widen step; index 0 keeps every row.
        idx = F.greatest(
            F.lit(0),
            F.least(
                F.lit(grid_bits),
                F.floor(F.log2(F.col("__n") / F.lit(float(c0 * k)))).cast("int"),
            )
            - F.lit(2 * i),
        )
        cutoff = F.element_at(F.col("__qs"), idx + 1)
        return (idx <= 0) | (F.col(value_col) >= cutoff)

    order = [F.desc(value_col), *[F.asc(c) for c in tiebreak_cols]]
    return _topk_survivors(df, stats, group_cols, keep, order, k)
