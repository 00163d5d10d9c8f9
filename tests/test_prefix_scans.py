"""Property tests for the distributed prefix-scan primitives against
a naive single-partition reference (small frames only — the point is
value equivalence, not scale)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.functions.ranks import (
    bucketed_prefix_min,
    bucketed_prefix_sums,
)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "d long, x long")


def test_prefix_min_matches_naive_running_min(spark):
    rng = random.Random(7)
    keys = rng.sample(range(-500, 2000), 300)
    rows = [(k, rng.randint(-10**9, 10**9)) for k in keys]
    got = {
        r["d"]: r["cum_min"]
        for r in bucketed_prefix_min(
            _frame(spark, rows), "d", "x", n_buckets=7
        ).collect()
    }
    acc = None
    for k, v in sorted(rows):
        acc = v if acc is None else min(acc, v)
        assert got[k] == acc, (k, got[k], acc)


def test_prefix_min_single_bucket_and_negatives(spark):
    rows = [(1, -5), (2, -7), (3, 100), (4, -7), (5, -100)]
    got = sorted(
        (r["d"], r["cum_min"])
        for r in bucketed_prefix_min(
            _frame(spark, rows), "d", "x", n_buckets=1
        ).collect()
    )
    assert got == [(1, -5), (2, -7), (3, -7), (4, -7), (5, -100)]


def test_prefix_sums_and_min_agree_on_shared_keys(spark):
    rng = random.Random(11)
    rows = [(k, rng.randint(0, 1000)) for k in rng.sample(range(10**6), 200)]
    df = _frame(spark, rows)
    sums = {
        r["d"]: r["cum_x"]
        for r in bucketed_prefix_sums(df, "d", ["x"], n_buckets=5).collect()
    }
    acc = 0
    for k, v in sorted(rows):
        acc += v
        assert sums[k] == acc


def test_global_rank_desc_sum_cols_matches_chained_prefix(spark):
    """r10: global_rank_desc(sum_cols=...) must equal the chained
    global_rank_desc -> bucketed_prefix_sums(ranked, rank_col)
    composition it replaces (orders_abc_classification), and the
    running totals must be the naive cumulative along the rank order."""
    from redis_events_to_clickhouse_tables_spark.functions.ranks import (
        global_rank_desc,
    )

    rng = random.Random(23)
    rows = [
        (i, rng.randint(-50, 50), rng.randint(0, 10**6))
        for i in range(257)
    ]
    df = spark.createDataFrame(rows, "tb long, key long, c long")
    fused, n_fused = global_rank_desc(
        df, "key", "tb", rank_col="r", n_buckets=5, sum_cols=["c"]
    )
    got = {
        r["tb"]: (r["r"], r["cum_c"]) for r in fused.collect()
    }
    assert n_fused == len(rows)
    # naive reference: sort by (key DESC, tb ASC), rank + running sum
    acc = 0
    for rank, (tb, key, c) in enumerate(
        sorted(rows, key=lambda t: (-t[1], t[0])), start=1
    ):
        acc += c
        assert got[tb] == (rank, acc), (tb, got[tb], (rank, acc))
    # chained composition (the form it replaces) agrees bit-for-bit
    ranked, _ = global_rank_desc(df, "key", "tb", rank_col="r", n_buckets=5)
    chained = {
        r["tb"]: (r["r"], r["cum_c"])
        for r in bucketed_prefix_sums(ranked, "r", ["c"], n_buckets=5).collect()
    }
    assert chained == got


def test_prefix_sums_all_null_bucket_adds_zero(spark):
    """An all-NULL bucket adds 0 to later buckets' offsets, the rule
    global_rank_desc already applies to its sum_cols; rows whose running
    frame holds only NULLs stay NULL, exactly as in the plain window."""
    from pyspark.sql import Window

    df = _frame(spark, [(d, None if d < 50 else 1) for d in range(100)])
    got = {
        r["d"]: r["cum_x"]
        for r in bucketed_prefix_sums(df, "d", ["x"], n_buckets=4).collect()
    }
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r["d"]: r["cum_x"]
        for r in df.withColumn("cum_x", F.sum("x").over(w)).collect()
    }
    assert want == {d: None if d < 50 else d - 49 for d in range(100)}
    assert got == want
