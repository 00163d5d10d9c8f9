"""Cache ownership: a query that persists intermediate frames while it
is built releases them before it returns, so the only cache entry left
behind is the returned frame the caller owns."""

from __future__ import annotations

import random

import pytest

from redis_events_to_clickhouse_tables_spark.functions.ranks import (
    bottomk_per_group,
    bucketed_prefix_min,
    bucketed_prefix_sums,
    global_rank_desc,
    topk_by_value_per_group,
)
from redis_events_to_clickhouse_tables_spark.registry import load_all

from .conftest import SF_DIR


@pytest.mark.parametrize(
    "name",
    [
        "graph_copurchase_jaccard_linkpred",
        "graph_copurchase_assortativity",
        "stats_cochran_q_event_types",
    ],
)
def test_query_leaves_no_cache_behind(spark, name):
    spark.catalog.clearCache()
    df = load_all()[name].build(spark, SF_DIR)
    df.count()
    df.unpersist()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _cached_rdds(spark) -> set[int]:
    """Ids of the RDDs holding cached blocks. Besides the CacheManager's
    entries this counts RDD-level persists and local checkpoints, which
    clearCache() leaves to the context cleaner; compare sets taken
    around a call, not totals."""
    return {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    }


def _scan_input(spark):
    rows = [(i, (i * 7919) % 1000, i % 13) for i in range(400)]
    return spark.createDataFrame(rows, "tb long, key long, x long")


def _topk_input(spark):
    rng = random.Random(5)
    rows = [(g, i, rng.randrange(2**60)) for g in range(4) for i in range(200)]
    return spark.createDataFrame(rows, "g long, id long, h long")


@pytest.mark.parametrize(
    "run",
    [
        pytest.param(
            lambda s: global_rank_desc(_scan_input(s), "key", "tb", n_buckets=4)[0],
            id="global_rank_desc",
        ),
        pytest.param(
            lambda s: bucketed_prefix_sums(_scan_input(s), "tb", ["x"], n_buckets=4),
            id="bucketed_prefix_sums",
        ),
        pytest.param(
            lambda s: bucketed_prefix_min(_scan_input(s), "tb", "x", n_buckets=4),
            id="bucketed_prefix_min",
        ),
        pytest.param(
            lambda s: bottomk_per_group(_topk_input(s), ["g"], "h", ["id"], 10),
            id="bottomk_first_try",
        ),
        pytest.param(
            lambda s: bottomk_per_group(
                _topk_input(s), ["g"], "h", ["id"], 10, c0=0.25
            ),
            id="bottomk_retry",
        ),
        pytest.param(
            lambda s: topk_by_value_per_group(_topk_input(s), ["g"], "h", ["id"], 10),
            id="topk_by_value_first_try",
        ),
        pytest.param(
            lambda s: topk_by_value_per_group(
                _topk_input(s), ["g"], "h", ["id"], 10, c0=0.25
            ),
            id="topk_by_value_retry",
        ),
    ],
)
def test_rank_primitive_leaves_one_cached_block(spark, run):
    """Each exact-rank primitive on an uncached input leaves exactly one
    cached block: the pinned input of a bucketed scan, or the final
    survivors of a pruned top-k. c0=0.25 keeps ~k/4 rows per group on
    the first try, so the retry cases unpersist at least one short
    survivor set before the last."""
    spark.catalog.clearCache()
    before = _cached_rdds(spark)
    run(spark).count()
    assert len(_cached_rdds(spark) - before) == 1
    spark.catalog.clearCache()


def test_global_rank_desc_adds_no_block_to_a_persisted_input(spark):
    spark.catalog.clearCache()
    before = _cached_rdds(spark)
    df = _scan_input(spark).persist()
    df.count()
    pinned = _cached_rdds(spark) - before
    assert len(pinned) == 1
    global_rank_desc(df, "key", "tb", n_buckets=4)[0].count()
    assert _cached_rdds(spark) - before == pinned
    spark.catalog.clearCache()
