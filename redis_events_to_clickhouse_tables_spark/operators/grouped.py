"""Grouped-map Pandas operators (``applyInPandas``) — Layer B.

The one Layer-B surface where per-group imperative logic earns its
keep: each group arrives as a pandas DataFrame (Arrow-batched, one
JVM<->Python crossing per group partition), and the group key is the
shuffle key, so the operator scales exactly like a groupBy.

The example computes per-user inter-event gap statistics. All
arithmetic is over integer microsecond gaps (exact in both engines;
a median of an even count is the mean of two integers — one IEEE op),
so the DuckDB oracle compares values, not just shapes — a grouped
Python operator held to the same exactness bar as the JVM ones.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.pyworker import worker_setup
from ..functions.temporal import epoch_us
from ..registry import query
from ..session import tune
from ..sources.tables import table

_GAP_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("median_gap_us", T.DoubleType()),
        T.StructField("max_gap_us", T.DoubleType()),
    ]
)


def _partition_gap_stats(batches) -> "pd.DataFrame":
    """Per-user gap stats over one co-partitioned Arrow stream.

    The whole partition concatenates into one pandas frame (Arrow
    hands the partition over as ~10k-row batches, and a user's rows
    must not straddle a batch boundary), then one vectorized
    sort + groupby computes every user in the partition at once.
    Sort order (user, ts, event_id) matches the oracle's window
    ordering, so ties resolve identically.
    """
    worker_setup()
    frames = list(batches)  # an empty partition yields zero batches
    pdf = (
        pd.concat(frames, ignore_index=True)
        if frames
        else pd.DataFrame({"user_id": [], "event_id": [], "ts_us": []})
    )
    if pdf.empty:
        yield pd.DataFrame(
            {"user_id": [], "n_events": [], "median_gap_us": [], "max_gap_us": []}
        ).astype(
            {"user_id": "int64", "n_events": "int64",
             "median_gap_us": "float64", "max_gap_us": "float64"}
        )
        return
    pdf = pdf.sort_values(["user_id", "ts_us", "event_id"])
    gaps = pdf.groupby("user_id")["ts_us"].diff()  # NaN at each user's first row
    agg = gaps.groupby(pdf["user_id"]).agg(["median", "max"])
    counts = pdf.groupby("user_id").size()
    yield pd.DataFrame(
        {
            "user_id": agg.index.astype("int64"),
            "n_events": counts.reindex(agg.index).astype("int64"),
            # median of an even count is the mean of two ints: exact
            "median_gap_us": agg["median"],
            "max_gap_us": agg["max"],
        }
    )


@query(
    "grouped_user_gap_stats",
    oracle="""
    WITH g AS (
      SELECT user_id,
             date_diff('microsecond',
                       LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                       ts) AS gap
      FROM events)
    SELECT user_id, COUNT(*) AS n_events,
           CAST(MEDIAN(gap) AS DOUBLE) AS median_gap_us,
           CAST(MAX(gap) AS DOUBLE) AS max_gap_us
    FROM g GROUP BY user_id
    """,
)
def grouped_user_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics via co-partitioned
    ``mapInPandas``: rows shuffle on user_id (repartition), each
    partition arrives as one Arrow stream, and a single vectorized
    pandas groupby computes every user in the partition.

    Chosen over ``groupBy().applyInPandas`` deliberately: grouped-map
    pays ~1.5ms of Arrow/pandas setup PER GROUP, which dominates when
    groups are small (1500 users x 60 rows); per-partition processing
    pays it per partition. Same results — exact-integer gaps keep the
    Python path oracle-checkable either way."""
    tune(spark)
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", epoch_us("ts").alias("ts_us")
    )
    cores = spark.sparkContext.defaultParallelism
    return ev.repartition(cores, "user_id").mapInPandas(
        _partition_gap_stats, schema=_GAP_SCHEMA
    )
