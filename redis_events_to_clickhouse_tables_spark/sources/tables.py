"""Parquet table access for the driver's synthetic star schema.

Plain ``spark.read.parquet`` — scans stay declarative so Catalyst
pushes filters and prunes columns into the parquet reader
(verify with ``df.explain('formatted')`` → ``PushedFilters`` /
``ReadSchema``). Do not ``.cache()`` here: at 100 TB the tables do
not fit in memory and caching would defeat pushdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # TIMESTAMP(NANOS) read as int64 via nanosAsLong (session.py);
            # floor-divide to microseconds — the same truncation DuckDB
            # applies when reading nanos into its us-precision TIMESTAMP.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # Micros parquet with isAdjustedToUTC=false arrives as
            # TIMESTAMP_NTZ, which the strict temporal builtins
            # (unix_micros, withWatermark) reject. Sessions run in UTC
            # (session.py), so the cast to the LTZ type is
            # value-identical to DuckDB's naive read — one normalized
            # timestamp type for the whole engine regardless of how
            # the file was written.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def fanout(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's core count.

    Use ahead of compute-dominated maps (md5 shingling, JSON decode,
    per-token hashing) whose downstream CPU cost per byte dwarfs one
    shuffle of the input — true at any scale, so the trade survives a
    100x scale-up. Needed because the test parquet files are single
    row-group, so Spark plans the scan as ONE task regardless of
    ``maxPartitionBytes``; on a real cluster the scan is already wide
    and this becomes a cheap rebalance against skewed file sizes.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
