"""Loaders for the driver-generated star-schema parquet testdata.

Parquet → columnar vectorized scan with predicate pushdown and column
pruning handled by Catalyst; callers should ``select`` only what they need.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
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
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names=None) -> dict:
    return {n: load_table(spark, n, sf_dir) for n in (names or TABLES)}


def normalize_event_ts(spark: SparkSession, ev: DataFrame) -> DataFrame:
    """Normalize ``ts`` to TIMESTAMP (tz-aware, micros) whatever the parquet
    encoding is.  The driver's testdata has shifted encodings across rounds:

    - TIMESTAMP(NANOS): with ``spark.sql.legacy.parquet.nanosAsLong`` the
      column arrives as nanos-since-epoch BIGINT → ``timestamp_micros``.
    - ``timestamp[us]`` isAdjustedToUTC=false: Spark 4.1.2 infers
      TIMESTAMP_NTZ, which ``unix_micros`` / ``withWatermark`` / long casts
      all reject → ``cast("timestamp")``.  The session tz is pinned to UTC,
      so the wall-clock values are preserved exactly and the tz-naive DuckDB
      oracles still agree.
    """
    from pyspark.sql import functions as F

    dtype = dict(ev.dtypes).get("ts")
    if dtype == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def load_events(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """events with ``ts`` as a proper TIMESTAMP regardless of the on-disk
    encoding (see :func:`normalize_event_ts`)."""
    # Runtime-settable so the query works on any caller-provided session,
    # not just ones built by mistocksync_spark.session.get_spark.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # window/session formatting and the DuckDB oracles are tz-naive UTC;
    # pin the session tz so results don't depend on the host's default
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_event_ts(spark, load_table(spark, "events", sf_dir))
