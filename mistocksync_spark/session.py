"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same conf set is what we would ship
to a 1000-executor cluster (AQE on, adaptive shuffle-partition coalescing,
broadcast threshold sized for dimension tables, Arrow enabled for the few
pandas-UDF operators).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """~40% of system RAM, floor 4g — sized to the machine, not hardcoded
    to the 128 GiB bench box."""
    try:
        total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError, AttributeError):
        return "4g"
    return f"{max(4, int(total * 0.4 / 2**30))}g"


def get_spark(app_name: str = "mistocksync-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing of shuffle partitions, skew-join splitting,
        # and dynamic broadcast-join conversion — the scale levers.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 32)))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for pandas_udf paths (fuzzy similarity scorer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp rendering for oracle parity.
        .config("spark.sql.session.timeZone", "UTC")
        # The events table stores TIMESTAMP(NANOS) which Spark's vectorized
        # parquet reader rejects; read as long and convert explicitly
        # (sources.testdata.load_events).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-mode driver == executor: the heap holds every cached feed,
        # broadcast, and 32 concurrent task sorts.  8g on a 128 GiB box GC-
        # thrashed (identical warm queries varied 17s..126s); size the heap
        # to ~40% of the machine's RAM (floor 4g) so small CI hosts are not
        # handed a 48g cap that invites the OOM-killer.  On a real cluster
        # this maps to executor memory.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        # bucketed-table catalog entries (sinks/layout.bucketed_table_write)
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
