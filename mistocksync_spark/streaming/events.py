"""Structured Streaming over the events table (north-star extension — the
reference has no streaming surface, SURVEY.md §2.8).

The batch ``events_hourly`` aggregation re-expressed as a streaming plan:
file source → watermark → tumbling window → sink.  With
``Trigger.AvailableNow`` the same plan doubles as an incremental batch job,
which is how it is tested (results must equal the batch query).

Scale notes: state is keyed by (window, event_type) — small, bounded by the
watermark horizon; at 100 TB/day the source would be Kafka with the same
plan, and the sink an idempotent partitioned parquet/Delta append keyed by
window start.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mistocksync_spark.functions.numeric import dec_sum


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based streaming source over the events parquet, with ``ts``
    normalized to TIMESTAMP exactly like the batch loader (shared
    ``normalize_event_ts`` — nanos-BIGINT and TIMESTAMP_NTZ encodings)."""
    from mistocksync_spark.sources.testdata import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{sf_dir.rstrip('/')}/events.parq*")  # glob: FileStreamSource needs a dir or glob, not a bare file
    )
    ev = stream.select(*[c for c in ("event_id", "ts", "user_id", "event_type", "value") if c in stream.columns])
    return normalize_event_ts(spark, ev)


def hourly_aggregate(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour window counts/sums per event_type with late-data
    tolerance ``watermark``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), dec_sum("value", 4).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def sliding_aggregate(
    events: DataFrame,
    window: str = "30 minutes",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window counts/sums per event_type: each event lands in
    window/slide overlapping windows (2 here).  Same plan batch or stream
    (``withWatermark`` is a no-op in batch); streaming state is bounded by
    the watermark horizon × overlap factor."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), dec_sum("value", 4).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def throttle_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """At-most-one event per (user_id, event_type, minute) — the standard
    streaming duplicate/burst suppression, via
    ``dropDuplicatesWithinWatermark``: state holds one key per (user, type,
    minute) inside the watermark horizon and is dropped as the watermark
    advances (bounded state, unlike plain ``dropDuplicates``).

    Which event of a duplicate group survives depends on arrival order, so
    batch/stream parity is on the KEY SET (asserted in tests), not rows.
    """
    keyed = events.withColumn("minute", F.date_trunc("minute", F.col("ts")))
    return keyed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "minute"]
    )


def purchase_view_join_stream(events: DataFrame) -> DataFrame:
    """Stream-stream event-time interval join: each purchase joins the
    same user's views from the preceding hour — streaming attribution,
    the one join shape batch plans can't emulate incrementally.

    Both sides carry a watermark so the join state is BOUNDED: a view
    older than (purchase watermark − 1 h) can never match again and its
    state row is evicted; without the time-range condition Spark would
    have to keep every view forever.  Inner join + append mode emits
    each matched pair exactly once.  At 100 TB the state store is
    per-user-partitioned RocksDB; the range condition keeps it O(events
    per user per watermark-horizon).

    The 24 h watermark (vs the 2 h the aggregation streams use) is
    deliberate: with a multi-file source each file is a micro-batch, and
    a matched pair whose view arrives in a later, older file than the
    watermark allows is silently DROPPED by a stream-stream join — a
    hash-fail with no error — whereas an aggregation merely re-emits a
    key.  24 h tolerates a day of cross-file event-time disorder while
    still bounding state.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", "24 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "24 hours")
    )
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("view_ts") <= F.col("purchase_ts")),
    ).select("view_id", "purchase_id")
