"""Structured Streaming over the events table (extension surface).

The reference is strictly batch script generation (SURVEY.md §2.3 —
streaming: absent); the ``events`` fixture is the driver's designated
stream stand-in. This module runs the *same* rollup logic as
``operators/events.hourly_rollup`` through ``readStream``/``writeStream``
with a watermark, so batch and streaming answers are comparable.

On a cluster the source swaps to Kafka/files-on-arrival and the sink to
Delta/foreachBatch; watermark + append mode bound state for late data —
state per (window, event_type) only lives until watermark passes the
window end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the fixture parquet (maxFilesPerTrigger=1
    keeps micro-batches deterministic in tests).

    The stream schema is probed from the files with a batch read rather
    than hardcoded: the fixture writer's timestamp physical type has
    drifted across regenerations (TIMESTAMP(NANOS) → timestamp[us],
    UTC-flag present → absent), and a FileStreamSource schema that
    disagrees with the footer silently misdecodes values instead of
    failing. Whatever arrives, ``ts`` is normalized to a session-tz
    timestamp so downstream watermarks/windows are type-stable."""
    # the nanosAsLong escape hatch must be set BEFORE the probe read: on
    # a true TIMESTAMP(NANOS) fixture the probe itself throws without it
    # (previously this only worked if catalog.fixture_catalog's events
    # loader had already set the conf in the same session — a hidden
    # ordering dependency)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probed = spark.read.parquet(f"{sf_dir}/events.parquet")
    # legacy nanos fixtures surface as bigint nanos under the nanosAsLong
    # escape hatch; modern micros fixtures surface as timestamp directly
    if dict(probed.dtypes).get("ts") == "bigint":
        rebuild = F.expr("timestamp_micros(ts div 1000)")
    else:
        rebuild = F.col("ts").cast("timestamp")
    # glob form: FileStreamSource requires a directory-or-glob path; the
    # bare file path is rejected ("basePath must be a directory")
    raw = (
        spark.readStream.schema(probed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{sf_dir}/events.*")
    )
    return raw.withColumn("ts", rebuild)


def windowed_rollup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour windowed counts/sums with late-data watermark —
    the streaming twin of operators/events.hourly_rollup."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def hopping_rate(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Hopping-window (60 m width / 30 m slide) event counts — the
    streaming twin of the batch ``x76_hopping_window`` query (minus the
    distinct-user count: distinct aggregations are unsupported in
    streaming; the scale path for that is an HLL sketch merge)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "60 minutes", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_rate(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Session-window per-user event counts — the streaming twin of the
    batch ``x89_session_window_native`` query, via the SAME
    ``F.session_window`` API. State is one open session per active user,
    closed (and emitted) once the watermark passes the session gap — the
    built-in replacement for the hand-rolled applyInPandasWithState
    sessionizer in ``streaming/sessions.py`` when per-session counts are
    all that's needed."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def run_stream_to_memory(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "events_rollup",
    transform=windowed_rollup,
) -> DataFrame:
    """Drive the stream to completion synchronously (memory sink +
    processAllAvailable) and return the result table — lets the batch
    oracle check the streaming path. Complete output mode because the
    fixture is a single finite file (watermark never advances past it)."""
    stream = read_events_stream(spark, sf_dir)
    q = (
        transform(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def stream_stream_attribution(
    spark: SparkSession, sf_dir: str, query_name: str = "click_purchase_join"
) -> DataFrame:
    """STREAM-STREAM interval join: clicks and purchases are two
    independent streams; each click joins every purchase by the same
    user within two hours after it.  Both sides carry a watermark and
    the join condition bounds the time skew, so each side's buffered
    state is evicted once the other side's watermark passes the
    interval — the state-bounding contract that makes stream-stream
    joins viable at 100 TB/day (without the time bound the buffers grow
    forever).  Inner join + append mode is the supported combination.
    """
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("value"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 HOURS")),
        "inner",
    ).select("click_id", "purchase_id", "user_id", "value")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)
