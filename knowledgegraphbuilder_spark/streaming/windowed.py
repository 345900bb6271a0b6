"""Structured-Streaming windowed aggregation with watermarked late-data
handling — the streaming counterpart of the batch event analytics.

Pattern: ``readStream -> withWatermark(event_time, delay) -> groupBy(window)
-> agg -> writeStream(append)``. The watermark bounds state: windows older
than (max event time - delay) are finalized and emitted; later-arriving rows
for them are dropped — the standard exactly-once windowed-count topology that
scales to unbounded streams because state is O(open windows), not O(events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """(window_start, window_end, event_type, n_events, total_value)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_windowed_counts_available_now(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str,
    window: str = "1 hour", watermark: str = "30 minutes",
) -> None:
    from knowledgegraphbuilder_spark.streaming.ingest import drain, file_stream

    events = file_stream(spark, input_dir, EVENT_SCHEMA)
    counts = windowed_event_counts(events, window, watermark)
    drain(counts.writeStream.format("parquet").option("path", output_dir)
          .outputMode("append"), checkpoint_dir)
