"""Structured Streaming surface.

The reference has NO streaming (SURVEY.md §2.10): its incremental
behaviour is snapshot-diff batch (deltas, crossings deltas, restore),
mapped here to operators/deltas.py + sources.tables snapshot reads.

One streaming query stays: watermarked windowed event counts, written
so the SAME transformation runs in batch (``spark.read``) and streaming
(``spark.readStream``) — the ``stream_window_counts`` registry query
drives it through the memory sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(events: DataFrame, window: str = "5 minutes",
                          watermark: str = "10 minutes") -> DataFrame:
    """Late-data-tolerant windowed counts per event type."""
    # watermarks require TIMESTAMP (tz-aware); parquet event time is NTZ
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if events.isStreaming:
        src = src.withWatermark("ts", watermark)
    # decimal-exact sum → double: value totals are order-insensitive, so
    # stream == batch == SQL oracle bit-for-bit (float sums are not)
    return src.groupBy(F.window("ts", window), "event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"),
    )
