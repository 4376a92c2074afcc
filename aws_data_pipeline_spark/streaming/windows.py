"""Watermarked streaming window aggregations over the events stream
(SURVEY.md §2.5 streaming row; batch twins in plans/streaming_batch.py).

Late-data policy: the watermark bounds state — events later than the
watermark delay are dropped from open windows; state for closed windows is
evicted. At 100 TB/day the watermark is what keeps streaming-agg state
finite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window per-type counts/sums with late-data watermark."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("event_count"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "event_count",
            "value_sum",
        )
    )


def sliding_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide: str = "15 minutes",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Sliding windows: each event lands in duration/slide windows."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration, slide).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("event_count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "event_count",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Session windows (gap-merged) per user — the streaming-native twin of
    operators/windows.py::sessionize."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
