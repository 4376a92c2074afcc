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

_WATERMARK = "30 minutes"  # late-data delay on ``ts`` for every window below


def tumbling_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling-window per-type counts/sums with late-data watermark."""
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
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


def sliding_counts(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 15 minutes: each event lands in 4."""
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("event_count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "event_count",
        )
    )


def session_counts(events: DataFrame) -> DataFrame:
    """Session windows (30-minute gap) per user — the streaming-native twin
    of operators/windows.py::sessionize."""
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
