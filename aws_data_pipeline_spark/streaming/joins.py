"""Stream-stream joins (SURVEY.md §2.5 streaming row — the join class the
batch range/as-of joins in ``operators/joins.py`` can't serve once BOTH
sides are unbounded).

Spark requires two things to make an unbounded⋈unbounded join executable,
and this module encodes both: a watermark on each side, and an event-time
range condition tying the two streams together. Together they bound the
join state: a buffered click can be evicted once the watermark passes
``click_ts + window`` (no future purchase can match it), and vice versa —
without them state grows O(stream length) and the query is rejected.

The functions are pure DataFrame->DataFrame: applied to batch frames the
watermark is a no-op and the same code is the batch twin the driver
oracle-checks (``click_purchase_attribution``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    window_seconds: int,
    watermark_delay: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Join rows with matching keys where ``right_ts`` falls in
    ``(left_ts, left_ts + window_seconds]`` — both sides watermarked so
    streaming state stays bounded by delay + window, not stream length.

    Physical shape: equi-join on the key pair with the interval as a
    residual time-range condition — streaming uses it for state eviction,
    batch plans it as a hash join + filter (never a broadcast-nested-loop).
    Column names must be disjoint across the two sides (pre-alias).
    Outer variants (``how='left_outer'`` etc.) emit unmatched rows only
    once the watermark proves no match can arrive — and the query's
    watermark is the MIN over all watermarked inputs, so a QUIET stream
    pins it and defers outer emission indefinitely: both inputs must keep
    producing (or carry heartbeat events) for unmatched rows to flush.
    The flush lands in the first batch that runs AFTER the watermark
    advances (watermarks update at batch end), so under availableNow it
    takes one extra run. Both behaviors are pinned by
    ``test_stream_stream_left_outer_emits_unmatched_after_watermark``.
    """
    lw = left.withWatermark(left_ts, watermark_delay)
    rw = right.withWatermark(right_ts, watermark_delay)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) > F.col(left_ts))
        & (
            F.col(right_ts)
            <= F.col(left_ts) + F.expr(f"INTERVAL {window_seconds} SECONDS")
        )
    )
    return lw.join(rw, cond, how)


def click_purchase_pairs(events: DataFrame, window_seconds: int = 600) -> DataFrame:
    """Attribution pairs: each purchase matched to every click by the same
    user in the preceding ``window_seconds``. One events source, filtered
    into two streams — the canonical stream-stream shape (click stream ⋈
    purchase stream) over the driver's ``events`` table."""
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("purchase_user"),
        F.col("ts").alias("purchase_ts"),
    )
    return interval_join(
        clicks,
        purchases,
        left_key="click_user",
        right_key="purchase_user",
        left_ts="click_ts",
        right_ts="purchase_ts",
        window_seconds=window_seconds,
    ).select("click_id", "purchase_id")


def enrich_stream_with_dim(
    stream: DataFrame,
    spark,
    dim_path: str,
    on: str,
) -> DataFrame:
    """Stream-static join: enrich a streaming fact with a dimension table
    read from storage. Unlike the stream-stream case, the static side needs
    no watermark and holds no state.

    Dim freshness contract: for a path-based parquet dim the file listing
    is resolved when the static DataFrame is created — i.e. per QUERY
    start, not per micro-batch. Under this engine's availableNow model
    (each scheduled run starts a fresh query — the bookmark pattern used
    throughout), every run therefore sees the dim as of that run, which is
    the behavior tests assert. A CONTINUOUSLY-running query keeps the
    startup snapshot; to pick up dim changes mid-query you need a catalog
    table / ACID format on the static side, or a foreachBatch sink that
    re-creates the dim frame per batch.

    At 100 TB keep the dim pruned/columnar (broadcast-sized after pruning)
    or snapshot it to a compact gold table first — the fact stream never
    buffers, only the dim is re-planned. The join is a LEFT join: it keeps
    unmatched facts (dim lag must not drop events).
    """
    dim = spark.read.parquet(dim_path)
    return stream.join(dim, on, "left")
