"""Incremental bronze ingestion — replaces Glue job bookmarks (reference S9:
``bronze_to_silver.py:113,152``, ``main.tf:174``).

Structured Streaming's file source + checkpoint IS the bookmark: each
``trigger(availableNow=True)`` run processes exactly the files that arrived
since the last committed batch, then exits — same contract as
bookmark-enabled Glue runs, but transactional (checkpoint commits atomically
with the sink in foreachBatch).

Cross-run duplicates (SURVEY.md §4.2-6) are handled at two levels:
- within each micro-batch: the deterministic key dedup inside
  ``transform_bronze`` (same operator as batch mode);
- across batches/runs: the foreachBatch sink anti-joins the micro-batch
  against transaction_ids already committed to silver, restricted to the
  (year, month, day) partitions the batch touches — partition pruning keeps
  the probe O(batch), not O(history). Coverage is complete for true
  re-delivery (identical content lands in its original partition); a
  record re-arriving with an amended event date is an UPDATE, out of scope
  for append-only ingest dedup (see
  ``pipeline.medallion.dedup_against_silver``).
  (``dropDuplicatesWithinWatermark`` is the lighter in-stream alternative
  when re-delivery is bounded in event time.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_data_pipeline_spark.catalog import TXN_SCHEMA
from aws_data_pipeline_spark.pipeline.medallion import (
    append_silver,
    transform_bronze,
)
from aws_data_pipeline_spark.sources.parquet import (
    _hadoop_fs,
    _numeric_markers,
    zone_exists,
)


def read_bronze_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(TXN_SCHEMA)
        .option("multiLine", "false")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "64")  # bound micro-batch size at scale
        .json(path)
    )


def incremental_bronze_to_silver(
    spark: SparkSession,
    bronze_path: str,
    silver_path: str,
    checkpoint_path: str,
    clock: Column | None = None,
    dedup_mode: str = "anti_join",
    watermark_delay: str = "7 days",
) -> None:
    """One availableNow run: new files -> transform -> idempotent append.

    The pure batch transform (pipeline/medallion.py::transform_bronze) is
    reused unchanged inside foreachBatch — operators being pure
    DataFrame->DataFrame functions is what makes that possible.

    ``dedup_mode`` picks the cross-run re-delivery guard:

    - ``"anti_join"`` (default): the sink anti-joins each micro-batch
      against ids already in the touched silver partitions (partition-
      pruned — see ``dedup_against_silver``). Unbounded re-delivery
      horizon; per-batch cost O(batch + touched partitions).
    - ``"watermark"``: ``dropDuplicatesWithinWatermark`` on the STREAM,
      keyed by transaction_id with ``watermark_delay`` of event-time
      slack. State (one key per id inside the watermark window) lives in
      the checkpointed state store, so the guard survives across
      availableNow runs with ZERO reads of silver on the happy path —
      the cheaper shape when re-delivery is bounded in event time. The
      trade is the bound itself: a record re-delivered (or genuinely
      arriving) with an event time older than ``max_event_time - delay``
      is dropped as late data, so the delay must cover both the
      re-delivery horizon AND honest event-time lag.

      CRASH WINDOW: the state-store delta commits with the CHECKPOINT,
      not with the parquet append, so a crash after the append but
      before the checkpoint commit replays the batch with pre-batch
      state — the in-stream dedup alone would re-append it. The sink
      therefore keeps a per-batch INTENT marker (an empty file in a
      sibling directory of the silver zone, written BEFORE the append):
      a batch that finds its own marker already present is a suspected
      replay and runs the partition-pruned anti-join for THAT batch
      only. Normal batches pay one empty-file create and zero silver
      reads; markers for batches older than the current one are
      checkpoint-committed by definition and are deleted as they are
      passed.

    SCOPE (both modes): the guard is for RE-DELIVERY — the same record,
    same content, delivered again. For true re-delivery the two modes
    agree exactly. Same-id rows with DIFFERENT content are updates, out of
    scope for append-only ingest: anti_join mode resolves an in-batch
    content conflict with ``dedup_deterministic``'s ordered tie-break,
    while watermark mode keeps the first ARRIVAL (the state store has no
    ordering hook) — content-amended records need a compaction/merge pass
    or an ACID table format, not the ingest guard (see
    ``pipeline.medallion.dedup_against_silver``).
    """
    stream = read_bronze_stream(spark, bronze_path)
    if dedup_mode not in ("anti_join", "watermark"):
        raise ValueError(f"unknown dedup_mode: {dedup_mode!r}")
    if dedup_mode == "watermark":
        stream = (
            stream.withColumn(
                "__event_ts",
                # try_to_timestamp, NOT to_timestamp: under Spark 4 ANSI
                # (the session default) to_timestamp THROWS on a malformed
                # date, failing the whole run; try_ yields null so the
                # filter below drops the row — the same fate the
                # validation gate gives it downstream
                F.try_to_timestamp(
                    F.col("transaction_date"), F.lit("yyyy-MM-dd HH:mm:ss")
                ),
            )
            .filter(F.col("__event_ts").isNotNull())
            .withWatermark("__event_ts", watermark_delay)
            .dropDuplicatesWithinWatermark(["transaction_id"])
            .drop("__event_ts")
        )

    def sink(batch: DataFrame, batch_id: int) -> None:
        ingest_sink(batch, batch_id, silver_path, clock, dedup_mode)

    (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _intents_dir(silver_path: str) -> str:
    # a SIBLING of the zone, not inside it: a marker inside silver_path
    # would make zone_exists() true before any data lands, sending the
    # first batch's guard into a parquet read of an empty zone
    return silver_path.rstrip("/") + ".__ingest_intents"


def _mark_intent(spark: SparkSession, silver_path: str, batch_id: int) -> bool:
    """Record that batch ``batch_id`` is ABOUT to append; returns True if a
    marker was already present (suspected replay — the previous attempt may
    have appended before crashing short of the checkpoint commit). Markers
    for older batches are checkpoint-committed by definition (Spark never
    replays a committed batch id) and are swept here."""
    d = _intents_dir(silver_path)
    _, mine, fs = _hadoop_fs(spark, f"{d}/{batch_id}")
    replay = fs.exists(mine)
    for n, marker in _numeric_markers(spark, d).items():
        if n < batch_id:
            fs.delete(marker, False)
    if not replay:
        fs.create(mine, True).close()
    return replay


def ingest_sink(
    batch: DataFrame,
    batch_id: int,
    silver_path: str,
    clock: Column | None,
    dedup_mode: str,
) -> None:
    """The foreachBatch body, module-level so tests can drive the replay
    protocol directly. See ``incremental_bronze_to_silver`` for the two
    dedup modes and the intent-marker crash contract."""
    sess = batch.sparkSession
    replay_suspect = _mark_intent(sess, silver_path, batch_id)
    # only a genuinely missing zone (first batch) skips a guard the mode
    # asks for
    append_silver(
        transform_bronze(batch, clock=clock),
        silver_path,
        guard=(dedup_mode == "anti_join" or replay_suspect)
        and zone_exists(sess, silver_path),
    )
