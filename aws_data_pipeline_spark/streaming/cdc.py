"""CDC apply: a change-event stream (upserts + deletes) continuously
merged into a partitioned parquet zone — the streaming face of the
copy-on-write amendment verbs (``merge_into_zone`` / ``delete_from_zone``),
i.e. the Delta/Iceberg ``MERGE`` streaming sink re-expressed over plain
parquet with the repo's own idioms.

Event contract: each change row carries the zone's columns plus
``op_col`` (``"upsert"`` or ``"delete"``) and ``seq_col`` — a
monotonically increasing per-key sequence (CDC log offset, LSN,
source-commit timestamp). The sequence is what makes the sink safe under
the three disorders streaming actually delivers:

- WITHIN a batch: multiple events for one key collapse to the
  highest-sequence event before anything touches the zone (last writer
  wins; one zone rewrite per batch, not per event).
- ACROSS batches, late/stale events: an event whose sequence is at or
  below the zone row's stored sequence is dropped, not applied — a
  checkpoint-loss replay of last week's batch cannot overwrite this
  week's values. The zone stores ``seq_col`` per row to enforce this.
- Deletes vs late upserts: a delete leaves a per-key TOMBSTONE
  (``zone/_cdc_tombstones`` — ``_``-invisible to scans) recording the
  delete's sequence; a later-replayed upsert with a lower sequence hits
  the tombstone and is dropped, instead of resurrecting the deleted row
  (THE classic CDC-apply bug). Tombstones are retention-bounded:
  :func:`expire_cdc_tombstones` drops those older than the replay
  horizon.

Idempotency therefore needs no intent markers: re-applying any batch —
even interleaved with newer batches — is a no-op by the sequence guard,
which is strictly stronger than the ingest sink's batch-id skip.

Scale shape: every zone touch is O(touched partitions) through the
amendment verbs' partition-pruned rewrites; the sequence guard reads
only the touched partitions' (key, seq) projection; tombstones are an
append plus one pruned anti-join per batch. The same requirement as
``merge_into_zone`` applies: keys must determine a stable partition
(amendments that MOVE a row across partitions must be emitted as a
delete in the old partition plus an upsert in the new one — which this
sink applies correctly, deletes first).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_data_pipeline_spark.sources.parquet import (
    commit_index_version,
    delete_from_zone,
    gc_index_versions,
    index_active_version,
    index_next_root,
    index_root,
    merge_into_zone,
    read_partition_slice,
    zone_exists,
)

_TOMB = "_cdc_tombstones"

_OPS = ("upsert", "delete")


def _tomb_root(spark: SparkSession, zone_path: str) -> str:
    """Active root of the zone's tombstone store — the maintained
    indexes' versioned layout (sources.parquet's versioned index store):
    the first delete commits an empty first version before it appends,
    every append/read resolves through the committed marker, and
    :func:`expire_cdc_tombstones` writes the kept set as the next
    version, so expiry can never truncate the live set."""
    return index_root(spark, f"{zone_path}/{_TOMB}")


def _collapse(
    batch: DataFrame,
    key_cols: Sequence[str],
    partition_cols: Sequence[str],
    op_col: str,
    seq_col: str,
) -> DataFrame:
    """Highest-sequence event per (key, partition) — the within-batch
    last-writer-wins step. Ties on the sequence are a producer-contract
    violation (sequences are per-key unique); they resolve
    deterministically delete-first so a violating producer still gets a
    stable zone, not a partitioning-dependent one."""
    w = Window.partitionBy(*key_cols, *partition_cols).orderBy(
        F.col(seq_col).desc(),
        # delete sorts before upsert at equal seq: 'delete' < 'upsert'
        F.col(op_col).asc(),
    )
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def guard_fresh(
    ev: DataFrame,
    known: DataFrame,
    on: Sequence[str],
    seq_col: str,
) -> DataFrame:
    """The sequence guard as a pure plan: keep only events strictly newer
    than the stored per-key sequence (``known``: ``on`` columns +
    ``__known_seq``, possibly several rows per key — rows and tombstones
    union here; the max wins). Shared by :func:`apply_cdc_batch` (disk
    state) and the registry's value twin (in-plan state), so the driver
    oracle exercises the same guard expression the sink applies."""
    known = known.groupBy(*on).agg(F.max("__known_seq").alias("__known_seq"))
    return (
        ev.join(known, list(on), "left")
        .filter(
            F.col("__known_seq").isNull()
            | (F.col(seq_col) > F.col("__known_seq"))
        )
        .drop("__known_seq")
    )


def apply_cdc_batch(
    batch: DataFrame,
    zone_path: str,
    key_cols: Sequence[str],
    partition_cols: Sequence[str],
    op_col: str = "_op",
    seq_col: str = "_seq",
) -> dict[str, int]:
    """Apply one change batch to the zone (the foreachBatch body, also
    directly callable for batch backfills). Returns counts of applied
    upserts/deletes and dropped stale events. The zone's rows carry
    ``seq_col``; ``op_col`` never lands in the zone."""
    spark = batch.sparkSession
    # null ops must fail here too: a null passes a bare ~isin() (null
    # predicate -> filtered as not-true on BOTH the guard and the apply
    # filters), so the event would silently match neither verb and vanish
    bad = (
        batch.filter(
            F.col(op_col).isNull() | ~F.col(op_col).isin(*_OPS)
        )
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"{op_col} must be one of {_OPS}; saw {bad[0][op_col]!r}"
        )
    ev = _collapse(batch, key_cols, partition_cols, op_col, seq_col)
    on = [*key_cols, *partition_cols]

    touched = [tuple(r) for r in ev.select(*partition_cols).distinct().collect()]
    if not touched:
        return {"upserts": 0, "deletes": 0, "stale_dropped": 0}

    # the sequence guard's view of "what the zone already knows": live
    # rows' sequences in the touched partitions, plus delete tombstones
    guards = []
    if zone_exists(spark, zone_path):
        guards.append(
            read_partition_slice(
                spark, zone_path, touched, partition_cols
            ).select(*on, F.col(seq_col).alias("__known_seq"))
        )
    tomb = _tomb_root(spark, zone_path)
    if zone_exists(spark, tomb):
        guards.append(
            read_partition_slice(
                spark, tomb, touched, partition_cols
            ).select(*on, F.col(seq_col).alias("__known_seq"))
        )
    fresh = ev
    n_stale = 0
    if guards:
        known = guards[0]
        for g in guards[1:]:
            known = known.unionByName(g)
        fresh = guard_fresh(ev, known, on, seq_col)
        fresh = fresh.localCheckpoint(eager=True)  # read before rewrite
        n_stale = ev.count() - fresh.count()

    deletes = fresh.filter(F.col(op_col) == "delete")
    upserts = fresh.filter(F.col(op_col) == "upsert").drop(op_col)
    n_del = deletes.count()
    n_up = upserts.count()
    if n_del:
        # tombstone SECOND: if the run dies between the zone delete and
        # the tombstone append, the replayed delete finds the row gone
        # and no guard entry — it re-runs both steps to the same end
        # state (delete_from_zone no-ops, the tombstone lands). The
        # other order would be safe too, but then a crash-replayed
        # delete is guard-DROPPED with its zone row still live — the
        # one interleaving that loses a delete.
        if zone_exists(spark, zone_path):
            delete_from_zone(
                spark, zone_path, deletes.select(*on), key_cols,
                partition_cols,
            )
        store = f"{zone_path}/{_TOMB}"
        if index_active_version(spark, store) is None:
            # the store's first version is committed empty, so appends,
            # reads and expiry all go through one versioned layout
            tomb, first = index_next_root(spark, store)
            commit_index_version(spark, store, first)
        deletes.select(*on, seq_col).write.mode("append").partitionBy(
            *partition_cols
        ).parquet(tomb)
    if n_up:
        if zone_exists(spark, zone_path):
            merge_into_zone(
                spark, zone_path, upserts, key_cols, partition_cols
            )
        else:
            # first-ever batch: nothing to merge against — plain
            # partitioned append bootstraps the zone
            upserts.write.mode("append").partitionBy(*partition_cols).parquet(
                zone_path
            )
    return {"upserts": n_up, "deletes": n_del, "stale_dropped": n_stale}


def apply_change_stream(
    spark: SparkSession,
    changes_path: str,
    zone_path: str,
    key_cols: Sequence[str],
    partition_cols: Sequence[str],
    checkpoint_path: str,
    op_col: str = "_op",
    seq_col: str = "_seq",
) -> None:
    """One availableNow run: new change files under ``changes_path`` →
    collapsed, sequence-guarded application to ``zone_path``. Re-running
    after a checkpoint wipe re-delivers everything and changes nothing
    (the guard): exactly-once EFFECTS on at-least-once delivery."""
    schema = spark.read.parquet(changes_path).schema
    stream = spark.readStream.schema(schema).parquet(changes_path)

    def sink(batch: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(
            batch, zone_path, key_cols, partition_cols, op_col, seq_col
        )

    (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def expire_cdc_tombstones(
    spark: SparkSession,
    zone_path: str,
    min_seq_keep: int,
    partition_cols: Sequence[str],
    seq_col: str = "_seq",
) -> int:
    """Drop tombstones with sequence < ``min_seq_keep`` (the replay
    horizon: the lowest sequence any re-deliverable source batch can
    still carry — typically the checkpoint's committed low-watermark).
    Returns the number kept. A tombstone dropped too early re-opens the
    resurrection window for replays older than the horizon; one kept too
    long costs a row in a pruned anti-join — expire conservatively.

    Tombstones are a correctness guard, not derived data, so expiry is a
    VERSIONED SWAP, never a truncate-then-overwrite: the kept set lands
    in the store's next version directory (``index_next_root``) and is
    committed by the atomic single-marker-file create
    (``commit_index_version``). A crash anywhere before the commit
    leaves the full previous set being served — the failure mode where
    an in-place overwrite would silently lose EVERY tombstone (not just
    expired ones) and re-open the delete-resurrection window. Superseded
    generations are cleaned AFTER the commit; a crash between commit and
    cleanup leaves inert extra files only."""
    store = f"{zone_path}/{_TOMB}"
    active = _tomb_root(spark, zone_path)
    if not zone_exists(spark, active):
        return 0
    t = spark.read.parquet(active)
    kept = t.filter(F.col(seq_col) >= min_seq_keep).localCheckpoint(eager=True)
    n = kept.count()
    candidate, version = index_next_root(spark, store)
    # the candidate keeps the partition layout so the per-batch guard
    # read stays partition-pruned; invisible to readers until the commit
    kept.write.mode("overwrite").partitionBy(*partition_cols).parquet(candidate)
    commit_index_version(spark, store, version)
    gc_index_versions(spark, store)  # post-commit: superseded versions
    return n
