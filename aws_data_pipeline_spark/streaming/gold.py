"""Incremental silver -> gold: recompute ONLY the partitions a micro-batch
touches (SURVEY.md §4.2-5 — the reference rebuilds every gold table from full
silver history each run, O(history) per run; ``silver_to_gold.py:126-149``).

Mechanism: stream the silver zone as a file source; for each micro-batch of
newly-committed silver rows, find the affected (year, month) keys, re-read
just those partitions from silver (partition pruning keeps the scan
proportional to the batch, not to history), re-aggregate, and overwrite just
those gold partitions via dynamic partitionOverwriteMode. The checkpoint
makes each silver file count exactly once — this is the Glue-bookmark
contract applied to the gold layer. The rebuild is the batch medallion's
own code: silver streams and slices are read with the pinned
``pipeline.medallion.silver_schema`` (no footer-inference job), and the
daily/monthly tables are aggregated and written by
``pipeline.medallion.write_gold_grains``, the writer ``silver_to_gold``
uses.

The customer-insights table needs a different treatment
(``incremental_customer_insights``): its grain is LIFETIME per customer, so
date-partition pruning can't bound a rebuild — instead the gold table is
partitioned by a stable hash bucket of customer_id and holds MERGEABLE
aggregate state (counts/sums/min/max merge trivially; distinct active days
as a Datasketches HLL binary, merged with ``hll_union``). Each run
aggregates the batch, reads only the touched buckets, merges, and
dynamic-overwrites those buckets — never the full table, never full silver.

At 100 TB/day: work per run is O(new data + size of touched partitions),
and the touched-partition re-read is partition-pruned I/O only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from aws_data_pipeline_spark.pipeline.medallion import (
    cluster_for_gold,
    silver_schema,
    write_gold_grains,
)
from aws_data_pipeline_spark.sources.parquet import read_zone, write_zone, zone_exists


def incremental_silver_to_gold(
    spark: SparkSession,
    silver_path: str,
    gold_path: str,
    checkpoint_path: str,
) -> None:
    """One availableNow run: new silver files -> targeted gold partition
    rebuild for the daily_aggregations table (grain: year, month, day,
    customer_id; partitioned by year, month) AND the monthly_aggregations
    table (grain: year, month, customer_id; partitioned by year — a
    touched month rebuilds its whole year partition, still pruned to the
    touched years, never full history)."""
    # NOTE: no recursiveFileLookup — it would disable hive-partition
    # discovery, nulling the year/month/day partition columns
    schema = silver_schema(spark)
    stream = spark.readStream.schema(schema).parquet(silver_path)

    def rebuild(batch: DataFrame, batch_id: int) -> None:
        touched = [
            (r["year"], r["month"])
            for r in batch.select("year", "month").distinct().collect()
        ]
        if not touched:
            return
        src = batch.sparkSession
        # ONE partition-pruned silver read serves both tables: monthly's
        # rebuild unit is the YEAR (it is partitioned by year), and the
        # touched-year slice is a superset of the touched (year, month)
        # slice daily needs — so read the years once, cache, and derive
        # daily by filtering the cached slice instead of a second scan
        # (halves the per-batch silver I/O at 100 TB/day). The slice is
        # clustered by customer like the batch rebuild's: both keys hold
        # customer_id, so neither aggregate shuffles again.
        years = sorted({y for y, _ in touched})
        silver_y = cluster_for_gold(
            read_zone(src, silver_path, schema=schema).filter(
                F.col("year").isin(years)
            )
        )
        try:
            cond = F.lit(False)
            for y, m in touched:
                cond = cond | ((F.col("year") == y) & (F.col("month") == m))
            # dynamic overwrite replaces only the touched months (daily)
            # and the touched years (monthly); months of a touched year
            # outside this batch are recomputed from the same slice, so
            # the year-dir swap is self-consistent
            write_gold_grains(silver_y, gold_path, daily=silver_y.filter(cond))
        finally:
            silver_y.unpersist()

    (
        stream.writeStream.foreachBatch(rebuild)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


N_BUCKETS = 64


def _bucket(col):
    return F.pmod(F.xxhash64(F.col(col).cast("string")), F.lit(N_BUCKETS))


def _batch_state(batch: DataFrame) -> DataFrame:
    """Per-customer mergeable aggregate state for one micro-batch: additive
    counts/sums, order-free min/max, and the distinct-active-days HLL
    sketch (binary, merged across runs with hll_union). Sums accumulate in
    decimal so merge order can never drift the double."""
    return batch.groupBy("customer_id").agg(
        F.count("*").alias("txn_count"),
        F.sum(F.col("amount").cast("decimal(38,2)")).alias("total_amount"),
        F.min("transaction_date").alias("first_transaction_date"),
        F.max("transaction_date").alias("last_transaction_date"),
        # sketch input must be int/long/string/binary — the ISO day string
        # is canonical and collision-free
        F.hll_sketch_agg(F.to_date("transaction_date").cast("string")).alias(
            "days_sketch"
        ),
    )


def merge_states(a: DataFrame, b: DataFrame) -> DataFrame:
    """Pure pairwise merge of two per-customer state frames
    (:func:`_batch_state` output) — the commutative, associative algebra
    :func:`_merge_delta` applies against the persisted table, minus its
    replay guard and bucket bookkeeping: counts and decimal sums add,
    dates take least/greatest (both skip NULLs), day sketches union.
    Used by the registered batch-equivalence twin
    (``customer_insights_incremental_twin`` — the driver proves merged
    state == recompute-from-history against customer_insights' own
    oracle) and by property tests."""
    d, e = a.alias("d"), b.alias("e")
    return d.join(
        e, F.col("d.customer_id") == F.col("e.customer_id"), "full"
    ).select(
        F.coalesce("d.customer_id", "e.customer_id").alias("customer_id"),
        (
            F.coalesce("d.txn_count", F.lit(0))
            + F.coalesce("e.txn_count", F.lit(0))
        ).alias("txn_count"),
        (
            F.coalesce("d.total_amount", F.lit(0).cast("decimal(38,2)"))
            + F.coalesce("e.total_amount", F.lit(0).cast("decimal(38,2)"))
        ).alias("total_amount"),
        F.least("d.first_transaction_date", "e.first_transaction_date").alias(
            "first_transaction_date"
        ),
        F.greatest("d.last_transaction_date", "e.last_transaction_date").alias(
            "last_transaction_date"
        ),
        F.when(F.col("d.days_sketch").isNull(), F.col("e.days_sketch"))
        .when(F.col("e.days_sketch").isNull(), F.col("d.days_sketch"))
        .otherwise(F.hll_union("d.days_sketch", "e.days_sketch"))
        .alias("days_sketch"),
    )


def merge_insights_batch(batch: DataFrame, table: str, batch_id: int) -> None:
    """Merge one micro-batch of silver rows into the bucketed insights
    table. IDEMPOTENT under foreachBatch's at-least-once replay: every row
    written carries ``applied_batch_id``; if a crash lands between the
    bucket write and the checkpoint commit, the replayed batch (same id)
    finds existing rows already stamped with its id and keeps them verbatim
    instead of folding the delta in twice. (The bucket overwrite itself is
    job-commit atomic, so a bucket is either fully pre- or fully
    post-merge — never half.)"""
    src = batch.sparkSession
    # persist: the per-batch aggregation is consumed up to three times
    # (bucket collect, merge join, write) — without this each pass would
    # recompute the batch scan + shuffle from scratch
    delta = _batch_state(batch).withColumn("bucket", _bucket("customer_id")).persist()
    try:
        _merge_delta(src, delta, table, batch_id)
    finally:
        delta.unpersist()


def _merge_delta(src, delta: DataFrame, table: str, batch_id: int) -> None:
    # the collected bucket list doubles as the emptiness probe — one action
    buckets = [r["bucket"] for r in delta.select("bucket").distinct().collect()]
    if not buckets:
        return
    if zone_exists(src, table):
        existing = read_zone(src, table).filter(F.col("bucket").isin(buckets))
        # ONE merge algebra: the same merge_states the batch-equivalence
        # twin proves against customer_insights' oracle — _merge_delta
        # only layers the replay guard on top, so the production merge
        # can never drift from the proven algebra
        m = merge_states(
            delta.drop("bucket"),
            existing.drop("applied_batch_id", "bucket"),
        ).alias("m")
        e = existing.alias("e")
        # replay guard: this batch's delta is already folded into e —
        # NULL (no existing row) falls through to the merged state
        replayed = F.col("e.applied_batch_id") == F.lit(batch_id)
        state_cols = (
            "txn_count",
            "total_amount",
            "first_transaction_date",
            "last_transaction_date",
            "days_sketch",
        )
        merged = (
            m.join(e, F.col("m.customer_id") == F.col("e.customer_id"), "left")
            .select(
                F.col("m.customer_id").alias("customer_id"),
                *[
                    F.when(replayed, F.col(f"e.{c}"))
                    .otherwise(F.col(f"m.{c}"))
                    .alias(c)
                    for c in state_cols
                ],
                F.lit(batch_id).alias("applied_batch_id"),
            )
            # customer -> bucket is a pure function; recompute rather than
            # thread it through the merge
            .withColumn("bucket", _bucket("customer_id"))
        )
    else:
        merged = delta.withColumn("applied_batch_id", F.lit(batch_id))
    # materialize BEFORE overwriting the path we just read — lineage
    # through the input files would otherwise race the delete (same
    # guard as compact_zone)
    merged = merged.localCheckpoint(eager=True)
    # dynamic partition overwrite: only the touched bucket= dirs rewrite
    write_zone(
        merged,
        table,
        partition_by=("bucket",),
        mode="overwrite",
        partition_overwrite="dynamic",  # replace ONLY touched buckets
    )


def incremental_customer_insights(
    spark: SparkSession,
    silver_path: str,
    gold_path: str,
    checkpoint_path: str,
) -> None:
    """Incrementally maintain the lifetime customer-insights table.

    The table is hash-bucket partitioned (``bucket = pmod(xxhash64(
    customer_id), 64)``) — the trick that makes a naturally-unpartitioned
    lifetime table dynamic-partition-overwritable: a micro-batch touching
    k customers rewrites at most min(k, 64) bucket directories, not the
    table. State merges instead of recomputing: counts and decimal sums
    add, min/max take least/greatest, and distinct active days live as an
    HLL sketch union — so a customer's full history is NEVER re-read; at
    100 TB the per-run cost is O(batch + touched buckets). (Exact
    countDistinct would need the full day set per customer; the sketch is
    the documented scale trade: exact while in sparse/set mode — every
    coupon-scale cardinality the driver oracle checks — and RSE ≈ 1.6%
    (±3σ ≈ 5% per customer) once promoted to the dense array at lgK=12
    default; measured past promotion in tests/test_incremental_gold.py.)
    Replay-safe: see :func:`merge_insights_batch`.
    """
    stream = spark.readStream.schema(silver_schema(spark)).parquet(silver_path)
    table = f"{gold_path}/customer_insights_incremental"

    (
        stream.writeStream.foreachBatch(
            lambda batch, bid: merge_insights_batch(batch, table, bid)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_customer_insights_incremental(
    spark: SparkSession, gold_path: str
) -> DataFrame:
    """Reader view over the incremental state: derives the presentation
    columns (avg, active-days estimate) the batch gold table exposes."""
    t = read_zone(spark, f"{gold_path}/customer_insights_incremental")
    return t.select(
        "customer_id",
        F.col("txn_count").alias("lifetime_transactions"),
        F.col("total_amount").cast("double").alias("lifetime_value"),
        (F.col("total_amount") / F.col("txn_count"))
        .cast("double")
        .alias("avg_transaction_amount"),
        "first_transaction_date",
        "last_transaction_date",
        F.hll_sketch_estimate("days_sketch").alias("active_days_estimate"),
    )


def refresh_insights_from_snapshot_diff(
    spark: SparkSession, silver_path: str, gold_path: str
) -> dict[str, int]:
    """Snapshot-diff-driven refresh of the lifetime insights table —
    incremental view maintenance WITHOUT a streaming checkpoint: the
    batch-world sibling of :func:`incremental_customer_insights` for
    estates where a cron'd job owns the cadence and the silver zone
    already takes snapshots.

    Mechanism, exactly-once by composition of the existing guards plus
    one INTENT marker:

    1. resolve the consumption boundary ``to``: an uncommitted intent
       marker above the consumed id resumes THAT exact boundary (crash
       recovery — see below); otherwise the newest existing snapshot
       above the consumed id (producers that snapshot after each run are
       consumed without creating more), else a fresh snapshot of the
       zone now. The intent marker (``_inflight``) is written BEFORE
       any merge.
    2. read the (consumed, to] delta via
       ``snapshots.read_zone_snapshot_diff(strict=True)`` — silver is
       append-only by the medallion contract, and strict mode REFUSES a
       rewritten zone rather than double-merging re-served rows into
       state that, unlike an idempotency-keyed sink, would silently
       double-count them (a compacted silver means re-baseline: rebuild
       the gold table, then resume);
    3. fold the delta to mergeable state and merge it with ``to`` as
       the batch id — ``_merge_delta``'s replay guard makes the merge
       idempotent per id;
    4. commit the consumed marker (single file create). The intent
       marker needs no cleanup: once ``inflight <= consumed`` it is
       inert by the resume condition.

    Crash anywhere: the retry resolves the SAME (consumed, to) boundary
    through the intent marker — same delta, same batch id — so the
    guard holds even if newer producer snapshots landed in between (a
    fresh ``to`` on retry would change the batch id and defeat the
    guard: the bug this marker exists to close; the in-between data is
    simply the next refresh's delta). First run bootstraps from the
    full pinned snapshot. Snapshot retention stays the zone owner's
    job: keep at least the last consumed id (the return value says
    which). Returns {"from": consumed id or 0, "to": boundary id,
    "rows": delta rows merged}.
    """
    from aws_data_pipeline_spark.sources import snapshots as snaps
    from aws_data_pipeline_spark.sources.parquet import (
        _create_marker,
        _max_numeric_marker,
    )

    table = f"{gold_path}/customer_insights_incremental"
    consumed_dir = f"{table}/_consumed_snapshots"
    inflight_dir = f"{table}/_inflight_snapshot"
    frm = _max_numeric_marker(spark, consumed_dir)
    inflight = _max_numeric_marker(spark, inflight_dir)
    if inflight is not None and (frm is None or inflight > frm):
        to_id = inflight  # resume the crashed attempt's exact boundary
    else:
        ids = snaps.snapshot_ids(spark, silver_path)
        if ids and (frm is None or ids[-1] > frm):
            to_id = ids[-1]  # consume the producers' newest boundary
        else:
            to_id = snaps.snapshot_zone(spark, silver_path)
        _create_marker(spark, inflight_dir, to_id)
    if frm is not None and (
        frm == to_id
        or not snaps.snapshot_diff_files(spark, silver_path, frm, to_id)
    ):
        _create_marker(spark, consumed_dir, to_id)
        return {"from": frm, "to": to_id, "rows": 0}
    if frm is None:
        delta_rows = snaps.read_zone_snapshot(spark, silver_path, to_id)
    else:
        delta_rows = snaps.read_zone_snapshot_diff(
            spark, silver_path, frm, to_id, strict=True
        )
    # the merged-row count rides the merge's own materialization of the
    # persisted fold (observe on the pre-fold frame) — never a second
    # scan of the snapshot diff
    obs = Observation()
    delta = (
        _batch_state(delta_rows.observe(obs, F.count(F.lit(1)).alias("n")))
        .withColumn("bucket", _bucket("customer_id"))
        .persist()
    )
    try:
        _merge_delta(spark, delta, table, to_id)
        n = int(obs.get["n"])
    finally:
        delta.unpersist()
    _create_marker(spark, consumed_dir, to_id)
    return {"from": frm or 0, "to": to_id, "rows": n}
