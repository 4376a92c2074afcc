"""Streaming drift monitoring — the DQ drift family wired into the
streaming estate: a persisted baseline (edges + counts, built ONCE by
``operators.quality.build_drift_baseline``) and an availableNow loop that
scores every micro-batch against it map-side, appending one metrics row
per batch to an audit zone. The production shape of "did today's ingest
drift?": the baseline's full-sort quantile pass is paid once; each batch
pays only a scan-stage bin projection + a combinable count, so the
monitor rides along with any ingest cadence at 100 TB.

Idempotency: foreachBatch is at-least-once — a crash after the metrics
write but before the checkpoint commit re-delivers the batch, so the
sink SKIPS batch ids already present in the metrics zone (the
incremental-ingest anti-join discipline, one tiny column read per
batch)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators import arrow_frame, quality
from aws_data_pipeline_spark.sources.parquet import zone_exists

# one metrics row per scored batch
_METRICS_SCHEMA = (
    "batch_id long, n_rows long, psi double, psi_alert boolean, "
    "chisq double, chisq_alert boolean, baseline_id string"
)


def incremental_drift_monitor(
    spark: SparkSession,
    src_path: str,
    baseline_path: str,
    metrics_path: str,
    checkpoint_path: str,
    chisq_threshold: float | None = None,
) -> None:
    """One availableNow run: new source files → per-micro-batch drift
    metrics against the stored baseline → idempotent append to
    ``metrics_path``.

    Per batch, for whichever column kinds the baseline was built with:

    - ``value_col``: bin the batch against the stored edges
      (:func:`~aws_data_pipeline_spark.operators.quality.bin_against_edges`
      — map-side, the edges are a literal array) and compute total PSI
      vs the stored baseline bin counts (:func:`psi_from_binned` — a
      bins-sized join);
    - ``cat_col``: exact category counts vs the stored baseline counts
      (:func:`chisq_from_counts` — a categories-sized join).

    The metrics row is (batch_id, n_rows, psi, psi_alert, chisq,
    chisq_alert, baseline_id) — nulls for the kind the baseline lacks.
    ``baseline_id`` is the baseline's stored content fingerprint
    (build_drift_baseline's md5 over params + edges + counts): a
    baseline rebuilt mid-history with different edges silently mixes
    scoring regimes otherwise, so every row records WHICH baseline
    scored it and the zone's history is self-describing. A baseline
    written before the fingerprint existed scores normally and stamps
    null (visibly pre-fingerprint, never misattributed). Schema note for
    zones that span the column's introduction: parquet schema sampling
    reads ONE footer, so a consumer of a mixed-generation zone must read
    with the metrics schema (or ``mergeSchema``) to surface
    ``baseline_id`` across all files — pre-stamp rows then read as null;
    a plain read of such a zone may sample an old footer and not see the
    column at all.
    ``psi_alert`` fires above the canonical 0.2 "investigate" level;
    ``chisq_threshold`` is the caller's critical value for df = C-1 (no
    universal default — it depends on the category count), None = never
    alert. Alerts are DATA (a boolean column in the audit zone), not
    side effects: the owner's paging policy reads the zone, the monitor
    stays a pure pipeline.

    Baseline artifacts are read ONCE at run start (they are tiny:
    bins-1 edges, ≤bins+1 bin counts, C categories) — a baseline rebuild
    mid-run is picked up by the NEXT run, the snapshot discipline
    build_drift_baseline documents."""
    meta, edges, base_bins, base_cats = quality.read_drift_baseline(
        spark, baseline_path
    )
    baseline_id = meta.baseline_id

    src_schema = spark.read.parquet(src_path).schema
    stream = spark.readStream.schema(src_schema).parquet(src_path)

    def score(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        if zone_exists(sess, metrics_path):
            seen = (
                sess.read.schema(_METRICS_SCHEMA).parquet(metrics_path)
                .filter(F.col("batch_id") == batch_id)
                .limit(1)
            )
            if not seen.isEmpty():
                return  # at-least-once re-delivery: already scored
        n_rows = batch.count()
        psi = psi_alert = chisq = chisq_alert = None
        if n_rows == 0:
            # an empty batch carries no distribution: scoring it would
            # floor every current-side proportion to 1e-6 and "alert" on
            # nothing — record the empty batch with null metrics instead
            arrow_frame(
                sess,
                [(batch_id, 0, None, None, None, None, baseline_id)],
                _METRICS_SCHEMA,
            ).write.mode("append").parquet(metrics_path)
            return
        if edges is not None:
            bc = arrow_frame(sess, base_bins, quality.BASELINE_SCHEMAS["value_bins"])
            cc = quality.bin_against_edges(
                batch, meta.value_col, edges, "n_curr"
            )
            psi = (
                quality.psi_from_binned(bc, cc)
                .agg(F.sum("psi_contribution"))
                .collect()[0][0]
            )
            psi = float(psi) if psi is not None else None
            psi_alert = psi is not None and psi > 0.2
        if base_cats is not None:
            bcat = arrow_frame(
                sess, base_cats, quality.BASELINE_SCHEMAS["categories"]
            )
            ccat = (
                batch.where(F.col(meta.cat_col).isNotNull())
                .groupBy(F.col(meta.cat_col).alias("category"))
                .agg(F.count("*").alias("n_curr"))
            )
            chisq = (
                quality.chisq_from_counts(bcat, ccat)
                .agg(F.sum("chisq_contribution"))
                .collect()[0][0]
            )
            chisq = float(chisq) if chisq is not None else None
            chisq_alert = (
                chisq_threshold is not None
                and chisq is not None
                and chisq > chisq_threshold
            )
        arrow_frame(
            sess,
            [(batch_id, n_rows, psi, psi_alert, chisq, chisq_alert,
              baseline_id)],
            _METRICS_SCHEMA,
        ).write.mode("append").parquet(metrics_path)

    (
        stream.writeStream.foreachBatch(score)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
