"""Incremental embedding-corpus curation: streaming vector ingest with
cross-batch semantic near-dup rejection against the persisted embedding-LSH
index — the embedding twin of :mod:`aws_data_pipeline_spark.streaming.corpus`.

One availableNow loop keeps the WHOLE embedding side current, the way the
text loop keeps the MinHash-LSH and k-gram indexes current: each micro-batch
is semantically deduplicated within itself (banded hyperplane-LSH pairs →
min-id survivors), probed against the index of everything already accepted,
and only novel vectors append to the corpus zone, the LSH index, and — when
enabled — the IVF and PQ ANN indexes (new vectors assigned/encoded under the
FIXED build centroids/codebooks; :func:`operators.similarity.ivf_retrain_due`
and :func:`operators.similarity.pq_retrain_due` tell the owner when drift or
growth warrants a rebuild). Per-batch cost is O(batch × bands +
matched candidates); accepted vectors are never re-banded or re-paired.

Crash-consistency contract is the text loop's, verbatim: every append set is
derived INDEPENDENTLY by anti-joining the batch against what THAT target
already holds (``append_to_embedding_lsh_index`` and ``append_to_ivf_index``
carry their own id anti-joins), so a crash between the corpus, LSH, and IVF
writes is backfilled — not double-appended — by the checkpoint's re-delivery.
The IVF append set derives from batch-ids × corpus-ids (not survivors), so a
re-delivered batch whose LSH probe self-matches (survivors empty) still
backfills a missing IVF assignment. Bootstraps build from the FULL corpus
zone, never from the current batch, so enabling an index on an
already-populated corpus indexes history too (same rule the k-gram bootstrap
follows, and for the same silent-under-reporting reason).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_data_pipeline_spark.operators import dedup, similarity
from aws_data_pipeline_spark.sources.parquet import (
    index_has,
    record_zone_bucket_count,
    zone_bucket_count,
    zone_exists,
)

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def _pruned_corpus_ids(sess, corpus_path: str, batch: DataFrame, n_buckets):
    """The vector corpus zone's id column restricted — by PARTITION
    PRUNING — to the hash buckets this batch's vec_ids land in (see
    :func:`sources.parquet.pruned_zone_ids`, shared with the text loop):
    the per-batch idempotency anti-join stays O(batch), not O(corpus)."""
    from aws_data_pipeline_spark.sources.parquet import pruned_zone_ids

    return pruned_zone_ids(sess, corpus_path, batch, n_buckets, "vec_id")


def incremental_embedding_ingest(
    spark: SparkSession,
    vecs_path: str,
    corpus_path: str,
    index_path: str,
    checkpoint_path: str,
    threshold: float = 0.9,
    ivf_index_path: str | None = None,
    ivf_cells: int = 16,
    ivf_retrain: bool = False,
    pq_index_path: str | None = None,
    pq_retrain: bool = False,
    pq_m: int = 8,
    pq_ks: int = 16,
    pq_seed: int = 42,
    pq_max_train: int = 16384,
    corpus_buckets: int = 64,
    sq8_index_path: str | None = None,
    sq8_retrain: bool = False,
    ivfpq_cell_codes_path: str | None = None,
    gc_superseded_versions: bool = False,
) -> None:
    """One availableNow run: new embedding files → in-batch semantic dedup
    → index probe → idempotent append of novel vectors to corpus + LSH
    index (+ IVF index when ``ivf_index_path`` is set).

    Per micro-batch:
    1. in-batch dedup: exact id dedup, then banded-LSH cosine pairs at
       ``threshold`` → connected components → deterministic min-id
       survivor per cluster (re-runs pick the same survivors);
    2. cross-batch: survivors probe the persisted embedding index
       (``embedding_neardup_against_index``); any vector with a verified
       cosine ≥ ``threshold`` against the accepted corpus is dropped;
    3. novel vectors append to the corpus zone (id anti-join guard makes
       re-delivery idempotent) and to the LSH index; first batch
       bootstraps both. The optional IVF index appends from batch ∩
       corpus OUTSIDE the survivors guard (crash backfill — see module
       docstring) and bootstraps from the full corpus zone.

    vec_ids must be globally unique across batches (upstream contract,
    same as the text loop's doc_ids).

    ``corpus_buckets``: new corpus zones are written hive-partitioned by
    ``bucket = pmod(vec_id, corpus_buckets)`` with the fan-out recorded
    in a ``_buckets`` marker BEFORE the first data file. Every later
    run's idempotency anti-join and batch ∩ corpus semi-join then prune
    to the batch's buckets (PartitionFilters — see
    :func:`_pruned_corpus_ids`), keeping per-batch corpus reads O(batch)
    instead of O(corpus) at 100 TB. The recorded marker, not this
    parameter, governs existing zones; legacy unbucketed zones keep
    working with full column-pruned id scans.

    ``pq_index_path`` extends the same upkeep to the PQ index (the third
    embedding index family): appends encode under the index's STORED
    codebooks from the same batch ∩ corpus crash-backfilling set the IVF
    append uses, the bootstrap builds from the full corpus zone, and
    ``pq_retrain=True`` consults ``pq_retrain_due`` post-run (growth past
    2× the build-time size) — so all index families (LSH bands, IVF
    cells, PQ codes, SQ8 codes) stay current from one ingest loop.
    ``sq8_index_path``/``sq8_retrain`` do the same for the SQ8 family:
    appends encode under the stored per-dimension ranges (out-of-range
    values saturate) and the post-run retrain trigger fires on growth OR
    per-dim range drift (``sq8_retrain_due``). The bootstrap
    build takes its shape from ``pq_m``/``pq_ks``/``pq_seed``/
    ``pq_max_train`` (corpora whose dim is not divisible by 8 need a
    non-default ``pq_m``); appends and retrains read the stored meta.

    ``ivfpq_cell_codes_path`` (optional, needs both ``ivf_index_path``
    and ``pq_index_path``): keeps the materialized FAISS
    inverted-list-with-codes layout current — appends and retrains leave
    derived data stale by definition, so after the run drains it is
    rebuilt whenever :func:`similarity.ivfpq_cell_codes_current` reports
    the stored source roots/counts no longer match; a no-op run costs
    only the metadata currency check.

    ``gc_superseded_versions=True`` collects index generations superseded
    in PREVIOUS runs (and crash-stranded candidates) for every configured
    index path, at run START — never right after this run's own retrains,
    whose superseded generation must stay readable for in-flight probes
    (the keep-one-generation commit contract). Steady-state storage per
    index stays ≤ 2× with the flag on.

    ``ivf_retrain=True`` adds post-run quantizer maintenance: after the
    availableNow run drains, ``ivf_retrain_due`` is consulted and, when
    drift warrants it, the quantizer is rebuilt from the index's own
    vectors at default thresholds — the embedding twin of the text loop's
    compaction trigger. The rebuild is a versioned atomic swap
    (``retrain_ivf_index``), so concurrent probes keep serving the old
    quantizer until the flip; it stays off by default only because
    retrain POLICY (when, at what thresholds) belongs to the index owner,
    not the ingest loop.
    """

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        sess = batch.sparkSession
        batch = batch.localCheckpoint()
        # bucket fan-out: the zone's own recorded marker is the source of
        # truth (a modulus mismatch would silently break the pruned
        # anti-join); a brand-new zone records the caller's fan-out
        # BEFORE any data lands, legacy unbucketed zones stay unbucketed
        nb = zone_bucket_count(sess, corpus_path)
        if nb is None and not zone_exists(sess, corpus_path):
            record_zone_bucket_count(sess, corpus_path, corpus_buckets)
            nb = corpus_buckets
        # 1. in-batch dedup: exact id, then semantic components
        uniq = batch.dropDuplicates(["vec_id"])
        pairs = similarity.neardup_pairs_lsh(uniq, threshold=threshold).select(
            F.col("id1").alias("doc1"), F.col("id2").alias("doc2")
        )
        assign = dedup.cluster_assignments(uniq, pairs, "vec_id")
        survivors = uniq.join(
            assign.filter(~F.col("is_duplicate")).select("vec_id"),
            "vec_id",
            "left_semi",
        ).localCheckpoint()
        # 2. cross-batch: probe the index of everything accepted so far
        if index_has(sess, index_path, "meta"):
            matched = (
                similarity.embedding_neardup_against_index(
                    sess, survivors, index_path, threshold=threshold
                )
                .select(F.col("new_id").alias("vec_id"))
                .distinct()
            )
            survivors = survivors.join(matched, "vec_id", "left_anti")
        # 3. idempotent appends (independent anti-joins per target)
        survivors = survivors.localCheckpoint()
        if not survivors.isEmpty():
            corpus_new = survivors
            if zone_exists(sess, corpus_path):
                # partition-pruned idempotency: only the batch's buckets
                # are listed/scanned, never the whole corpus id column
                existing = _pruned_corpus_ids(sess, corpus_path, survivors, nb)
                corpus_new = survivors.join(existing, "vec_id", "left_anti")
            if not corpus_new.isEmpty():
                w = corpus_new
                if nb is not None:
                    w = w.withColumn(
                        "bucket", F.pmod(F.col("vec_id"), F.lit(nb))
                    )
                    w.write.mode("append").partitionBy("bucket").parquet(
                        corpus_path
                    )
                else:
                    w.write.mode("append").parquet(corpus_path)
            if index_has(sess, index_path, "meta"):
                similarity.append_to_embedding_lsh_index(survivors, index_path)
            else:
                # bootstrap from the FULL corpus zone (module docstring)
                similarity.build_embedding_lsh_index(
                    sess.read.parquet(corpus_path), index_path
                )
        # IVF upkeep: append set = this batch's vectors that ARE in the
        # corpus zone — NOT `survivors` (on crash recovery the LSH probe
        # self-matches re-delivered vectors and survivors goes empty, but
        # their IVF assignment may still be missing); append_to_ivf_index's
        # own anti-join makes re-appends no-ops.
        accepted = None
        if (
            (
                ivf_index_path is not None
                or pq_index_path is not None
                or sq8_index_path is not None
            )
            and zone_exists(sess, corpus_path)
        ):
            # ONE shared batch ∩ corpus frame for both ANN index upkeeps —
            # the crash-backfill semantics are identical by design, and a
            # single localCheckpoint avoids recomputing the dedup + join
            # (and re-reading the corpus zone) per index family
            uniq_batch = batch.dropDuplicates(["vec_id"])
            accepted = (
                uniq_batch.join(
                    # same bucket pruning as the corpus anti-join: the
                    # semi-join's corpus side reads only the batch's
                    # bucket partitions
                    _pruned_corpus_ids(sess, corpus_path, uniq_batch, nb),
                    "vec_id",
                    "left_semi",
                )
                .localCheckpoint(eager=True)
            )
        if ivf_index_path is not None and accepted is not None:
            if index_has(sess, ivf_index_path, "centroids"):
                similarity.append_to_ivf_index(sess, accepted, ivf_index_path)
            else:
                full = sess.read.parquet(corpus_path)
                n_full = full.count()  # metadata-only on parquet
                if n_full > 0:
                    similarity.build_ivf_index(
                        full,
                        ivf_index_path,
                        n_cells=ivf_cells,
                        train_fraction=similarity.choose_ivf_train_fraction(
                            n_full, ivf_cells
                        ),
                    )

        # SQ8 upkeep: same crash-backfilling batch ∩ corpus set and
        # bootstrap-from-full-corpus rule as IVF/PQ (module docstring);
        # appends encode under the STORED per-dim ranges (out-of-range
        # values saturate until sq8_retrain_due notices the drift)
        if sq8_index_path is not None and accepted is not None:
            if index_has(sess, sq8_index_path, "meta"):
                similarity.append_to_sq8_index(accepted, sq8_index_path)
            else:
                full = sess.read.parquet(corpus_path)
                if not full.isEmpty():
                    similarity.build_sq8_index(full, sq8_index_path)

        # PQ upkeep: same crash-backfilling batch ∩ corpus set and
        # bootstrap-from-full-corpus rule as IVF (module docstring)
        if pq_index_path is not None and accepted is not None:
            if index_has(sess, pq_index_path, "meta"):
                similarity.append_to_pq_index(accepted, pq_index_path)
            else:
                # bootstrap under the CALLER's PQ params — a corpus whose
                # dim is not divisible by the default m=8 would otherwise
                # raise mid-foreachBatch with no way to configure it
                # (appends thereafter read params from the stored meta)
                full = sess.read.parquet(corpus_path)
                if not full.isEmpty():
                    similarity.build_pq_index(
                        full,
                        pq_index_path,
                        m=pq_m,
                        ks=pq_ks,
                        seed=pq_seed,
                        max_train=pq_max_train,
                    )

    # version GC runs at the START of a run, never right after this run's
    # own retrains: finish_index_build deliberately keeps the
    # immediately-superseded generation for readers that resolved their
    # root before the flip, and collecting it in the same breath as the
    # flip would defeat that protection. Anything superseded BEFORE this
    # run opened has had at least one full run-cycle to drain — that is
    # the documented owner-scheduled quiet period, realized as cadence.
    if gc_superseded_versions:
        from aws_data_pipeline_spark.sources.parquet import gc_index_versions

        gc_targets = {
            index_path: similarity._LSH.subs,
            ivf_index_path: similarity._IVF_SUBS,
            pq_index_path: similarity._PQ.subs,
            sq8_index_path: similarity._SQ8.subs,
            ivfpq_cell_codes_path: similarity._CELL_CODES_SUBS,
        }
        for p, subs in gc_targets.items():
            if p is not None:
                gc_index_versions(spark, p, subs=subs)

    (
        spark.readStream.schema(VEC_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "64")
        .parquet(vecs_path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    if (
        ivf_retrain
        and ivf_index_path is not None
        and index_has(spark, ivf_index_path, "centroids")
        and similarity.ivf_retrain_due(spark, ivf_index_path)
    ):
        similarity.retrain_ivf_index(spark, ivf_index_path)
    if (
        pq_retrain
        and pq_index_path is not None
        and index_has(spark, pq_index_path, "meta")
        and similarity.pq_retrain_due(spark, pq_index_path)
    ):
        similarity.retrain_pq_index(spark, pq_index_path)
    if (
        sq8_retrain
        and sq8_index_path is not None
        and index_has(spark, sq8_index_path, "meta")
        and similarity.sq8_retrain_due(spark, sq8_index_path)
    ):
        similarity.retrain_sq8_index(spark, sq8_index_path)
    # derived cell-codes layout: appends (and any retrain above) leave it
    # stale by definition — the stored source roots/counts no longer match
    # — so the same post-run slot that retrains the sources refreshes it.
    # Rebuild-on-supersede IS this layout's whole maintenance story
    # (operators/similarity.py::build_ivfpq_cell_codes); checking currency
    # first keeps a no-op run (nothing ingested, nothing retrained) free.
    if (
        ivfpq_cell_codes_path is not None
        and ivf_index_path is not None
        and pq_index_path is not None
        and index_has(spark, ivf_index_path, "centroids")
        and index_has(spark, pq_index_path, "meta")
        and not similarity.ivfpq_cell_codes_current(
            spark, ivfpq_cell_codes_path, ivf_index_path, pq_index_path
        )
    ):
        similarity.build_ivfpq_cell_codes(
            spark, ivf_index_path, pq_index_path, ivfpq_cell_codes_path
        )


def forget_vectors(
    spark: SparkSession,
    ids: DataFrame,
    corpus_path: str | None = None,
    index_path: str | None = None,
    ivf_index_path: str | None = None,
    pq_index_path: str | None = None,
    sq8_index_path: str | None = None,
    ivfpq_cell_codes_path: str | None = None,
    id_col: str = "vec_id",
    gc_superseded: bool = True,
) -> dict[str, int]:
    """GDPR-style erasure across the WHOLE embedding estate the ingest
    loop maintains: remove ``ids`` from the bucketed corpus zone and from
    every persisted index family, refresh the derived cell-codes layout
    (which still CONTAINS the erased codes until rebuilt — for erasure
    the rebuild is mandatory, not a freshness nicety), and — by default —
    collect the superseded index generations the versioned-swap deletes
    keep for in-flight readers, since a kept generation still holds the
    doomed rows. Set ``gc_superseded=False`` only when probes in other
    sessions may hold pre-flip scans AND a later owner-scheduled
    ``gc_index_versions`` pass is guaranteed. The deletion twin of
    :func:`incremental_embedding_ingest` — same parameter names, same
    owner cadence (run between ingests).

    Order matters for crash safety: indexes first, corpus LAST. The
    corpus zone is the ingest loop's idempotency authority (its anti-join
    decides what is "new"), so erasing it first and crashing before the
    index deletes would let a re-delivered vector re-enter the corpus
    while stale index rows still advertise the old one. Every step is
    idempotent (anti-joins / partition-pruned rewrites of absent ids are
    no-ops), so a crash anywhere re-runs to completion.

    Corpus-zone pruning: the zone is hive-partitioned by
    ``bucket = pmod(vec_id, N)`` (fan-out from the zone's ``_buckets``
    marker), so each doomed id names its partition arithmetically — the
    rewrite touches O(buckets hit), never the full zone; a legacy
    unbucketed zone falls back to a single-partition rewrite.

    Returns per-surface deleted-row counts for the erasure audit log."""
    from aws_data_pipeline_spark.sources.parquet import (
        delete_from_zone,
        gc_index_versions,
        index_has,
        index_root,
        qualified_path,
        zone_bucket_count,
        zone_exists,
    )

    out: dict[str, int] = {}
    doomed = ids.select(F.col(id_col).alias("vec_id")).distinct()
    if index_path is not None and index_has(spark, index_path, "vectors"):
        out["lsh"] = similarity.delete_from_embedding_lsh_index(
            spark, index_path, doomed
        )
    if ivf_index_path is not None and index_has(spark, ivf_index_path, "corpus"):
        out["ivf"] = similarity.delete_from_ivf_index(
            spark, ivf_index_path, doomed
        )
    if pq_index_path is not None and index_has(spark, pq_index_path, "codes"):
        out["pq"] = similarity.delete_from_pq_index(
            spark, pq_index_path, doomed
        )
    if sq8_index_path is not None and index_has(spark, sq8_index_path, "codes"):
        out["sq8"] = similarity.delete_from_sq8_index(
            spark, sq8_index_path, doomed
        )
    # derived layout: the erased codes LIVE in it until it is rebuilt from
    # the now-clean sources, so the rebuild is part of the erasure. The
    # layout is codes-GENERIC (PQ or SQ8 composes) — its OWN meta records
    # which codes index it was built from; discover the source there
    # instead of guessing, or a two-family estate would rebuild the layout
    # against the wrong index and every later probe would reject it
    if ivfpq_cell_codes_path is not None and ivf_index_path is not None:
        cc_root = index_root(spark, ivfpq_cell_codes_path)
        codes_src = None
        if zone_exists(spark, f"{cc_root}/meta"):
            stored = spark.read.parquet(f"{cc_root}/meta").collect()[0].pq_root
            for cand in (pq_index_path, sq8_index_path):
                if cand is None:
                    continue
                q = qualified_path(spark, cand)
                if stored == q or stored.startswith(f"{q}/v"):
                    codes_src = cand
                    break
        else:
            # half-built layout (no committed meta): unambiguous only
            # with a single candidate
            cands = [p for p in (pq_index_path, sq8_index_path) if p]
            codes_src = cands[0] if len(cands) == 1 else None
        if codes_src is None:
            raise ValueError(
                "forget_vectors: cannot determine which codes index the "
                f"cell-codes layout at {ivfpq_cell_codes_path!r} composes "
                "— rebuild it explicitly with build_ivfpq_cell_codes(ivf, "
                "<codes index>, path) to complete the erasure"
            )
        if (
            index_has(spark, ivf_index_path, "centroids")
            and index_has(spark, codes_src, "meta")
            and not similarity.ivfpq_cell_codes_current(
                spark, ivfpq_cell_codes_path, ivf_index_path, codes_src
            )
        ):
            similarity.build_ivfpq_cell_codes(
                spark, ivf_index_path, codes_src, ivfpq_cell_codes_path
            )
    if gc_superseded:
        # the kept pre-delete generations still hold the doomed rows
        for p, subs in (
            (index_path, similarity._LSH.subs),
            (pq_index_path, similarity._PQ.subs),
            (sq8_index_path, similarity._SQ8.subs),
            # the rebuilt layout's kept generation holds erased codes too
            (ivfpq_cell_codes_path, similarity._CELL_CODES_SUBS),
        ):
            if p is not None and zone_exists(spark, p):
                gc_index_versions(spark, p, subs)
    if corpus_path is not None and zone_exists(spark, corpus_path):
        nb = zone_bucket_count(spark, corpus_path)
        if nb is not None:
            keyed = doomed.withColumn(
                "bucket", F.pmod(F.col("vec_id"), F.lit(nb)).cast("int")
            )
            n = (
                spark.read.parquet(corpus_path)
                .select("vec_id")
                .join(doomed, "vec_id", "left_semi")
                .count()
            )
            delete_from_zone(
                spark, corpus_path, keyed,
                key_cols=["vec_id"], partition_cols=["bucket"],
            )
            out["corpus"] = n
        else:  # legacy unbucketed zone: one-partition COW rewrite
            cur = spark.read.parquet(corpus_path)
            surv = cur.join(doomed, "vec_id", "left_anti").localCheckpoint(
                eager=True
            )
            out["corpus"] = cur.count() - surv.count()
            if out["corpus"] > 0:
                surv.write.mode("overwrite").parquet(corpus_path)
    return out
