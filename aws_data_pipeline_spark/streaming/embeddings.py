"""Incremental embedding-corpus curation: the vector binding of the corpus
maintenance loop. :mod:`aws_data_pipeline_spark.streaming.corpus` states
the per-batch steps, the crash contract, the bucket layout, the GC cadence
and the erasure order once, for both corpora.

What is vector-specific: in-batch dedup is exact id dedup, then banded
hyperplane-LSH cosine pairs; the primary index is the embedding-LSH index;
the secondary indexes are IVF, SQ8 and PQ. New vectors are assigned or
encoded under the FIXED build centroids, ranges and codebooks, and the
post-run ``ivf_retrain_due`` / ``pq_retrain_due`` / ``sq8_retrain_due``
checks rebuild an index when drift or growth warrants it. Per-batch cost
is O(batch × bands + matched candidates); accepted vectors are never
re-banded or re-paired.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_data_pipeline_spark.operators import similarity
from aws_data_pipeline_spark.sources.parquet import (
    index_has,
    index_is_version_root,
    index_root,
    read_pinned,
)
from aws_data_pipeline_spark.streaming.corpus import _forget, _Index, _ingest

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def incremental_embedding_ingest(
    spark: SparkSession,
    vecs_path: str,
    corpus_path: str,
    index_path: str,
    checkpoint_path: str,
    ivf_index_path: str | None = None,
    ivf_cells: int = 16,
    ivf_retrain: bool = False,
    pq_index_path: str | None = None,
    pq_retrain: bool = False,
    pq_m: int = 8,
    pq_ks: int = 16,
    corpus_buckets: int = 64,
    sq8_index_path: str | None = None,
    sq8_retrain: bool = False,
    ivfpq_cell_codes_path: str | None = None,
    gc_superseded_versions: bool = False,
) -> None:
    """One availableNow run of the maintenance loop
    (:mod:`streaming.corpus`) over new embedding files: in-batch semantic
    dedup → index probe → idempotent append of novel vectors to the
    corpus zone, the LSH index and every configured ANN index.

    In-batch dedup drops repeated vec_ids, then pairs vectors at cosine
    ≥ 0.9 (``neardup_pairs_lsh``), the probe's threshold too; survivors probe the
    embedding-LSH index at ``index_path``
    (``embedding_neardup_against_index``).

    vec_ids must be globally unique across batches (upstream contract,
    same as the text loop's doc_ids).

    ``corpus_buckets``: the fan-out a NEW corpus zone is written with
    (``bucket = pmod(vec_id, corpus_buckets)``); the zone's recorded
    marker governs existing zones.

    ``ivf_index_path`` / ``sq8_index_path`` / ``pq_index_path``: the IVF
    index (bootstrap with ``ivf_cells`` cells), the SQ8 index (appends
    encode under the stored per-dimension ranges; out-of-range values
    saturate) and the PQ index (appends encode under the stored
    codebooks). Each appends from the batch ∩ corpus set and bootstraps
    from the full corpus zone. The PQ bootstrap takes its shape from
    ``pq_m``/``pq_ks`` (corpora whose dim is not divisible by 8 need a
    non-default ``pq_m``); appends and retrains read the stored meta.

    ``ivf_retrain`` / ``pq_retrain`` / ``sq8_retrain``: post-run
    maintenance. After the availableNow run drains, ``ivf_retrain_due``
    (drift), ``pq_retrain_due`` (growth past 2× the build-time size) or
    ``sq8_retrain_due`` (growth OR per-dim range drift) is consulted and,
    when it fires, the index is rebuilt from its own vectors as a
    versioned atomic swap, so concurrent probes keep serving the old
    index until the flip. They stay off by default only because retrain
    POLICY (when, at what thresholds) belongs to the index owner, not the
    ingest loop.

    ``ivfpq_cell_codes_path`` (optional, needs both ``ivf_index_path``
    and ``pq_index_path``): keeps the materialized FAISS
    inverted-list-with-codes layout current — appends and retrains leave
    derived data stale by definition, so after the run drains it is
    rebuilt by :func:`similarity.refresh_ivf_cell_codes` whenever the
    stored source roots/counts no longer match; a no-op run costs only
    the metadata currency check.

    ``gc_superseded_versions=True`` collects index generations superseded
    in PREVIOUS runs (and crash-stranded candidates) for every configured
    index path at run START (the loop's cadence).
    """

    def in_batch_pairs(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        uniq = batch.dropDuplicates(["vec_id"])
        pairs = similarity.neardup_pairs_lsh(uniq, threshold=0.9).select(
            F.col("id1").alias("doc1"), F.col("id2").alias("doc2")
        )
        return uniq, pairs

    estate = [
        index_path, ivf_index_path, pq_index_path, sq8_index_path,
        ivfpq_cell_codes_path,
    ]
    _ingest(
        spark, ("parquet", vecs_path, VEC_SCHEMA), checkpoint_path,
        corpus_path=corpus_path, corpus_buckets=corpus_buckets, id_col="vec_id",
        prep=None, in_batch_pairs=in_batch_pairs,
        probe=similarity.embedding_neardup_against_index, threshold=0.9,
        index_path=index_path,
        append_index=similarity.append_to_embedding_lsh_index,
        build_index=similarity.build_embedding_lsh_index,
        secondaries=[
            _Index(
                ivf_index_path, "centroids",
                lambda df, path: similarity.append_to_ivf_index(
                    df.sparkSession, df, path
                ),
                lambda full, path: similarity.build_ivf_index(
                    full, path, n_cells=ivf_cells
                ),
            ),
            _Index(
                sq8_index_path, "meta", similarity.append_to_sq8_index,
                similarity.build_sq8_index,
            ),
            _Index(
                pq_index_path, "meta", similarity.append_to_pq_index,
                # the CALLER's PQ shape: a dim not divisible by the
                # default m=8 would otherwise raise mid-foreachBatch
                lambda full, path: similarity.build_pq_index(
                    full, path, m=pq_m, ks=pq_ks
                ),
            ),
        ],
        estate=estate, gc_superseded_versions=gc_superseded_versions,
    )
    for path, present, wanted, due, retrain in (
        (ivf_index_path, "centroids", ivf_retrain,
         similarity.ivf_retrain_due, similarity.retrain_ivf_index),
        (pq_index_path, "meta", pq_retrain,
         similarity.pq_retrain_due, similarity.retrain_pq_index),
        (sq8_index_path, "meta", sq8_retrain,
         similarity.sq8_retrain_due, similarity.retrain_sq8_index),
    ):
        ready = wanted and path is not None and index_has(spark, path, present)
        if ready and due(spark, path):
            retrain(spark, path)
    # derived cell-codes layout: appends (and any retrain above) leave it
    # stale by definition — the stored source roots/counts no longer match
    # — so the same post-run slot that retrains the sources refreshes it
    # (rebuild-on-supersede is this layout's whole maintenance story)
    if None not in (ivfpq_cell_codes_path, ivf_index_path, pq_index_path):
        similarity.refresh_ivf_cell_codes(
            spark, ivfpq_cell_codes_path, ivf_index_path, pq_index_path
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
) -> dict[str, int]:
    """GDPR-style erasure across the WHOLE embedding estate the ingest
    loop maintains, in the loop's erasure order (:mod:`streaming.corpus`):
    remove ``ids`` from every persisted index family, refresh the derived
    cell-codes layout (which still CONTAINS the erased codes until
    rebuilt — for erasure the rebuild is mandatory, not a freshness
    nicety), collect the superseded generations of every index (a kept
    generation still holds the doomed rows), and erase the bucketed
    corpus zone last. Same parameter names and owner cadence (between ingests) as
    :func:`incremental_embedding_ingest`.

    Returns per-surface deleted-row counts for the erasure audit log."""

    def erase_indexes(doomed: DataFrame) -> dict[str, int]:
        out = {
            name: delete(spark, path, doomed)
            for name, path, present, delete in (
                ("lsh", index_path, "vectors",
                 similarity.delete_from_embedding_lsh_index),
                ("ivf", ivf_index_path, "corpus", similarity.delete_from_ivf_index),
                ("pq", pq_index_path, "codes", similarity.delete_from_pq_index),
                ("sq8", sq8_index_path, "codes", similarity.delete_from_sq8_index),
            )
            if path is not None and index_has(spark, path, present)
        }
        # derived layout: the erased codes LIVE in it until it is rebuilt
        # from the now-clean sources, so the rebuild is part of the erasure
        if (
            ivfpq_cell_codes_path is not None
            and ivf_index_path is not None
            and index_has(spark, ivfpq_cell_codes_path, "meta")
        ):
            # the layout is codes-GENERIC (PQ or SQ8 composes) — its OWN
            # meta records which codes index it was built from; discover
            # the source there instead of guessing, or a two-family estate
            # would rebuild the layout against the wrong index and every
            # later probe would reject it
            cc_meta = f"{index_root(spark, ivfpq_cell_codes_path)}/meta"
            stored = read_pinned(spark, cc_meta).collect()[0].pq_root
            codes_src = next(
                (
                    cand
                    for cand in (pq_index_path, sq8_index_path)
                    if cand is not None
                    and index_is_version_root(spark, cand, stored)
                ),
                None,
            )
            if codes_src is None:
                raise ValueError(
                    "forget_vectors: cannot determine which codes index the "
                    f"cell-codes layout at {ivfpq_cell_codes_path!r} composes "
                    "— rebuild it explicitly with build_ivfpq_cell_codes(ivf, "
                    "<codes index>, path) to complete the erasure"
                )
            similarity.refresh_ivf_cell_codes(
                spark, ivfpq_cell_codes_path, ivf_index_path, codes_src
            )
        return out

    estate = [
        index_path, ivf_index_path, pq_index_path, sq8_index_path,
        ivfpq_cell_codes_path,
    ]
    return _forget(
        spark, ids, id_col, "vec_id", corpus_path, estate, erase_indexes
    )
