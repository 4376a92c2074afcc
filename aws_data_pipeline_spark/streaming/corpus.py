"""Incremental corpus maintenance: one availableNow loop that keeps a
corpus zone and every index over it current, plus the erasure and the
compaction that go with it. :func:`incremental_corpus_ingest` binds the
loop to documents (MinHash-LSH primary index, k-gram span index);
:mod:`aws_data_pipeline_spark.streaming.embeddings` binds it to vectors
(hyperplane-LSH primary index; IVF, SQ8 and PQ indexes). The checkpoint
is the bookmark (same contract as streaming/ingest.py): a crashed run
re-processes only uncommitted files.

Per micro-batch, in this order:

1. optional row-local prep, then ONE materialization of the batch;
2. the corpus zone's bucket fan-out: its ``_buckets`` marker, or — for a
   brand-new zone — the caller's ``corpus_buckets``, recorded BEFORE the
   first data file (the marker, not the parameter, governs an existing
   zone: a modulus mismatch would silently break the pruned anti-join;
   an existing zone without the marker is refused);
3. in-batch dedup: candidate pairs, then the deterministic min-id
   survivor of each ``cluster_assignments`` cluster — re-runs pick the
   same survivors;
4. the survivors probe the primary index of everything accepted so far;
   a verified match at ``threshold`` drops the row;
5. the novel rows append to the corpus zone, hive-partitioned by
   ``bucket = pmod(id, N)``, after an id anti-join restricted to the
   batch's buckets (PartitionFilters via
   :func:`sources.parquet.pruned_zone_ids`) — per-batch corpus reads stay
   O(batch), not O(corpus);
6. the primary index appends the survivors, or bootstraps;
7. the batch ∩ corpus "accepted" set feeds every secondary index: an
   append, or a bootstrap.

LSM-style: per-batch cost is O(batch + matched buckets), and the accepted
corpus is never re-read, let alone re-clustered. Every bootstrap reads the
FULL corpus zone, never the batch: an index enabled on an
already-populated corpus must index history too, or it silently
under-reports while claiming to be the corpus index.

Crash contract. The sink's writes (corpus, then each index's sub-tables)
cannot commit atomically together, so each write derives its append set
INDEPENDENTLY, by anti-joining against what THAT target already holds
(ids only — column-pruned scans). A crash between any two writes cannot
desynchronize them permanently: the re-delivered batch recomputes the
same survivors and each write backfills exactly its missing rows, never
double-appending. The secondary indexes read batch ∩ corpus, not the
survivors, because on re-delivery the primary probe self-matches rows
that already reached it and the survivors go empty. The only window of
weakness is DURING recovery (an index missing entries admits a
near-duplicate arriving in that window — a possible duplicate admission,
never data loss).

GC cadence. ``gc_superseded_versions=True`` collects the generations
superseded in PREVIOUS runs at run START, never right after this run's
own rebuilds: ``finish_index_build`` keeps the immediately superseded
generation for readers that resolved their root before the flip, and
anything superseded before this run opened has had a full run-cycle to
drain. Steady-state storage per index stays ≤ 2×.

Erasure order. Indexes first, then their superseded generations, which
still hold the doomed rows, and the corpus zone LAST:
it is the loop's idempotency authority, so erasing it first and crashing
would let a re-delivered row re-enter while stale index rows still
advertise the old one. Every step is idempotent, so a crash anywhere
re-runs to completion. The zone's doomed ids name their partitions
arithmetically, so the count and the rewrite touch O(buckets hit).

Compaction (:func:`compact_corpus_indexes`, and
``similarity.compact_embedding_indexes``) is probe-safe but not
append-safe (:func:`sources.parquet.compact_index`): run it from the
index's single owner, between ingest runs.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_data_pipeline_spark.operators import dedup, indexes, text
from aws_data_pipeline_spark.sources.parquet import (
    compact_index,
    delete_from_zone,
    gc_index_versions,
    index_has,
    index_root,
    pruned_zone_ids,
    read_pinned,
    record_zone_bucket_count,
    zone_bucket_count,
    zone_exists,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


class _Index(NamedTuple):
    """A secondary index the loop keeps current from the batch ∩ corpus
    set. It counts as built once ``present`` exists at its active root;
    then ``append(accepted, path)``, else
    ``bootstrap(full corpus, path)`` when the corpus holds rows."""

    path: str | None
    present: str
    append: Callable
    bootstrap: Callable


def _gc(spark: SparkSession, estate: list) -> None:
    """Collect the superseded generations of every configured index of an
    estate, given as its index paths (None for an unconfigured one)."""
    for path in estate:
        if path is not None:
            gc_index_versions(spark, path)


def _bucketed(nb: int | None, corpus_path: str) -> int:
    """``nb``, a corpus zone's recorded bucket fan-out; a zone holding
    data but no ``_buckets`` marker predates the bucketed layout."""
    if nb is None:
        raise ValueError(
            f"corpus zone {corpus_path} has no _buckets marker: it predates "
            "the bucket=-partitioned corpus layout; rewrite it bucketed"
        )
    return nb


def _ingest(
    spark: SparkSession, source: tuple, checkpoint_path: str, *,
    corpus_path: str, corpus_buckets: int, id_col: str, prep, in_batch_pairs,
    probe, threshold: float, index_path: str, append_index, build_index,
    secondaries: list[_Index], estate: list, gc_superseded_versions: bool,
) -> None:
    """One availableNow run of the maintenance loop over ``source``
    (format, path, schema); the steps are the module docstring's.
    ``prep`` (or None) is the row-local step; ``in_batch_pairs(batch)``
    returns the in-batch unique rows and their ``(doc1, doc2)`` near-dup
    pairs; ``probe(spark, rows, path, threshold=)`` probes the primary
    index, which ``append_index(survivors, path)`` appends to and
    ``build_index(full corpus, path)`` bootstraps."""
    secondaries = [ix for ix in secondaries if ix.path is not None]

    def sink(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        # materialized AFTER the prep, so the prep runs once and the
        # emptiness check reads the checkpoint
        batch = (prep(batch) if prep else batch).localCheckpoint()
        if batch.isEmpty():
            return
        nb = zone_bucket_count(sess, corpus_path)
        if nb is None and not zone_exists(sess, corpus_path):
            record_zone_bucket_count(sess, corpus_path, corpus_buckets)
            nb = corpus_buckets
        nb = _bucketed(nb, corpus_path)
        uniq, pairs = in_batch_pairs(batch)
        assign = dedup.cluster_assignments(uniq, pairs, id_col)
        survivors = uniq.join(
            assign.filter(~F.col("is_duplicate")).select(id_col),
            id_col,
            "left_semi",
        ).localCheckpoint()
        if index_has(sess, index_path, "meta"):
            matched = (
                probe(sess, survivors, index_path, threshold=threshold)
                .select(F.col("new_id").alias(id_col))
                .distinct()
            )
            survivors = survivors.join(matched, id_col, "left_anti")
        survivors = survivors.localCheckpoint()  # one plan, several probes
        if not survivors.isEmpty():
            novel = survivors
            if zone_exists(sess, corpus_path):
                existing = pruned_zone_ids(
                    sess, corpus_path, survivors, nb, id_col
                )
                novel = survivors.join(existing, id_col, "left_anti")
            if not novel.isEmpty():
                novel.withColumn("bucket", F.pmod(F.col(id_col), F.lit(nb))).write.mode(
                    "append"
                ).partitionBy("bucket").parquet(corpus_path)
            if index_has(sess, index_path, "meta"):
                append_index(survivors, index_path)
            else:
                build_index(read_pinned(sess, corpus_path), index_path)
        if not secondaries or not zone_exists(sess, corpus_path):
            return
        accepted = full = None  # each built at most once, on first use
        for ix in secondaries:
            if index_has(sess, ix.path, ix.present):
                if accepted is None:
                    # materialized lazily, by the append that reads it
                    # first: no extra job, and later appends reuse it
                    accepted = uniq.join(
                        pruned_zone_ids(sess, corpus_path, uniq, nb, id_col),
                        id_col,
                        "left_semi",
                    ).localCheckpoint(eager=False)
                ix.append(accepted, ix.path)
                continue
            if full is None:
                full = read_pinned(sess, corpus_path)
                has_rows = not full.isEmpty()
            if has_rows:
                ix.bootstrap(full, ix.path)

    if gc_superseded_versions:
        _gc(spark, estate)
    fmt, path, schema = source
    (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "64")
        .load(path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _erase_corpus(
    spark: SparkSession, corpus_path: str, doomed: DataFrame, key: str
) -> int:
    """Remove the ``doomed`` ids from a corpus zone; returns rows removed.
    The count and the rewrite read only the buckets the doomed ids land
    in."""
    nb = _bucketed(zone_bucket_count(spark, corpus_path), corpus_path)
    n = (
        pruned_zone_ids(spark, corpus_path, doomed, nb, key)
        .join(doomed, key, "left_semi")
        .count()
    )
    keyed = doomed.withColumn("bucket", F.pmod(F.col(key), F.lit(nb)).cast("int"))
    delete_from_zone(
        spark, corpus_path, keyed, key_cols=[key], partition_cols=["bucket"]
    )
    return n


def _forget(
    spark: SparkSession, ids: DataFrame, id_col: str, key: str,
    corpus_path: str | None, estate: list, erase_indexes,
) -> dict[str, int]:
    """The erasure shared by both estates, in the module docstring's order:
    ``erase_indexes(doomed)`` (per-surface counts), the superseded
    generations, then the corpus zone."""
    doomed = ids.select(F.col(id_col).alias(key)).distinct()
    out = erase_indexes(doomed)
    _gc(spark, estate)
    if corpus_path is not None and zone_exists(spark, corpus_path):
        out["corpus"] = _erase_corpus(spark, corpus_path, doomed, key)
    return out


def compact_corpus_indexes(
    spark: SparkSession,
    index_path: str,
    kgram_index_path: str | None = None,
) -> dict[str, int]:
    """Periodic maintenance for the append-maintained corpus indexes:
    every availableNow batch appends one small parquet file per index
    sub-table, and after thousands of batches probe latency is dominated
    by file open/seek, not data. Rewrites each sub-table into
    ~target-size files via ``compact_zone`` (the MinHash-LSH index through
    the codec compaction :func:`operators.indexes.compact` the embedding
    indexes share), clustering the probe-side tables on their join keys
    (``bands`` on (band, key), ``hashes`` and ``sets`` on their hash/doc
    columns) so parquet row-group min/max
    ranges turn selective probes into row-group skips. Returns files
    written per sub-table.

    Concurrency contract (:func:`sources.parquet.compact_index`):
    PROBE-safe — the compacted sub-tables land in a fresh version
    directory committed by ONE marker-file create, the superseded
    generation is kept one more flip for in-flight readers, and a crash
    mid-compaction leaves the old version active — but NOT
    concurrent-APPEND-safe: an append resolving the old root
    mid-compaction would strand its rows in a superseded generation. Run
    it from the index's single owner, between ingest runs. Cadence:
    ``sources.parquet.index_compaction_due``, or whenever the small-file
    count passes a few hundred."""

    written = indexes.compact(dedup._TEXT_LSH, spark, index_path)
    if kgram_index_path is not None and index_has(
        spark, kgram_index_path, "hashes"
    ):
        written.update(
            compact_index(
                spark, kgram_index_path, {"hashes": {"sort_by": ("h",)}}, ("meta",)
            )
        )
    return written


def incremental_corpus_ingest(
    spark: SparkSession,
    docs_path: str,
    corpus_path: str,
    index_path: str,
    checkpoint_path: str,
    kgram_index_path: str | None = None,
    corpus_buckets: int = 64,
    strip_markup: bool = False,
    min_quality: float | None = None,
    gc_superseded_versions: bool = False,
) -> None:
    """One availableNow run of the maintenance loop (module docstring)
    over new document files: in-batch dedup → index probe → idempotent
    append of novel docs to the corpus zone and the indexes.

    In-batch dedup is an exact digest first (cheap), then MinHash-LSH
    pairs at Jaccard 0.8; the primary index is the MinHash-LSH index at
    ``index_path`` (``neardup_against_index`` probes it at 0.8), built
    with 5-shingles and 16 permutations in 4 bands and appended under
    its own stored parameters (``dedup.append_to_lsh_text_index``).

    ``kgram_index_path`` (optional) additionally maintains the corpus's
    duplicate-SPAN fingerprint index (``dedup.build_kgram_index``, 8-grams):
    accepted docs' distinct positional k-gram hashes append after the
    corpus write, anti-joined against the hash set so replays are
    idempotent by construction — downstream span audits
    (``duplicate_spans_against_index``) then see every accepted doc
    without re-reading corpus text.

    doc_ids must be globally unique across batches (upstream contract,
    same as any append-only ingest).

    ``corpus_buckets``: the fan-out a NEW corpus zone is written with
    (``bucket = pmod(doc_id, corpus_buckets)``); the zone's recorded
    marker governs existing zones.

    ``strip_markup`` / ``min_quality`` (optional, off by default): the
    curate() chain's row-local stage 0/1 applied per micro-batch BEFORE
    dedup, in curate()'s order (strip before anything scores or hashes
    the text; the quality gate before the pairwise stages) — raw-crawl
    loops gate and strip in-ingest so the corpus, the indexes, and every
    downstream signal only ever see content that passed. Deterministic
    column expressions: crash-recovery re-delivery recomputes the
    identical survivors, so the idempotency contract is unchanged.

    ``gc_superseded_versions=True``: collect index generations superseded
    in PREVIOUS runs at run START (the module docstring's cadence).
    """

    def prep(batch: DataFrame) -> DataFrame:
        if strip_markup:
            batch = (
                text.strip_markup(batch, text_col="text", out_col="__clean")
                .withColumn("text", F.col("__clean"))
                .drop("__clean")
            )
        if min_quality is not None:
            batch = (
                text.quality_score(batch)
                .filter(F.col("quality_score") >= min_quality)
                .select(*batch.columns)
            )
        return batch

    def in_batch_pairs(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        uniq = (
            dedup.exact_dedup(batch, "doc_id")
            .filter(~F.col("is_duplicate"))
            .drop("text_hash", "canonical_doc_id", "is_duplicate")
        )
        return uniq, dedup.minhash_lsh_pairs(uniq, "doc_id")

    _ingest(
        spark, ("json", docs_path, DOC_SCHEMA), checkpoint_path,
        corpus_path=corpus_path, corpus_buckets=corpus_buckets, id_col="doc_id",
        prep=prep, in_batch_pairs=in_batch_pairs,
        probe=dedup.neardup_against_index, threshold=0.8,
        index_path=index_path, append_index=dedup.append_to_lsh_text_index,
        build_index=lambda full, path: dedup.build_lsh_text_index(
            full.select("doc_id", "text"), path
        ),
        secondaries=[
            _Index(
                kgram_index_path, "meta", dedup.append_to_kgram_index,
                dedup.build_kgram_index,
            )
        ],
        estate=[index_path, kgram_index_path],
        gc_superseded_versions=gc_superseded_versions,
    )


def forget_documents(
    spark: SparkSession,
    ids: DataFrame,
    corpus_path: str | None = None,
    index_path: str | None = None,
    kgram_index_path: str | None = None,
    id_col: str = "doc_id",
) -> dict[str, int]:
    """GDPR-style erasure across the text estate the ingest loop
    maintains, in the module docstring's order: remove ``ids`` from the
    MinHash-LSH index, rebuild the k-gram span index from the SURVIVING
    corpus, collect the superseded index generations (they still hold
    the doomed rows), and erase the bucketed corpus zone last.

    The k-gram index stores DISTINCT hashes with no per-document
    provenance (that anonymity is its size story — see
    ``dedup.build_kgram_index``), so per-document deletion is not
    expressible on it: a hash shared with a surviving document must
    stay, and nothing records the sharing. Erasure therefore REBUILDS it
    from the surviving corpus (an O(corpus tokens) pass — the inherent
    cost of erasing from a provenance-free fingerprint set), through the
    same versioned swap as any rebuild. The surviving corpus is computed
    by anti-join BEFORE the zone is touched, so the ordering contract
    (corpus zone LAST) still holds and a crash anywhere re-runs to
    completion.

    Returns per-surface removed-row counts (``kgram_rebuilt`` reports the
    surviving-document count fed to the rebuild) for the erasure audit."""

    def erase_indexes(doomed: DataFrame) -> dict[str, int]:
        out: dict[str, int] = {}
        if index_path is not None and index_has(spark, index_path, "sets"):
            out["lsh"] = dedup.delete_from_lsh_text_index(
                spark, index_path, doomed
            )
        if (
            kgram_index_path is not None
            and corpus_path is not None
            and index_has(spark, kgram_index_path, "hashes")
            and zone_exists(spark, corpus_path)
        ):
            k = (
                read_pinned(spark, f"{index_root(spark, kgram_index_path)}/meta")
                .collect()[0]
                .k
            )
            survivors = (
                read_pinned(spark, corpus_path)
                .join(doomed, "doc_id", "left_anti")
                .localCheckpoint(eager=True)  # rebuild target feeds on the zone
            )
            dedup.build_kgram_index(survivors, kgram_index_path, k=k)
            out["kgram_rebuilt"] = survivors.count()
        return out

    return _forget(
        spark, ids, id_col, "doc_id", corpus_path, [index_path, kgram_index_path],
        erase_indexes,
    )
