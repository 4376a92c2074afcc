"""Embedding-index incremental maintenance — the embedding twin of the
corpus-index append/compaction suite in test_streaming.py.

The text indexes (k-gram, MinHash-LSH) have had append + compaction since
round 4; these tests pin the same contract for the embedding side
(hyperplane-LSH index and IVF index): append == fresh-build probe identity,
idempotent re-appends, crash backfill between sub-table writes, drift
accounting for the retrain trigger, and compaction that rewrites files
without changing a single probe result.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators.similarity import (
    append_to_embedding_lsh_index,
    append_to_ivf_index,
    as_double,
    build_embedding_lsh_index,
    build_ivf_index,
    compact_embedding_indexes,
    embedding_neardup_against_index,
    ivf_index_drift,
    ivf_retrain_due,
    ivf_topk_indexed,
    nearest_cell,
)
from tests.conftest import _sub


def _probe_pairs(spark, new, idx, threshold=0.45):
    return {
        (r.new_id, r.corpus_id, round(r.sim, 9))
        for r in embedding_neardup_against_index(
            spark, new, idx, threshold=threshold
        ).collect()
    }


def test_embedding_lsh_append_equals_fresh_build(spark, sf_dir, tmp_path):
    """Probing (build corpus₀ then append batch) returns exactly what
    probing (fresh build of corpus₀ ∪ batch) returns — append maintains
    the index, not an approximation of it. Re-appending the same batch
    changes nothing (idempotency)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus0 = e.filter((F.col("vec_id") % 10).isin(0, 1, 2, 4, 5, 8, 9))
    batch = e.filter((F.col("vec_id") % 10).isin(6, 7))
    new = e.filter(F.col("vec_id") % 10 == 3)

    appended = str(tmp_path / "lsh_appended")
    build_embedding_lsh_index(corpus0, appended)
    append_to_embedding_lsh_index(batch, appended)

    fresh = str(tmp_path / "lsh_fresh")
    build_embedding_lsh_index(corpus0.unionByName(batch), fresh)

    assert _probe_pairs(spark, new, appended) == _probe_pairs(spark, new, fresh)

    # idempotency: a replayed append adds no rows to either sub-table
    nvec = spark.read.parquet(_sub(spark, appended, "vectors")).count()
    nband = spark.read.parquet(_sub(spark, appended, "bands")).count()
    append_to_embedding_lsh_index(batch, appended)
    assert spark.read.parquet(_sub(spark, appended, "vectors")).count() == nvec
    assert spark.read.parquet(_sub(spark, appended, "bands")).count() == nband


def test_ivf_append_assignment_identity_idempotency_and_drift(
    spark, sf_dir, tmp_path
):
    """Appending to an IVF index assigns new vectors to the FIXED build
    centroids (probe identity for everything already indexed), is
    idempotent under replay, and the drift report accounts for exactly the
    appended volume."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus0 = e.filter(F.col("vec_id") % 10 != 7)
    batch = e.filter(F.col("vec_id") % 10 == 7)
    idx = str(tmp_path / "ivf")
    build_ivf_index(corpus0, idx, n_cells=4, seed=42)

    before = {
        (r.neighbor_id, r.cell)
        for r in spark.read.parquet(_sub(spark, idx, "corpus"))
        .select("neighbor_id", "cell")
        .collect()
    }
    n = append_to_ivf_index(spark, batch, idx)
    assert n == batch.count()

    after = spark.read.parquet(_sub(spark, idx, "corpus")).select("neighbor_id", "cell")
    got = {(r.neighbor_id, r.cell) for r in after.collect()}
    # every pre-append assignment survives untouched
    assert before <= got
    # appended vectors sit exactly where the build centroids place them
    cents = [
        [float(x) for x in r.centroid]
        for r in sorted(
            spark.read.parquet(_sub(spark, idx, "centroids")).collect(),
            key=lambda r: r.cell,
        )
    ]
    expected_new = {
        (r.neighbor_id, r.cell)
        for r in batch.select(
            F.col("vec_id").alias("neighbor_id"),
            as_double(F.col("embedding")).alias("cv"),
        )
        .withColumn("cell", nearest_cell(F.col("cv"), cents))
        .select("neighbor_id", "cell")
        .collect()
    }
    assert got == before | expected_new

    # replayed append is a no-op
    assert append_to_ivf_index(spark, batch, idx) == 0
    assert spark.read.parquet(_sub(spark, idx, "corpus")).count() == len(got)

    # drift accounting: built_n == |corpus0|, appended_n == |batch|
    rows = ivf_index_drift(spark, idx).collect()
    assert sum(r.built_n for r in rows) == corpus0.count()
    assert sum(r.appended_n for r in rows) == batch.count()
    # ~10% growth: not retrain-worthy at defaults, retrain-worthy at a
    # deliberately tiny threshold
    assert not ivf_retrain_due(spark, idx)
    assert ivf_retrain_due(spark, idx, max_total_growth=1.01)


def test_compact_embedding_indexes_preserves_probe_results(
    spark, sf_dir, tmp_path
):
    """Compaction rewrites the append-fragmented sub-tables into few files
    without changing a single probe result — LSH pair-for-pair, IVF
    row-for-row."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus0 = e.filter(F.col("vec_id") % 10 != 7)
    batch = e.filter(F.col("vec_id") % 10 == 7)
    new = e.filter(F.col("vec_id") % 10 == 3)
    queries = e.filter(F.col("vec_id") < 10)

    lsh = str(tmp_path / "lsh")
    build_embedding_lsh_index(corpus0, lsh)
    append_to_embedding_lsh_index(batch, lsh)
    ivf = str(tmp_path / "ivf")
    build_ivf_index(corpus0, ivf, n_cells=4, seed=42)
    append_to_ivf_index(spark, batch, ivf)

    lsh_before = _probe_pairs(spark, new, lsh)
    ivf_before = {
        tuple(r)
        for r in ivf_topk_indexed(spark, queries, ivf, k=5, nprobe=2).collect()
    }

    written = compact_embedding_indexes(
        spark, lsh_index_path=lsh, ivf_index_path=ivf
    )
    assert set(written) == {"vectors", "bands", "ivf_corpus"}

    assert _probe_pairs(spark, new, lsh) == lsh_before
    ivf_after = {
        tuple(r)
        for r in ivf_topk_indexed(spark, queries, ivf, k=5, nprobe=2).collect()
    }
    assert ivf_after == ivf_before
    # drift stats survive compaction (counts unchanged, files rewritten)
    rows = ivf_index_drift(spark, ivf).collect()
    assert sum(r.current_n for r in rows) == corpus0.count() + batch.count()


def _vec(i: int, dim: int = 64) -> list[float]:
    v = [0.0] * dim
    v[i % dim] = 1.0
    return v


def _mix(i: int, j: int, w: float, dim: int = 64) -> list[float]:
    import math

    v = [0.0] * dim
    v[i % dim] = w
    v[j % dim] = math.sqrt(1.0 - w * w)
    return v


def test_incremental_embedding_ingest_rejects_cross_batch_neardups(
    spark, tmp_path
):
    """The embedding ingest loop (streaming twin of the text corpus loop):
    batch 1 bootstraps corpus + LSH index; batch 2's near-duplicate of an
    ACCEPTED vector is rejected while its novel vector appends; a lost
    checkpoint re-delivers everything and the corpus stays flat
    (idempotency via the per-target anti-joins)."""
    from aws_data_pipeline_spark.streaming.embeddings import (
        incremental_embedding_ingest,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")

    schema = "vec_id long, embedding array<float>"
    b1 = spark.createDataFrame(
        [(1, _vec(0)), (2, _vec(1))], schema
    )
    b1.write.parquet(str(inbox / "b1"))
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c1")
    )
    assert {r.vec_id for r in spark.read.parquet(corpus).collect()} == {1, 2}

    # batch 2: vec 3 ~ vec 1 (cosine ≈ 0.995 — cross-batch near-dup,
    # rejected), vec 4 orthogonal to everything (accepted), and vec 5 ~
    # vec 4 (IN-batch near-dup of an accepted vector — min-id survivor
    # keeps 4, drops 5)
    b2 = spark.createDataFrame(
        [(3, _mix(0, 7, 0.995)), (4, _vec(2)), (5, _mix(2, 9, 0.995))],
        schema,
    )
    b2.write.parquet(str(inbox / "b2"))
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c1")
    )
    assert {r.vec_id for r in spark.read.parquet(corpus).collect()} == {1, 2, 4}
    # index holds exactly the accepted vectors
    assert {
        r.id for r in spark.read.parquet(_sub(spark, index, "vectors")).collect()
    } == {1, 2, 4}

    # lost checkpoint: everything re-delivers; survivors self-match the
    # index and the corpus anti-join keeps the zone flat
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c2")
    )
    assert spark.read.parquet(corpus).count() == 3
    assert spark.read.parquet(_sub(spark, index, "vectors")).count() == 3


def test_incremental_embedding_ingest_maintains_ivf(spark, tmp_path):
    """IVF upkeep inside the ingest loop: enabling ivf_index_path on an
    already-populated corpus bootstraps from the FULL corpus zone (not
    the batch), later batches append to the fixed centroids, and the IVF
    corpus always holds exactly the accepted vector set."""
    from aws_data_pipeline_spark.streaming.embeddings import (
        incremental_embedding_ingest,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ivf = str(tmp_path / "ivf")

    schema = "vec_id long, embedding array<float>"
    # batches 1+2 ingested BEFORE IVF exists
    spark.createDataFrame(
        [(i, _vec(i)) for i in range(8)], schema
    ).write.parquet(str(inbox / "b1"))
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c")
    )
    # first run WITH ivf enabled: bootstrap covers vectors 0-7 too
    spark.createDataFrame(
        [(10, _vec(10)), (11, _vec(11))], schema
    ).write.parquet(str(inbox / "b2"))
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        ivf_index_path=ivf, ivf_cells=4,
    )
    got = {
        r.neighbor_id for r in spark.read.parquet(_sub(spark, ivf, "corpus")).collect()
    }
    assert got == set(range(8)) | {10, 11}

    # a further batch appends to the existing centroids
    spark.createDataFrame([(20, _vec(20))], schema).write.parquet(
        str(inbox / "b3")
    )
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        ivf_index_path=ivf, ivf_cells=4,
    )
    got = {
        r.neighbor_id for r in spark.read.parquet(_sub(spark, ivf, "corpus")).collect()
    }
    assert got == set(range(8)) | {10, 11, 20}
    from aws_data_pipeline_spark.operators.similarity import ivf_index_drift

    rows = ivf_index_drift(spark, ivf).collect()
    assert sum(r.current_n for r in rows) == 11
    assert sum(r.appended_n for r in rows) == 1  # only vec 20 post-build


def test_ivf_train_tiny_regime_contract(spark):
    """The tiny regime is deterministic: a corpus with fewer distinct
    vectors than ``n_cells`` gets one centroid per distinct vector, a
    healthy one gets ``n_cells``, and an empty one raises."""
    import pytest

    from aws_data_pipeline_spark.operators.similarity import (
        train_ivf_centroids,
    )

    schema = "vec_id long, embedding array<float>"
    tiny = spark.createDataFrame([(i, _vec(i)) for i in range(3)], schema)
    assert sorted(train_ivf_centroids(tiny, n_cells=4)) == sorted(
        _vec(i) for i in range(3)
    )
    dup = spark.createDataFrame([(i, _vec(i % 2)) for i in range(6)], schema)
    assert sorted(train_ivf_centroids(dup, n_cells=4)) == [_vec(1), _vec(0)]
    ok = spark.createDataFrame([(i, _vec(i)) for i in range(20)], schema)
    assert len(train_ivf_centroids(ok, n_cells=4)) == 4
    with pytest.raises(ValueError, match="empty corpus"):
        train_ivf_centroids(ok.limit(0), n_cells=4)


def test_ivf_train_sample_cap(spark, sf_dir, monkeypatch):
    """The IVF training sample is capped at 256 vectors per cell (the
    FAISS rule) and by the driver byte budget; the content-hash thinning
    keeps the same vectors for any partition layout."""
    from aws_data_pipeline_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")  # 500 × 64
    samples = []
    real = S._train_sample

    def spy(*args):
        samples.append(real(*args))
        return samples[-1]

    monkeypatch.setattr(S, "_train_sample", spy)
    S.train_ivf_centroids(e, n_cells=2)  # cap 512: every vector
    assert samples[-1].shape == (500, 64)
    S.train_ivf_centroids(e, n_cells=1)  # cap 256: thinned to ~256
    assert 180 < len(samples[-1]) < 330
    S.train_ivf_centroids(e.repartition(7), n_cells=1)
    assert samples[-1].tobytes() == samples[-2].tobytes()
    monkeypatch.setattr(S, "_TRAIN_BYTES", 100 * 8 * 64)  # 100 vectors
    S.train_ivf_centroids(e, n_cells=2)
    assert 50 < len(samples[-1]) < 150


def test_ivf_retrain_resets_drift_and_keeps_exactness(spark, sf_dir, tmp_path):
    """Retraining rebuilds the quantizer from the index's own vectors:
    every indexed vector survives, the drift baseline resets (retrain_due
    goes False again), the cell count scales with realized growth, and a
    full probe (nprobe = n_cells) stays exactly equal to brute force —
    the invariant centroid placement cannot break."""
    from aws_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        retrain_ivf_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus0 = e.filter(F.col("vec_id") % 3 != 0)
    batch = e.filter(F.col("vec_id") % 3 == 0)  # ~50% growth
    idx = str(tmp_path / "ivf")
    build_ivf_index(corpus0, idx, n_cells=4, seed=42)
    append_to_ivf_index(spark, batch, idx)
    assert ivf_retrain_due(spark, idx, max_total_growth=1.2)

    ids_before = {
        r.neighbor_id
        for r in spark.read.parquet(_sub(spark, idx, "corpus"))
        .select("neighbor_id")
        .collect()
    }
    stats = retrain_ivf_index(spark, idx)
    assert stats["n_vectors"] == len(ids_before)
    # default n_cells scales with realized growth: ceil(4 * current/built)
    assert stats["n_cells"] == -(-4 * len(ids_before) // corpus0.count())
    assert spark.read.parquet(_sub(spark, idx, "centroids")).count() == stats["n_cells"]

    # every vector survives the rebuild, none invented
    ids_after = {
        r.neighbor_id
        for r in spark.read.parquet(_sub(spark, idx, "corpus"))
        .select("neighbor_id")
        .collect()
    }
    assert ids_after == ids_before

    # drift baseline reset: the rebuild IS the new build
    rows = ivf_index_drift(spark, idx).collect()
    assert all(r.built_n == r.current_n and r.appended_n == 0 for r in rows)
    assert not ivf_retrain_due(spark, idx, max_total_growth=1.01)

    # full probe == exact search, independent of where the centroids moved
    queries = e.filter(F.col("vec_id") % 97 == 1)
    full_corpus = spark.read.parquet(_sub(spark, idx, "corpus")).select(
        F.col("neighbor_id").alias("vec_id"), F.col("cv").alias("embedding")
    )
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_topk_indexed(
            spark, queries, idx, k=3, nprobe=stats["n_cells"]
        ).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in brute_force_topk(queries, full_corpus, k=3).collect()
    }
    assert got == want


def test_ingest_post_run_ivf_retrain_trigger(spark, tmp_path):
    """ivf_retrain=True makes the ingest loop consult ivf_retrain_due
    after the availableNow run drains and rebuild the quantizer when
    growth warrants it — default thresholds, so a small append leaves the
    index alone and a >1.5x growth run retrains (drift baseline resets,
    every accepted vector survives the rebuild)."""
    from aws_data_pipeline_spark.streaming.embeddings import (
        incremental_embedding_ingest,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ivf = str(tmp_path / "ivf")
    schema = "vec_id long, embedding array<float>"

    spark.createDataFrame(
        [(i, _vec(i)) for i in range(10)], schema
    ).write.parquet(str(inbox / "b1"))
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        ivf_index_path=ivf, ivf_cells=4, ivf_retrain=True,
    )

    # small append (+1 vector, 1.1x): retrain_due is False — untouched
    spark.createDataFrame([(20, _vec(20))], schema).write.parquet(
        str(inbox / "b2")
    )
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        ivf_index_path=ivf, ivf_cells=4, ivf_retrain=True,
    )
    rows = ivf_index_drift(spark, ivf).collect()
    assert sum(r.appended_n for r in rows) == 1

    # big append (+12 vectors, >1.5x total growth): post-run retrain fires
    spark.createDataFrame(
        [(30 + i, _vec(30 + i)) for i in range(12)], schema
    ).write.parquet(str(inbox / "b3"))
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        ivf_index_path=ivf, ivf_cells=4, ivf_retrain=True,
    )
    rows = ivf_index_drift(spark, ivf).collect()
    assert all(r.built_n == r.current_n and r.appended_n == 0 for r in rows)
    assert sum(r.current_n for r in rows) == 23
    got = {
        r.neighbor_id
        for r in spark.read.parquet(_sub(spark, ivf, "corpus")).collect()
    }
    assert got == set(range(10)) | {20} | {30 + i for i in range(12)}


def test_pq_index_build_probe_append_retrain(spark, sf_dir, tmp_path):
    """Full PQ index lifecycle: persisted probe == resident pq_topk under
    the same codebooks; append is idempotent and makes new vectors
    findable; retrain-due fires on growth and retrain resets it."""
    from aws_data_pipeline_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 5 != 0)
    extra = e.filter(F.col("vec_id") % 5 == 0)
    idx = str(tmp_path / "pq_idx")
    S.build_pq_index(base, idx, m=8, ks=16, seed=42)

    q = e.filter(F.col("vec_id") < 10)
    books = S.read_pq_codebooks(spark, idx)
    resident = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.pq_topk(q, base, books, k=5, rerank=40).collect()
    }
    indexed = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.pq_topk_indexed(spark, q, idx, k=5, rerank=40).collect()
    }
    assert indexed == resident  # persisted == resident by construction

    # append: idempotent, and appended vectors become findable
    S.append_to_pq_index(extra, idx)
    n_codes = spark.read.parquet(_sub(spark, idx, "codes")).count()
    S.append_to_pq_index(extra, idx)  # re-delivery is a no-op
    assert spark.read.parquet(_sub(spark, idx, "codes")).count() == n_codes
    assert n_codes == e.count()
    vectors = spark.read.parquet(_sub(spark, idx, "vectors"))
    ids = {r.id for r in vectors.select("id").collect()}
    assert {r.vec_id for r in extra.select("vec_id").collect()} <= ids

    # post-append probe can return appended vectors (and stays well-formed)
    post = S.pq_topk_indexed(spark, q, idx, k=5, rerank=40).collect()
    assert all(1 <= r.rank <= 5 for r in post)

    # retrain-due: 400 built, 500 now -> not due at 2.0, due at 1.2
    assert not S.pq_retrain_due(spark, idx, growth_factor=2.0)
    assert S.pq_retrain_due(spark, idx, growth_factor=1.2)
    out = S.retrain_pq_index(spark, idx)
    assert out["n_vectors"] == e.count()
    assert not S.pq_retrain_due(spark, idx, growth_factor=1.2)
    # retrained meta records the grown corpus as the new baseline
    meta = spark.read.parquet(_sub(spark, idx, "meta")).collect()[0]
    assert meta.n_built == e.count()


def test_pq_train_tolerates_ragged_vectors(spark):
    """A wrong-length vector in the training corpus must not crash the
    codebook fit (it would otherwise collect as an object ndarray): train
    on the modal length, and the encoder skips the ragged row."""
    from aws_data_pipeline_spark.operators import similarity as S

    rows = [(i, [float(j) for j in range(64)]) for i in range(50)]
    rows.append((99, [1.0, 2.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = S.train_pq_codebooks(df, m=8, ks=4, seed=1)
    assert len(books) == 8 and all(len(b) == 4 for b in books)
    assert {r.id for r in S.pq_encode(df, books).collect()} == set(range(50))


def test_incremental_embedding_ingest_maintains_pq(spark, tmp_path):
    """PQ upkeep inside the ingest loop: enabling pq_index_path on an
    already-populated corpus bootstraps from the FULL corpus zone, later
    batches encode under the STORED codebooks (codes table == accepted
    vector set), and post-run retrain fires only when growth warrants."""
    from aws_data_pipeline_spark.operators import similarity as S
    from aws_data_pipeline_spark.streaming.embeddings import (
        incremental_embedding_ingest,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    pq = str(tmp_path / "pq")

    schema = "vec_id long, embedding array<float>"
    spark.createDataFrame(
        [(i, _vec(i)) for i in range(8)], schema
    ).write.parquet(str(inbox / "b1"))
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c")
    )
    # first run WITH pq enabled: bootstrap indexes vectors 0-7 too
    spark.createDataFrame(
        [(10, _vec(10)), (11, _vec(11))], schema
    ).write.parquet(str(inbox / "b2"))
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        pq_index_path=pq,
    )
    books = S.read_pq_codebooks(spark, pq)
    got = {r.id for r in spark.read.parquet(_sub(spark, pq, "codes")).collect()}
    assert got == set(range(8)) | {10, 11}

    # a further batch appends codes under the SAME stored codebooks
    spark.createDataFrame([(20, _vec(20))], schema).write.parquet(
        str(inbox / "b3")
    )
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        pq_index_path=pq, pq_retrain=True,
    )
    assert S.read_pq_codebooks(spark, pq) == books  # growth < 2x: no retrain
    got = {r.id for r in spark.read.parquet(_sub(spark, pq, "codes")).collect()}
    assert got == set(range(8)) | {10, 11, 20}
    # probe over the stream-maintained index stays well-formed
    q = spark.createDataFrame([(10, _vec(10))], schema)
    out = S.pq_topk_indexed(spark, q, pq, k=3, rerank=10).collect()
    assert out and all(1 <= r.rank <= 3 for r in out)


def test_pq_composes_with_ivf_cell_probe(spark, sf_dir, tmp_path):
    """The documented IVF-PQ composition: restrict the ADC scan to codes of
    vectors in the query's probed IVF cells (the FAISS IVF-PQ layout).
    Results stay well-formed and every neighbor comes from a probed cell."""
    from aws_data_pipeline_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    cents = S.train_ivf_centroids(e, n_cells=8)
    assigned = e.selectExpr(
        "vec_id as neighbor_id", "cast(embedding as array<double>) as cv"
    ).withColumn("cell", S.nearest_cell(F.col("cv"), cents))

    books = S.train_pq_codebooks(e, m=8, ks=16, seed=42)
    codes = S.pq_encode(e, books)

    # probe cells per query (nprobe=4), restrict codes to those vectors
    probed_ids = set()
    import numpy as np

    c = np.asarray(cents)
    for r in q.collect():
        v = np.asarray(r.embedding, dtype="float64")
        sims = (c @ v) / (np.linalg.norm(c, axis=1) * np.linalg.norm(v))
        cells = set(np.argsort(-sims)[:4].tolist())
        probed_ids |= {
            a.neighbor_id for a in assigned.collect() if a.cell in cells
        }
    cell_codes = codes.filter(F.col("id").isin(list(probed_ids)))
    out = S.pq_topk(q, e, books, k=5, corpus_codes=cell_codes, rerank=20).collect()
    assert out and all(1 <= r.rank <= 5 for r in out)
    assert {r.neighbor_id for r in out} <= probed_ids


def test_compact_pq_index_preserves_probe_results(spark, sf_dir, tmp_path):
    """PQ joins the compaction contract: after append-fragmentation and a
    compact, probe rows are identical and the file count shrinks."""
    import glob

    from aws_data_pipeline_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "pqc")
    S.build_pq_index(e.filter(F.col("vec_id") % 4 != 0), idx, m=8, ks=16)
    for m in range(2):  # two appends -> extra small files per sub-table
        S.append_to_pq_index(
            e.filter(F.col("vec_id") % 4 == 0).filter(
                (F.col("vec_id") % 2 == m)
            ),
            idx,
        )
    q = e.filter(F.col("vec_id") < 8)
    before = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.pq_topk_indexed(spark, q, idx, k=5, rerank=30).collect()
    }
    files_before = len(glob.glob(f"{_sub(spark, idx, 'codes')}/*.parquet"))
    written = S.compact_embedding_indexes(spark, pq_index_path=idx)
    assert set(written) == {"pq_codes", "pq_vectors"}
    after = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.pq_topk_indexed(spark, q, idx, k=5, rerank=30).collect()
    }
    assert after == before  # compaction rewrites rows, never re-codes
    assert len(glob.glob(f"{_sub(spark, idx, 'codes')}/*.parquet")) <= files_before


def test_index_version_swap_serves_old_until_commit(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The atomic-swap contract itself: an UNCOMMITTED candidate version
    (exactly the state a crash mid-retrain leaves behind) is invisible —
    probes keep returning the old index's rows — and the single
    marker-file commit flips every read path to the new version at once.
    No truncation window exists in which a probe could see half-written
    state or new codes under old codebooks."""
    import pytest

    from aws_data_pipeline_spark.operators import similarity as S
    from aws_data_pipeline_spark.sources import parquet
    from aws_data_pipeline_spark.sources.parquet import (
        commit_index_version,
        index_active_version,
        index_root,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    even = e.filter(F.col("vec_id") % 2 == 0)
    odd = e.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "pq_swap")
    S.build_pq_index(even, idx, m=8, ks=16)
    q = e.filter(F.col("vec_id") < 6)  # mixed-parity query batch

    def probe():
        return {
            (r.query_id, r.neighbor_id, r.rank)
            for r in S.pq_topk_indexed(spark, q, idx, k=3, rerank=20).collect()
        }

    before = probe()
    assert before and all(n % 2 == 0 for _, n, _ in before)

    # mid-rebuild state: a full candidate version exists but no commit
    # marker (a rebuild that died at the commit) — every probe still
    # serves the old build
    def crash(*_a):
        raise RuntimeError("crash at commit")

    with monkeypatch.context() as m:
        m.setattr(parquet, "commit_index_version", crash)
        with pytest.raises(RuntimeError, match="crash at commit"):
            S.build_pq_index(odd, idx, m=8, ks=16)
    assert index_active_version(spark, idx) == 1
    assert probe() == before

    # the flip is ONE marker-file create; afterwards every read path —
    # probe, codebooks, retrain-due accounting — resolves the new version
    commit_index_version(spark, idx, 2)
    assert index_root(spark, idx) == f"{idx}/v2"
    after = probe()
    assert after and all(n % 2 == 1 for _, n, _ in after)


def test_retrain_versions_index_and_cleans_superseded(spark, sf_dir, tmp_path):
    """Retrains commit monotonically increasing versions and KEEP the
    immediately-superseded generation for in-flight readers (a probe that
    resolved the old root pre-flip still holds lazy scans over its
    files); only data two or more flips behind is deleted at commit, and
    gc_index_versions collects the kept generation in quiet periods.
    Old-until-flip is pinned separately in
    test_index_version_swap_serves_old_until_commit."""
    from aws_data_pipeline_spark.operators import similarity as S
    from aws_data_pipeline_spark.sources.parquet import (
        gc_index_versions,
        index_active_version,
        zone_exists,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "pq_vers")
    S.build_pq_index(e.filter(F.col("vec_id") % 3 != 0), idx, m=8, ks=16)
    S.append_to_pq_index(e.filter(F.col("vec_id") % 3 == 0), idx)
    n_all = e.count()

    assert index_active_version(spark, idx) == 1
    out = S.retrain_pq_index(spark, idx)
    assert out["n_vectors"] == n_all
    assert index_active_version(spark, idx) == 2
    # the build's v1 is the KEPT previous generation
    for sub in ("vectors", "codes", "codebooks", "meta"):
        assert zone_exists(spark, f"{idx}/v1/{sub}")

    S.retrain_pq_index(spark, idx)
    assert index_active_version(spark, idx) == 3
    # now v1 is two flips behind -> cleaned at commit; v2 is the kept
    # previous generation
    assert not zone_exists(spark, f"{idx}/v1")
    assert zone_exists(spark, f"{idx}/v2")
    q = e.filter(F.col("vec_id") < 5)
    rows = S.pq_topk_indexed(spark, q, idx, k=3, rerank=10).collect()
    assert rows and all(1 <= r.rank <= 3 for r in rows)
    # every vector still present under v3
    assert spark.read.parquet(_sub(spark, idx, "codes")).count() == n_all
    # owner-scheduled GC removes the kept generation, probe unchanged
    assert gc_index_versions(spark, idx) == [2]
    assert not zone_exists(spark, f"{idx}/v2")
    rows2 = S.pq_topk_indexed(spark, q, idx, k=3, rerank=10).collect()
    assert {(r.query_id, r.neighbor_id, r.rank) for r in rows2} == {
        (r.query_id, r.neighbor_id, r.rank) for r in rows
    }


def test_sq8_index_build_probe_append_retrain_growth_and_drift(
    spark, sf_dir, tmp_path
):
    """Full SQ8 index lifecycle (the PQ contract, fourth family):
    persisted probe == resident sq8_topk under the same stats; append is
    idempotent and makes new vectors findable; retrain-due fires on
    growth AND on per-dim range drift (the SQ8-specific signal: appended
    vectors saturating the stored quantizer range); retrain resets
    both."""
    from aws_data_pipeline_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 5 != 0)
    extra = e.filter(F.col("vec_id") % 5 == 0)
    idx = str(tmp_path / "sq8_idx")
    S.build_sq8_index(base, idx)

    q = e.filter(F.col("vec_id") < 10)
    mins, scales = S.read_sq8_stats(spark, idx)
    resident = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.sq8_topk(
            q, base, k=5, mins=mins, scales=scales, rerank=40
        ).collect()
    }
    indexed = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.sq8_topk_indexed(spark, q, idx, k=5, rerank=40).collect()
    }
    assert indexed == resident  # persisted == resident by construction

    # append: idempotent, and appended vectors become findable
    S.append_to_sq8_index(extra, idx)
    n_codes = spark.read.parquet(_sub(spark, idx, "codes")).count()
    S.append_to_sq8_index(extra, idx)  # re-delivery is a no-op
    assert spark.read.parquet(_sub(spark, idx, "codes")).count() == n_codes
    assert n_codes == e.count()
    assert S.read_sq8_stats(spark, idx) == (mins, scales)  # stats fixed

    # same-distribution appends: growth triggers; tail extension (the
    # measured ~0.19 holdout overshoot) stays under the drift default
    assert not S.sq8_retrain_due(
        spark, idx, growth_factor=2.0, max_range_drift=0.5
    )
    assert S.sq8_retrain_due(spark, idx, growth_factor=1.2)

    # drift trigger: an out-of-range append saturates and trips the
    # range-drift probe even without growth
    dim = len(mins)
    wild = spark.createDataFrame(
        [(999999, [float(mins[d] - 200.0 * max(scales[d], 1e-3)) for d in range(dim)])],
        "vec_id long, embedding array<double>",
    )
    S.append_to_sq8_index(wild, idx)
    codes999 = {
        tuple(r.codes)
        for r in spark.read.parquet(_sub(spark, idx, "codes"))
        .filter("id = 999999")
        .collect()
    }
    assert codes999 == {tuple([0] * dim)}  # fully saturated low
    drift = S.sq8_range_drift(spark, idx).agg(F.max("drift")).collect()[0][0]
    assert drift > 0.5  # ~0.78: a genuine range break, not tail extension
    assert S.sq8_retrain_due(spark, idx, growth_factor=100.0)  # drift alone

    # retrain refits ranges on the index's own vectors and resets both
    out = S.retrain_sq8_index(spark, idx)
    assert out["n_vectors"] == e.count() + 1
    assert not S.sq8_retrain_due(spark, idx, growth_factor=1.2)
    m2, s2 = S.read_sq8_stats(spark, idx)
    assert (m2, s2) != (mins, scales)  # ranges absorbed the wild vector
    meta = spark.read.parquet(_sub(spark, idx, "meta")).collect()[0]
    assert meta.n_built == e.count() + 1


def test_incremental_embedding_ingest_maintains_sq8(spark, tmp_path):
    """SQ8 upkeep inside the ingest loop: enabling sq8_index_path on an
    already-populated corpus bootstraps from the FULL corpus zone, later
    batches encode under the STORED stats, and the post-run retrain
    fires only when growth/drift warrants."""
    from aws_data_pipeline_spark.operators import similarity as S
    from aws_data_pipeline_spark.streaming.embeddings import (
        incremental_embedding_ingest,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    sq8 = str(tmp_path / "sq8")

    schema = "vec_id long, embedding array<float>"
    spark.createDataFrame(
        [(i, _vec(i)) for i in range(8)], schema
    ).write.parquet(str(inbox / "b1"))
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c")
    )
    # first run WITH sq8 enabled: bootstrap indexes vectors 0-7 too
    spark.createDataFrame(
        [(10, _vec(10)), (11, _vec(11))], schema
    ).write.parquet(str(inbox / "b2"))
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        sq8_index_path=sq8,
    )
    stats = S.read_sq8_stats(spark, sq8)
    got = {r.id for r in spark.read.parquet(_sub(spark, sq8, "codes")).collect()}
    assert got == set(range(8)) | {10, 11}

    # a further batch appends codes under the SAME stored stats
    spark.createDataFrame([(20, _vec(20))], schema).write.parquet(
        str(inbox / "b3")
    )
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        sq8_index_path=sq8, sq8_retrain=False,
    )
    assert S.read_sq8_stats(spark, sq8) == stats
    got = {r.id for r in spark.read.parquet(_sub(spark, sq8, "codes")).collect()}
    assert got == set(range(8)) | {10, 11, 20}
    q = spark.createDataFrame([(10, _vec(10))], schema)
    out = S.sq8_topk_indexed(spark, q, sq8, k=3, rerank=10).collect()
    assert out and all(1 <= r.rank <= 3 for r in out)


def test_compact_sq8_index_preserves_probe_results(spark, sf_dir, tmp_path):
    """SQ8 joins the compaction contract: after append-fragmentation and
    a compact, probe rows are identical and the file count shrinks."""
    import glob

    from aws_data_pipeline_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "sq8c")
    S.build_sq8_index(e.filter(F.col("vec_id") % 4 != 0), idx)
    for m in range(2):
        S.append_to_sq8_index(
            e.filter(F.col("vec_id") % 4 == 0).filter(
                (F.col("vec_id") % 2 == m)
            ),
            idx,
        )
    q = e.filter(F.col("vec_id") < 8)
    before = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.sq8_topk_indexed(spark, q, idx, k=5, rerank=30).collect()
    }
    files_before = len(glob.glob(f"{_sub(spark, idx, 'codes')}/*.parquet"))
    written = S.compact_embedding_indexes(spark, sq8_index_path=idx)
    assert set(written) == {"sq8_codes", "sq8_vectors"}
    after = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.sq8_topk_indexed(spark, q, idx, k=5, rerank=30).collect()
    }
    assert after == before
    assert len(glob.glob(f"{_sub(spark, idx, 'codes')}/*.parquet")) <= files_before


def test_compaction_due_and_version_gc(spark, sf_dir, tmp_path):
    """The maintenance-cadence probes: index_compaction_due fires once
    appends fragment a sub-table past the file budget (and not before),
    and gc_index_versions removes exactly the non-active version
    directories a crash can strand, leaving probes untouched."""
    from aws_data_pipeline_spark.operators import similarity as S
    from aws_data_pipeline_spark.sources.parquet import (
        gc_index_versions,
        index_active_version,
        index_compaction_due,
        index_root,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "sq8gc")
    S.build_sq8_index(e.filter(F.col("vec_id") % 4 != 0), idx)
    for m in range(2):
        S.append_to_sq8_index(
            e.filter(F.col("vec_id") % 4 == 0).filter(
                (F.col("vec_id") % 2 == m)
            ),
            idx,
        )
    subs = ("vectors", "codes")
    # fragmented by two appends, but still under a generous budget
    assert not index_compaction_due(spark, idx, subs, max_files=256)
    # a tiny budget fires — the signal the owner schedules compaction on
    assert index_compaction_due(spark, idx, subs, max_files=2)

    # retrain twice: two versioned swaps; finish_index_build cleans the
    # superseded data, so fabricate a crash orphan (an uncommitted
    # candidate directory) plus verify gc keeps only the active version
    S.retrain_sq8_index(spark, idx)
    S.retrain_sq8_index(spark, idx)
    active = index_active_version(spark, idx)
    q = e.filter(F.col("vec_id") < 8)
    before = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.sq8_topk_indexed(spark, q, idx, k=5, rerank=30).collect()
    }
    orphan = f"{idx}/v{active + 5}"  # abandoned candidate, never committed
    spark.createDataFrame([(1,)], "x int").write.parquet(f"{orphan}/codes")
    removed = gc_index_versions(spark, idx)
    assert active + 5 in removed
    assert index_active_version(spark, idx) == active
    assert index_root(spark, idx).endswith(f"v{active}")
    after = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.sq8_topk_indexed(spark, q, idx, k=5, rerank=30).collect()
    }
    assert after == before
    assert gc_index_versions(spark, idx) == []  # idempotent


def test_sq8_constant_dim_drift_is_not_silent(spark, tmp_path):
    """A dimension CONSTANT at build time has span 0 — any departure from
    the stored point is unbounded reconstruction error, so the drift
    probe must report it (as infinite drift), not clamp to 0 and let
    sq8_retrain_due sleep through it."""
    import math

    from aws_data_pipeline_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(i, [float(i), 7.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "sq8const")
    S.build_sq8_index(df, idx)
    # in-range append: no drift anywhere
    S.append_to_sq8_index(
        spark.createDataFrame(
            [(100, [3.5, 7.0])], "vec_id long, embedding array<double>"
        ),
        idx,
    )
    assert not S.sq8_retrain_due(spark, idx, growth_factor=10.0)
    # the constant dim moves: infinite drift, retrain due on drift alone
    S.append_to_sq8_index(
        spark.createDataFrame(
            [(101, [3.5, 150.0])], "vec_id long, embedding array<double>"
        ),
        idx,
    )
    worst = (
        S.sq8_range_drift(spark, idx).agg(F.max("drift")).collect()[0][0]
    )
    assert math.isinf(worst)
    assert S.sq8_retrain_due(spark, idx, growth_factor=10.0)


def test_ivfpq_indexed_composition(spark, sf_dir, tmp_path):
    """The first-class IVF-PQ probe over the two persisted indexes:
    per-query candidate restriction (every neighbor lies in THAT query's
    nprobe cells, pinned against a numpy centroid model), a recall floor
    on the hardest-case near-random corpus, and the exact re-rank never
    degrades the ADC-only ranking."""
    import numpy as np

    from aws_data_pipeline_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ivf = str(tmp_path / "ivf")
    pq = str(tmp_path / "pq")
    S.build_ivf_index(e, ivf, n_cells=8, seed=42)
    S.build_pq_index(e, pq, m=8, ks=16, seed=42)
    q = e.filter(F.col("vec_id") < 10)

    out = S.ivfpq_topk_indexed(
        spark, q, ivf, pq, k=5, nprobe=4, rerank=40
    ).collect()
    assert len(out) == 50 and all(1 <= r.rank <= 5 for r in out)

    # per-query containment: neighbor's cell (numpy model of the stored
    # centroids) must be among the query's top-nprobe cells
    cents = np.asarray(
        [
            r.centroid
            for r in sorted(
                spark.read.parquet(_sub(spark, ivf, "centroids")).collect(),
                key=lambda r: r.cell,
            )
        ]
    )
    vecs = {r.vec_id: np.asarray(r.embedding, dtype="float64") for r in e.collect()}
    cn = np.linalg.norm(cents, axis=1)

    def probed_cells(v):
        sims = (cents @ v) / (cn * np.linalg.norm(v))
        order = np.lexsort((np.arange(len(sims)), -sims))
        return set(order[:4].tolist())

    def cell_of(v):
        d = ((cents - v) ** 2).sum(axis=1)
        return int(np.argmin(d))

    for r in out:
        assert cell_of(vecs[r.neighbor_id]) in probed_cells(vecs[r.query_id]), r

    brute = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(q, e, k=5).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in out}
    adc_only = {
        (r.query_id, r.neighbor_id)
        for r in S.ivfpq_topk_indexed(
            spark, q, ivf, pq, k=5, nprobe=4, rerank=None
        ).collect()
    }
    assert len(got & brute) / len(brute) >= 0.3  # measured 0.56
    assert len(got & brute) >= len(adc_only & brute)  # re-rank refines


def test_ivfpq_cell_codes_layout(spark, sf_dir, tmp_path):
    """The materialized inverted-list-with-codes layout: probe through it
    is ROW-IDENTICAL to the two-index path, its codes scan carries
    PartitionFilters on the probed cells only, a superseded source index
    makes the probe fail loudly until rebuild, and the currency check
    tracks all of it."""
    from aws_data_pipeline_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ivf = str(tmp_path / "ivf")
    pq = str(tmp_path / "pq")
    cc = str(tmp_path / "ivfpq_codes")
    S.build_ivf_index(e, ivf, n_cells=8, seed=42)
    S.build_pq_index(e, pq, m=8, ks=16, seed=42)
    # the refresh verb: a no-op while a source is unbuilt, a build while
    # the layout is absent or stale, a no-op once it is current
    assert not S.refresh_ivf_cell_codes(spark, cc, str(tmp_path / "unbuilt"), pq)
    assert not S.ivfpq_cell_codes_current(spark, cc, ivf, pq)
    assert S.refresh_ivf_cell_codes(spark, cc, ivf, pq)
    assert S.ivfpq_cell_codes_current(spark, cc, ivf, pq)
    assert not S.refresh_ivf_cell_codes(spark, cc, ivf, pq)

    q = e.filter(F.col("vec_id") < 10)
    via_cc = S.ivfpq_topk_indexed(
        spark, q, ivf, pq, k=5, nprobe=4, rerank=40, cell_codes_path=cc
    )
    base = S.ivfpq_topk_indexed(spark, q, ivf, pq, k=5, nprobe=4, rerank=40)
    assert sorted(map(tuple, via_cc.collect())) == sorted(map(tuple, base.collect()))

    # the codes scan reads the cell-partitioned layout (id+codes+cell —
    # the plain PQ codes table has no cell column) pruned by a static
    # PartitionFilters IN list that is EXACTLY the probed cells: one
    # query at nprobe=2 of 8 probes a strict subset, and the scan must
    # list those cells and no other
    import re

    one = q.filter(F.col("vec_id") == 3)
    _, probed_cells, _ = S._probe_cells(
        spark, S._id_vec(one, "vec_id", "embedding"), S.index_root(spark, ivf), 2
    )
    assert len(probed_cells) == 2
    narrow = S.ivfpq_topk_indexed(
        spark, one, ivf, pq, k=5, nprobe=2, rerank=40, cell_codes_path=cc
    )
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    cc_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan" in ln and "codes#" in ln and "cell#" in ln
    ]
    assert cc_scans, plan
    for ln in cc_scans:
        m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([^)]*)\)", ln)
        assert m, ln
        assert sorted(int(c) for c in m.group(1).split(",")) == probed_cells, ln

    # APPEND to a source index: no version flip, but the stored source
    # counts catch it — currency drops, the probe fails loudly (the
    # silent-missing-vectors hole a root-only check would leave)
    import pytest

    extra = spark.createDataFrame(
        [(90001, [0.25] * 64), (90002, [0.75] * 64)],
        "vec_id long, embedding array<float>",
    )
    S.append_to_pq_index(extra, pq)
    S.append_to_ivf_index(spark, extra, ivf)
    assert not S.ivfpq_cell_codes_current(spark, cc, ivf, pq)
    with pytest.raises(ValueError, match="append"):
        S.ivfpq_topk_indexed(
            spark, q, ivf, pq, k=5, nprobe=4, rerank=40, cell_codes_path=cc
        ).collect()
    assert S.refresh_ivf_cell_codes(spark, cc, ivf, pq)
    assert S.ivfpq_cell_codes_current(spark, cc, ivf, pq)
    appended_view = S.ivfpq_topk_indexed(
        spark, q, ivf, pq, k=5, nprobe=4, rerank=40, cell_codes_path=cc
    ).collect()
    assert sorted(map(tuple, appended_view)) == sorted(
        map(
            tuple,
            S.ivfpq_topk_indexed(spark, q, ivf, pq, k=5, nprobe=4, rerank=40).collect(),
        )
    )

    # supersede one source index by RETRAIN (root flip): probe through the
    # stale layout fails loudly, rebuild restores identity
    S.retrain_ivf_index(spark, ivf)
    assert not S.ivfpq_cell_codes_current(spark, cc, ivf, pq)
    with pytest.raises(ValueError, match="STALE"):
        S.ivfpq_topk_indexed(
            spark, q, ivf, pq, k=5, nprobe=4, rerank=40, cell_codes_path=cc
        ).collect()
    S.build_ivfpq_cell_codes(spark, ivf, pq, cc)
    assert S.ivfpq_cell_codes_current(spark, cc, ivf, pq)
    after = S.ivfpq_topk_indexed(
        spark, q, ivf, pq, k=5, nprobe=4, rerank=40, cell_codes_path=cc
    ).collect()
    base_after = S.ivfpq_topk_indexed(
        spark, q, ivf, pq, k=5, nprobe=4, rerank=40
    ).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, base_after))


def test_ivfpq_cell_codes_uncommitted_layout_reads_absent(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A layout build that dies at its commit leaves no layout: the
    currency check reports not-current (the owner's rebuild trigger),
    the probe finds no layout instead of a half-built one, and a rebuild
    restores service."""
    import pytest
    from pyspark.errors import AnalysisException

    from aws_data_pipeline_spark.operators import similarity as S
    from aws_data_pipeline_spark.sources import parquet

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ivf = str(tmp_path / "ivf")
    pq = str(tmp_path / "pq")
    cc = str(tmp_path / "cc")
    S.build_ivf_index(e, ivf, n_cells=8, seed=42)
    S.build_pq_index(e, pq, m=8, ks=16, seed=42)

    def crash(*_a):
        raise RuntimeError("crash at commit")

    with monkeypatch.context() as m:
        m.setattr(parquet, "commit_index_version", crash)
        with pytest.raises(RuntimeError, match="crash at commit"):
            S.build_ivfpq_cell_codes(spark, ivf, pq, cc)

    q = e.filter(F.col("vec_id") < 10)
    assert not S.ivfpq_cell_codes_current(spark, cc, ivf, pq)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        S.ivfpq_topk_indexed(
            spark, q, ivf, pq, k=5, nprobe=4, rerank=40, cell_codes_path=cc
        )
    S.build_ivfpq_cell_codes(spark, ivf, pq, cc)
    assert S.ivfpq_cell_codes_current(spark, cc, ivf, pq)
    via_cc = S.ivfpq_topk_indexed(
        spark, q, ivf, pq, k=5, nprobe=4, rerank=40, cell_codes_path=cc
    ).collect()
    base = S.ivfpq_topk_indexed(
        spark, q, ivf, pq, k=5, nprobe=4, rerank=40
    ).collect()
    assert sorted(map(tuple, via_cc)) == sorted(map(tuple, base))


def test_incremental_embedding_ingest_maintains_cell_codes(spark, tmp_path):
    """The derived cell-codes layout joins the ingest loop's post-run
    maintenance: appends to the source indexes leave it stale (stored
    counts no longer match), the run's maintenance slot rebuilds it, and
    probes through it stay row-identical to the two-index path. A no-op
    run leaves a current layout untouched."""
    from aws_data_pipeline_spark.operators import similarity as S
    from aws_data_pipeline_spark.sources.parquet import index_active_version
    from aws_data_pipeline_spark.streaming.embeddings import (
        incremental_embedding_ingest,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ivf = str(tmp_path / "ivf")
    pq = str(tmp_path / "pq")
    cc = str(tmp_path / "cc")

    schema = "vec_id long, embedding array<float>"
    spark.createDataFrame(
        [(i, _vec(i)) for i in range(12)], schema
    ).write.parquet(str(inbox / "b1"))
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        ivf_index_path=ivf, ivf_cells=4,
        pq_index_path=pq, pq_m=4, pq_ks=8,
        ivfpq_cell_codes_path=cc,
    )
    assert S.ivfpq_cell_codes_current(spark, cc, ivf, pq)
    q = spark.createDataFrame([(0, _vec(0)), (5, _vec(5))], schema)

    def probe(path=None):
        return sorted(
            map(
                tuple,
                S.ivfpq_topk_indexed(
                    spark, q, ivf, pq, k=3, nprobe=2, rerank=10,
                    cell_codes_path=path,
                ).collect(),
            )
        )

    assert probe(cc) == probe(None)

    # a later batch appends to IVF and PQ -> layout stale mid-run -> the
    # post-run maintenance rebuilds it and the probe matches again
    spark.createDataFrame(
        [(30, _vec(30)), (31, _vec(31))], schema
    ).write.parquet(str(inbox / "b2"))
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        ivf_index_path=ivf,
        pq_index_path=pq, pq_m=4, pq_ks=8,
        ivfpq_cell_codes_path=cc,
    )
    assert S.ivfpq_cell_codes_current(spark, cc, ivf, pq)
    assert probe(cc) == probe(None)
    ids_in_layout = {
        r.id for r in spark.read.parquet(
            f"{S.index_root(spark, cc)}/codes"
        ).collect()
    }
    assert {30, 31} <= ids_in_layout

    # no-op run (nothing new): layout version unchanged (no rebuild)
    v_before = index_active_version(spark, cc)
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        ivf_index_path=ivf,
        pq_index_path=pq, pq_m=4, pq_ks=8,
        ivfpq_cell_codes_path=cc,
    )
    assert index_active_version(spark, cc) == v_before


def test_ivfsq8_indexed_composition(spark, sf_dir, tmp_path):
    """The IVF+SQ8 composed search: recall tracks the IVF probe itself
    (SQ8 is near-exact within the probed cells, unlike PQ), the generic
    cell-codes layout composes with the SQ8 index row-identically, and an
    append to a source index staleness-fails the layout probe loudly."""
    import pytest

    from aws_data_pipeline_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ivf = str(tmp_path / "ivf")
    sq8 = str(tmp_path / "sq8")
    cc = str(tmp_path / "ivfsq8_codes")
    S.build_ivf_index(e, ivf, n_cells=8, seed=42)
    S.build_sq8_index(e, sq8)
    q = e.filter(F.col("vec_id") < 10)

    out = S.ivfsq8_topk_indexed(
        spark, q, ivf, sq8, k=5, nprobe=4, rerank=40
    ).collect()
    assert len(out) == 50 and all(1 <= r.rank <= 5 for r in out)

    # SQ8 in-cell ranking is near-exact, so the composition agrees with
    # the plain IVF probe (exact vectors, same cells) almost everywhere
    ivf_rows = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk_indexed(spark, q, ivf, k=5, nprobe=4).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in out}
    assert len(got & ivf_rows) / len(ivf_rows) >= 0.8
    brute = {
        (r.query_id, r.neighbor_id) for r in S.brute_force_topk(q, e, k=5).collect()
    }
    assert len(got & brute) / len(brute) >= 0.3  # IVF-bounded recall

    # the generic cell-codes layout composes with the SQ8 index
    S.build_ivfpq_cell_codes(spark, ivf, sq8, cc)
    assert S.ivfpq_cell_codes_current(spark, cc, ivf, sq8)
    via_cc = S.ivfsq8_topk_indexed(
        spark, q, ivf, sq8, k=5, nprobe=4, rerank=40, cell_codes_path=cc
    ).collect()
    assert sorted(map(tuple, via_cc)) == sorted(map(tuple, out))

    # append-staleness: same contract as the PQ composition
    extra = spark.createDataFrame(
        [(91001, [0.33] * 64)], "vec_id long, embedding array<float>"
    )
    S.append_to_sq8_index(extra, sq8)
    assert not S.ivfpq_cell_codes_current(spark, cc, ivf, sq8)
    with pytest.raises(ValueError, match="append"):
        S.ivfsq8_topk_indexed(
            spark, q, ivf, sq8, k=5, nprobe=4, rerank=40, cell_codes_path=cc
        ).collect()


def test_ingest_start_gc_collects_superseded_versions(spark, tmp_path):
    """gc_superseded_versions: the NEXT run's start collects generations
    a previous run's retrain superseded (the kept-for-in-flight-readers
    generation), and probes are identical before and after — the
    owner-scheduled quiet period realized as run cadence."""
    from aws_data_pipeline_spark.operators import similarity as S
    from aws_data_pipeline_spark.sources.parquet import zone_exists
    from aws_data_pipeline_spark.streaming.embeddings import (
        incremental_embedding_ingest,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ivf = str(tmp_path / "ivf")

    schema = "vec_id long, embedding array<float>"
    spark.createDataFrame(
        [(i, _vec(i)) for i in range(12)], schema
    ).write.parquet(str(inbox / "b1"))
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        ivf_index_path=ivf, ivf_cells=4,
    )
    # a retrain supersedes the build's v1, the kept generation
    S.retrain_ivf_index(spark, ivf)
    assert zone_exists(spark, f"{ivf}/v1/corpus")  # kept for in-flight readers
    q = spark.createDataFrame([(0, _vec(0))], schema)
    before = sorted(
        map(tuple, S.ivf_topk_indexed(spark, q, ivf, k=3, nprobe=2).collect())
    )

    # next run (no new files) with the flag: gc collects the kept
    # generation at START; probe identity holds
    incremental_embedding_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        ivf_index_path=ivf,
        gc_superseded_versions=True,
    )
    assert not zone_exists(spark, f"{ivf}/v1/corpus")
    after = sorted(
        map(tuple, S.ivf_topk_indexed(spark, q, ivf, k=3, nprobe=2).collect())
    )
    assert after == before


def test_sq8_filtered_search_prefilters_and_survives_lifecycle(
    spark, sf_dir, tmp_path
):
    """Filtered search through a payload-carrying SQ8 index: (a) result ==
    brute-force top-k over ONLY the matching subset (pre-filter
    semantics) while post-filtering an unfiltered top-k of the same depth
    returns strictly fewer matches; (b) appends carry the payload
    (discovered from the index, appended matches become reachable) and an
    appended frame missing the payload raises; (c) retrain preserves the
    payload and the probe's rows; (d) an index built WITHOUT payload
    raises a build-instruction error."""
    import pytest

    from aws_data_pipeline_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 10 != 7)
    batch = e.filter(F.col("vec_id") % 10 == 7)
    idx = str(tmp_path / "sq8_payload")
    S.build_sq8_index(base, idx, payload_cols=["label"])

    with pytest.raises(ValueError, match="lacks \\['label'\\]"):
        S.append_to_sq8_index(batch.drop("label"), idx)
    S.append_to_sq8_index(batch, idx)

    queries = e.filter(F.col("vec_id") < 5)
    got = S.sq8_topk_indexed(
        spark, queries, idx, k=5, rerank=None, where="label = 2"
    )
    got_rows = {(r.query_id, r.neighbor_id, r.rank) for r in got.collect()}

    # pre-filter reference: the SAME sq8 ranking over only label=2 rows
    mins, scales = S.read_sq8_stats(spark, idx)
    subset = e.filter(F.col("label") == 2)
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.sq8_topk(
            queries, subset, k=5, mins=mins, scales=scales
        ).collect()
    }
    assert got_rows == want
    # every query reaches a FULL top-5 despite the ~10% filter; appended
    # (vec_id % 10 == 7) label-2 vectors are reachable through the index
    per_q = {}
    for q, n, _ in got_rows:
        per_q.setdefault(q, set()).add(n)
    assert all(len(v) == 5 for v in per_q.values())
    # post-filtering the unfiltered top-5 keeps only label-2 survivors —
    # strictly fewer rows than the pre-filtered full top-5
    unfiltered = S.sq8_topk_indexed(spark, queries, idx, k=5, rerank=None)
    lab = e.select(F.col("vec_id").alias("neighbor_id"), "label")
    post = unfiltered.join(lab, "neighbor_id").filter(F.col("label") == 2)
    assert post.count() < len(got_rows)

    # retrain preserves payload and probe rows (same vectors, refit stats
    # == stored stats here since ranges are data-determined by the union)
    S.retrain_sq8_index(spark, idx)
    again = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.sq8_topk_indexed(
            spark, queries, idx, k=5, rerank=None, where="label = 2"
        ).collect()
    }
    mins2, scales2 = S.read_sq8_stats(spark, idx)
    if (mins2, scales2) == (mins, scales):
        assert again == got_rows

    # an index without payload refuses the filtered probe with guidance
    bare = str(tmp_path / "sq8_bare")
    S.build_sq8_index(base, bare)
    with pytest.raises(ValueError, match="payload_cols"):
        S.sq8_topk_indexed(
            spark, queries, bare, k=5, rerank=None, where="label = 2"
        )


def test_forget_vectors_erases_every_surface(spark, sf_dir, tmp_path):
    """GDPR erasure across the whole estate: after forget_vectors the
    doomed ids are gone from the corpus zone, the LSH bands/vectors, the
    IVF cell postings (only touched cells rewritten), the PQ and SQ8
    vectors/codes, and the rebuilt cell-codes layout; survivors stay
    fully reachable (an exhaustive probe returns exactly them); stored
    quantizers are untouched so survivor rankings never change; a second
    forget of the same ids is a complete no-op. The IVF index is
    compacted first, so its superseded generation (the build's ``v1``)
    holds the doomed ids too and must be collected."""
    import glob
    import os

    from aws_data_pipeline_spark.operators import similarity as S
    from aws_data_pipeline_spark.sources.parquet import (
        index_root,
        record_zone_bucket_count,
    )
    from aws_data_pipeline_spark.streaming.embeddings import forget_vectors

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n_total = e.count()
    base = str(tmp_path / "estate")
    corpus = f"{base}/corpus"
    lsh, ivf, pq, sq8 = (f"{base}/{x}" for x in ("lsh", "ivf", "pq", "sq8"))
    cc = f"{base}/cell_codes"
    record_zone_bucket_count(spark, corpus, 8)
    e.withColumn("bucket", F.pmod("vec_id", F.lit(8)).cast("int")).write.mode(
        "append"
    ).partitionBy("bucket").parquet(corpus)
    S.build_embedding_lsh_index(e, lsh)
    S.build_ivf_index(e, ivf, n_cells=8)
    S.compact_embedding_indexes(spark, ivf_index_path=ivf)  # keeps root gen
    S.build_pq_index(e, pq)
    S.build_sq8_index(e, sq8)
    S.build_ivfpq_cell_codes(spark, ivf, sq8, cc)
    stats_before = S.read_sq8_stats(spark, sq8)

    doomed_ids = [3, 17, 42]
    doomed = spark.createDataFrame([(i,) for i in doomed_ids], "vec_id long")
    # cells the doomed ids do NOT live in must not be rewritten
    placed = dict(
        spark.read.parquet(f"{index_root(spark, ivf)}/corpus")
        .select("neighbor_id", "cell")
        .collect()
    )
    doomed_cells = {placed[i] for i in doomed_ids}
    untouched_cell = next(c for c in set(placed.values()) if c not in doomed_cells)
    files_before = sorted(
        glob.glob(f"{index_root(spark, ivf)}/corpus/cell={untouched_cell}/*.parquet")
    )

    out = forget_vectors(
        spark, doomed, corpus_path=corpus, index_path=lsh,
        ivf_index_path=ivf, pq_index_path=pq, sq8_index_path=sq8,
        ivfpq_cell_codes_path=cc,
    )
    assert out == {"lsh": 3, "ivf": 3, "pq": 3, "sq8": 3, "corpus": 3}

    # every surface clean; survivors intact
    def ids_at(path, col):
        return {r[0] for r in spark.read.parquet(path).select(col).collect()}

    survivors = set(range(n_total)) - set(doomed_ids)
    assert ids_at(corpus, "vec_id") == survivors
    for idx, sub, col in (
        (lsh, "vectors", "id"), (lsh, "bands", "id"),
        (ivf, "corpus", "neighbor_id"),
        (pq, "vectors", "id"), (pq, "codes", "id"),
        (sq8, "vectors", "id"), (sq8, "codes", "id"),
        (cc, "codes", "id"),
    ):
        got = ids_at(f"{index_root(spark, idx)}/{sub}", col)
        assert got == survivors, f"{idx}/{sub} kept doomed ids"
    # untouched IVF cell: same physical files (partition-pruned rewrite)
    assert (
        sorted(
            glob.glob(
                f"{index_root(spark, ivf)}/corpus/cell={untouched_cell}/*.parquet"
            )
        )
        == files_before
    )
    # quantizer untouched: survivor rankings can never change
    assert S.read_sq8_stats(spark, sq8) == stats_before
    # exhaustive probe reaches exactly the survivors, none of the doomed
    q = e.filter(F.col("vec_id") == 0)
    reached = {
        r.neighbor_id
        for r in S.sq8_topk_indexed(
            spark, q, sq8, k=n_total, rerank=None
        ).collect()
    }
    assert reached == survivors - {0}
    # composed probe through the rebuilt layout is clean too
    got_cc = S.ivfsq8_topk_indexed(
        spark, q, ivf, sq8, k=10, nprobe=8, cell_codes_path=cc
    )
    assert not {r.neighbor_id for r in got_cc.collect()} & set(doomed_ids)
    # COMPLETE on-disk erasure: the versioned-swap deletes keep a
    # superseded generation for in-flight readers, but that generation
    # still holds the doomed rows — the default gc collects it, so no
    # non-active version directory survives anywhere in the estate
    for idx in (lsh, ivf, pq, sq8, cc):
        vdirs = [d for d in glob.glob(f"{idx}/v*") if os.path.isdir(d)]
        assert len(vdirs) <= 1, f"{idx}: superseded generation kept {vdirs}"
    # no IVF generation on disk, active or kept, holds a doomed vector
    ivf_gens = [d for d in glob.glob(f"{ivf}/v*/corpus") if os.path.isdir(d)]
    assert ivf_gens
    for d in ivf_gens:
        assert not ids_at(d, "neighbor_id") & set(doomed_ids), d
    # idempotent: a second forget removes nothing anywhere
    again = forget_vectors(
        spark, doomed, corpus_path=corpus, index_path=lsh,
        ivf_index_path=ivf, pq_index_path=pq, sq8_index_path=sq8,
        ivfpq_cell_codes_path=cc,
    )
    assert again == {"lsh": 0, "ivf": 0, "pq": 0, "sq8": 0, "corpus": 0}


def test_composed_filtered_search_prunes_cells_and_payload(
    spark, sf_dir, tmp_path
):
    """Filtered search through the COMPOSED IVF-SQ8 path: with nprobe =
    n_cells (no cell loss) the filtered composed probe is row-identical
    to the flat filtered SQ8 probe (same codes, same stored stats, same
    predicate); with nprobe < n_cells the plan carries BOTH prunings —
    cell= PartitionFilters and the label predicate pushed onto the
    cell-codes scan; a predicate against a payload-less layout raises
    with build guidance."""
    import pytest

    from aws_data_pipeline_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    base = str(tmp_path / "composed")
    ivf, sq8, cc = (f"{base}/{x}" for x in ("ivf", "sq8", "cc"))
    S.build_ivf_index(e, ivf, n_cells=8)
    S.build_sq8_index(e, sq8, payload_cols=["label"])
    S.build_ivfpq_cell_codes(spark, ivf, sq8, cc)
    # the payload column rides into the cell-codes posting automatically
    assert "label" in spark.read.parquet(
        f"{S.index_root(spark, cc)}/codes"
    ).columns

    q = e.filter(F.col("vec_id") < 5)
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.ivfsq8_topk_indexed(
            spark, q, ivf, sq8, k=5, nprobe=8, rerank=None,
            cell_codes_path=cc, where="label = 2",
        ).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.sq8_topk_indexed(
            spark, q, sq8, k=5, rerank=None, where="label = 2"
        ).collect()
    }
    assert got == want and len(got) == 25

    # nprobe < n_cells: both prunings visible in the executed plan
    df = S.ivfsq8_topk_indexed(
        spark, q, ivf, sq8, k=5, nprobe=2, rerank=None,
        cell_codes_path=cc, where="label = 2",
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    cc_scans = [s_ for s_ in plan.split("Scan parquet") if "/cc" in s_]
    assert cc_scans and all("EqualTo(label,2)" in s_ for s_ in cc_scans)
    assert all("PartitionFilters" in s_ and "cell" in s_ for s_ in cc_scans)
    # the two-index fallback path prunes the codes scan the same way
    df2 = S.ivfsq8_topk_indexed(
        spark, q, ivf, sq8, k=5, nprobe=2, rerank=None, where="label = 2"
    )
    plan2 = df2._sc._jvm.PythonSQLUtils.explainString(
        df2._jdf.queryExecution(), "formatted"
    )
    code_scans = [s_ for s_ in plan2.split("Scan parquet") if "/codes" in s_]
    assert code_scans and any("EqualTo(label,2)" in s_ for s_ in code_scans)

    # payload-less layout refuses the predicate with guidance
    sq8_bare, cc_bare = f"{base}/sq8_bare", f"{base}/cc_bare"
    S.build_sq8_index(e, sq8_bare)
    S.build_ivfpq_cell_codes(spark, ivf, sq8_bare, cc_bare)
    with pytest.raises(ValueError, match="payload_cols"):
        S.ivfsq8_topk_indexed(
            spark, q, ivf, sq8_bare, k=5, nprobe=2, rerank=None,
            cell_codes_path=cc_bare, where="label = 2",
        ).collect()


def test_pq_payload_filtered_search_and_lifecycle(spark, sf_dir, tmp_path):
    """PQ payload symmetry with SQ8: a payload_cols build stores the
    filter attribute beside vectors AND codes (joined back around the
    Arrow encoder), pq_topk_indexed(where=) pre-filters the compressed scan and
    equals the resident pq_topk over only the matching subset under the
    same stored codebooks; appends discover and carry the payload
    (missing-payload append raises); retrain preserves it; the composed
    IVF-PQ search takes the same where= through the cell-codes layout."""
    import pytest

    from aws_data_pipeline_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    base = e.filter(F.col("vec_id") % 10 != 7)
    batch = e.filter(F.col("vec_id") % 10 == 7)
    idx = str(tmp_path / "pq_payload")
    S.build_pq_index(base, idx, payload_cols=["label"])
    with pytest.raises(ValueError, match="lacks \\['label'\\]"):
        S.append_to_pq_index(batch.drop("label"), idx)
    S.append_to_pq_index(batch, idx)

    queries = e.filter(F.col("vec_id") < 5)
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.pq_topk_indexed(
            spark, queries, idx, k=5, rerank=None, where="label = 2"
        ).collect()
    }
    books = S.read_pq_codebooks(spark, idx)
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.pq_topk(
            queries, e.filter(F.col("label") == 2), books, k=5, rerank=None
        ).collect()
    }
    assert got == want and len(got) == 25

    S.retrain_pq_index(spark, idx)
    root = S.index_root(spark, idx)
    assert "label" in spark.read.parquet(f"{root}/codes").columns
    assert "label" in spark.read.parquet(f"{root}/vectors").columns

    # composed IVF-PQ filtered search through the cell-codes layout
    ivf, cc = str(tmp_path / "ivf"), str(tmp_path / "cc")
    S.build_ivf_index(e, ivf, n_cells=8)
    S.build_ivfpq_cell_codes(spark, ivf, idx, cc)
    comp = {
        (r.query_id, r.neighbor_id)
        for r in S.ivfpq_topk_indexed(
            spark, queries, ivf, idx, k=5, nprobe=8, rerank=None,
            cell_codes_path=cc, where="label = 2",
        ).collect()
    }
    lab = {r.vec_id: r.label for r in e.select("vec_id", "label").collect()}
    assert comp and all(lab[n] == 2 for _, n in comp)


def test_ivf_payload_filtered_search_and_lifecycle(spark, sf_dir, tmp_path):
    """IVF payload symmetry: payload_cols ride the cell partitions
    (build), appends discover and carry them (missing-payload append
    raises), retrain preserves them through the re-cell, and
    ivf_topk_indexed(where=) pre-filters the cell-pruned scan — at
    nprobe=n_cells (no cell loss) the filtered probe equals brute force
    over only the matching subset."""
    import pytest

    from aws_data_pipeline_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    base = e.filter(F.col("vec_id") % 10 != 7)
    batch = e.filter(F.col("vec_id") % 10 == 7)
    idx = str(tmp_path / "ivf_payload")
    S.build_ivf_index(base, idx, n_cells=8, payload_cols=["label"])
    with pytest.raises(ValueError, match="lacks \\['label'\\]"):
        S.append_to_ivf_index(spark, batch.drop("label"), idx)
    S.append_to_ivf_index(spark, batch, idx)

    queries = e.filter(F.col("vec_id") < 5)
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.ivf_topk_indexed(
            spark, queries, idx, k=5, nprobe=8, where="label = 2"
        ).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.brute_force_topk(
            queries, e.filter(F.col("label") == 2), k=5
        ).collect()
    }
    assert got == want and len(got) == 25

    S.retrain_ivf_index(spark, idx)
    root = S.index_root(spark, idx)
    assert "label" in spark.read.parquet(f"{root}/corpus").columns
    # post-retrain filtered full-probe still equals the brute-force subset
    again = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.ivf_topk_indexed(
            spark, queries, idx, k=5,
            nprobe=len(spark.read.parquet(f"{root}/centroids").collect()),
            where="label = 2",
        ).collect()
    }
    assert again == want

    bare = str(tmp_path / "ivf_bare")
    S.build_ivf_index(base, bare, n_cells=8)
    with pytest.raises(ValueError, match="payload_cols"):
        S.ivf_topk_indexed(spark, queries, bare, k=5, where="label = 2")


def test_forget_vectors_refuses_unbucketed_zone(spark, sf_dir, tmp_path):
    """A corpus zone holding data but no ``_buckets`` marker predates the
    bucketed layout: erasure refuses it with an error naming the path and
    leaves the zone untouched."""
    from aws_data_pipeline_spark.streaming.embeddings import forget_vectors

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = str(tmp_path / "unbucketed_corpus")  # no _buckets marker
    e.write.mode("overwrite").parquet(corpus)
    doomed = spark.createDataFrame([(1,), (2,)], "vec_id long")
    with pytest.raises(ValueError, match=f"corpus zone {corpus} has no _buckets"):
        forget_vectors(spark, doomed, corpus_path=corpus)
    got = {r.vec_id for r in spark.read.parquet(corpus).collect()}
    assert got == {r.vec_id for r in e.collect()}
