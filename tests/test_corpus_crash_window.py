"""The corpus → index crash window of the corpus maintenance loop.

The ingest sink appends novel rows to the corpus zone first and to the
indexes after. A crash between the two leaves rows in the corpus that no
index holds. Re-delivering the batch must keep the corpus flat, backfill
the primary index with exactly the corpus ids and backfill the secondary
index, and a further re-run must write nothing at all. One loop serves
both estates, so the test runs once per estate: documents (MinHash-LSH +
k-gram) and vectors (embedding LSH + IVF).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from aws_data_pipeline_spark.streaming.corpus import incremental_corpus_ingest
from aws_data_pipeline_spark.streaming.embeddings import (
    incremental_embedding_ingest,
)
from tests.conftest import _sub

BUCKETS = 8
TOKENS = 24


def _text_rows(ids):
    return [
        {
            "doc_id": i,
            "text": " ".join(f"d{i}w{j}" for j in range(TOKENS)),
            "lang": "en",
            "source": "a",
        }
        for i in ids
    ]


def _vec(i, dim=64):
    v = [0.0] * dim
    v[i % dim] = 1.0
    v[(3 * i + 1) % dim] += 0.5
    return v


def _land_text(spark, inbox, name, ids):
    (inbox / f"{name}.jsonl").write_text(
        "\n".join(json.dumps(d) for d in _text_rows(ids))
    )


def _land_vectors(spark, inbox, name, ids):
    spark.createDataFrame(
        [(i, _vec(i)) for i in ids], "vec_id long, embedding array<float>"
    ).write.parquet(str(inbox / name))


def _text_frame(spark, ids):
    return spark.createDataFrame(
        [tuple(d.values()) for d in _text_rows(ids)],
        "doc_id long, text string, lang string, source string",
    )


def _vector_frame(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids], "vec_id long, embedding array<float>"
    )


def _ids(spark, path, col):
    return {r[0] for r in spark.read.parquet(path).select(col).collect()}


def _files(*roots):
    return sorted(
        os.path.join(d, f)
        for root in roots
        for d, _, names in os.walk(root)
        for f in names
    )


# estate -> (land a batch file, the batch as a frame, ingest with the
#            secondary index at ``second``, id column, primary sub-tables
#            with their id column)
ESTATES = {
    "text": (
        _land_text,
        _text_frame,
        lambda spark, inbox, corpus, index, ckpt, second: incremental_corpus_ingest(
            spark, inbox, corpus, index, ckpt,
            kgram_index_path=second, corpus_buckets=BUCKETS,
        ),
        "doc_id",
        {"sets": "doc", "bands": "doc"},
    ),
    "vector": (
        _land_vectors,
        _vector_frame,
        lambda spark, inbox, corpus, index, ckpt, second: incremental_embedding_ingest(
            spark, inbox, corpus, index, ckpt,
            ivf_index_path=second, ivf_cells=2, corpus_buckets=BUCKETS,
        ),
        "vec_id",
        {"vectors": "id", "bands": "id"},
    ),
}


@pytest.mark.parametrize("estate", ESTATES)
def test_redelivery_backfills_crash_between_corpus_and_indexes(
    spark, tmp_path, estate
):
    land, frame, ingest, id_col, primary = ESTATES[estate]
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus, index, second = (
        str(tmp_path / x) for x in ("corpus", "index", "second")
    )
    land(spark, inbox, "b1", range(0, 6))
    ingest(spark, str(inbox), corpus, index, str(tmp_path / "c1"), second)

    # the crash: batch 2's rows reached the corpus zone, no index
    batch2 = range(10, 14)
    frame(spark, batch2).withColumn(
        "bucket", F.pmod(F.col(id_col), F.lit(BUCKETS))
    ).write.mode("append").partitionBy("bucket").parquet(corpus)
    land(spark, inbox, "b2", batch2)

    # recovery: a fresh checkpoint re-delivers both batches
    ingest(spark, str(inbox), corpus, index, str(tmp_path / "c2"), second)
    expected = set(range(0, 6)) | set(batch2)
    assert spark.read.parquet(corpus).count() == len(expected)
    assert _ids(spark, corpus, id_col) == expected
    for sub, col in primary.items():
        assert _ids(spark, _sub(spark, index, sub), col) == expected, sub
    if estate == "text":  # docs share no token: 8-gram hashes per doc
        hashes = spark.read.parquet(_sub(spark, second, "hashes"))
        assert hashes.count() == len(expected) * (TOKENS - 8 + 1)
    else:
        ivf = spark.read.parquet(_sub(spark, second, "corpus"))
        assert ivf.count() == len(expected)
        assert _ids(spark, _sub(spark, second, "corpus"), "neighbor_id") == expected

    # a further re-run finds everything in place and writes no file
    written = _files(corpus, index, second)
    ingest(spark, str(inbox), corpus, index, str(tmp_path / "c3"), second)
    assert _files(corpus, index, second) == written
