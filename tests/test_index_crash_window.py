"""The crash windows of the persisted indexes.

Append: ``append_to_{embedding_lsh,pq,sq8,lsh_text}_index`` write the
per-id primary table (``vectors``, or the text index's ``sets``) first and
the per-id code table second. A crash between the two writes leaves
primary rows without codes; the re-run must encode exactly those rows from
the materialized primary table, duplicate nothing, and a further re-run
must write nothing at all. ``append_to_ivf_index`` writes one cell-partitioned
``corpus`` table, vector store and code table in one; its crash leaves
part of the batch landed, and the re-run must write exactly the rest.

First build: every build writes a candidate version and commits it last,
so a build that dies at the commit leaves no index at all — not a
half-built one — and the re-run commits the first version.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators import dedup
from aws_data_pipeline_spark.operators import similarity as S
from aws_data_pipeline_spark.plans import llm as L
from aws_data_pipeline_spark.sources import parquet
from aws_data_pipeline_spark.sources.parquet import index_active_version, index_has
from tests.conftest import _sub


def _land_vectors(batch, idx, payload):
    """The codec crash: only the batch's vectors rows landed."""
    batch.select(
        F.col("vec_id").alias("id"), S.as_double(F.col("embedding")).alias("v"), *payload
    ).write.mode("append").parquet(_sub(batch.sparkSession, idx, "vectors"))


def _land_ivf_half(batch, idx, payload):
    """The IVF crash: the first half of the batch landed in its cells."""
    spark = batch.sparkSession
    cents = S.read_ivf_centroids(spark, S.index_root(spark, idx))
    batch.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("neighbor_id"),
        S.as_double(F.col("embedding")).alias("cv"),
        *payload,
    ).withColumn("cell", S.nearest_cell(F.col("cv"), cents)).write.mode(
        "append"
    ).partitionBy("cell").parquet(_sub(spark, idx, "corpus"))


def _land_sets(batch, idx, payload):
    """The text crash: only the batch's shingle-set rows landed."""
    dedup.shingle_sets(batch, "doc_id", "text", persist=False).write.mode(
        "append"
    ).parquet(_sub(batch.sparkSession, idx, "sets"))


def _ivf_append(df, path):
    S.append_to_ivf_index(df.sparkSession, df, path)


# (source table, id column, build, append, code table, payload columns,
#  crash, (primary table, its id))
FAMILIES = {
    "lsh": ("embeddings", "vec_id", S.build_embedding_lsh_index,
            S.append_to_embedding_lsh_index, "bands", (), _land_vectors,
            ("vectors", "id")),
    "pq": ("embeddings", "vec_id", S.build_pq_index, S.append_to_pq_index,
           "codes", (), _land_vectors, ("vectors", "id")),
    "sq8": ("embeddings", "vec_id", S.build_sq8_index, S.append_to_sq8_index,
            "codes", (), _land_vectors, ("vectors", "id")),
    "sq8_payload": ("embeddings", "vec_id", S.build_sq8_index,
                    S.append_to_sq8_index, "codes", ("label",), _land_vectors,
                    ("vectors", "id")),
    "ivf": ("embeddings", "vec_id", S.build_ivf_index, _ivf_append, "corpus",
            (), _land_ivf_half, ("corpus", "neighbor_id")),
    "text_lsh": ("documents", "doc_id", dedup.build_lsh_text_index,
                 dedup.append_to_lsh_text_index, "bands", (), _land_sets,
                 ("sets", "doc")),
}


def _rows(spark, path):
    """Every row of a sub-table as a sorted list (duplicates kept)."""
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in spark.read.parquet(path).collect()
    )


def _files(path):
    return sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    )


@pytest.mark.parametrize("family", FAMILIES)
def test_append_backfills_crash_between_vectors_and_codes(
    spark, sf_dir, tmp_path, family
):
    table, id_col, build, append, code_sub, payload, crash, (vec_sub, vec_id) = (
        FAMILIES[family]
    )
    e = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    base = e.filter(F.col(id_col) >= 100)
    batch = e.filter(F.col(id_col) < 100)
    idx = str(tmp_path / family)
    if payload:
        build(base, idx, payload_cols=list(payload))
    else:
        build(base, idx)

    # the expected end state: a clean append on a twin of the index
    twin = str(tmp_path / f"{family}_twin")
    shutil.copytree(idx, twin)
    append(batch, twin)

    crash(batch, idx, payload)
    append(batch, idx)

    assert _rows(spark, _sub(spark, idx, code_sub)) == _rows(
        spark, _sub(spark, twin, code_sub)
    )
    vecs = spark.read.parquet(_sub(spark, idx, vec_sub))
    assert vecs.count() == vecs.select(vec_id).distinct().count() == e.count()

    written = {sub: _files(_sub(spark, idx, sub)) for sub in {vec_sub, code_sub}}
    append(batch, idx)
    assert {sub: _files(_sub(spark, idx, sub)) for sub in written} == written


# (source table, id column, build(corpus, path), a sub-table of a built index)
FIRST_BUILDS = {
    "lsh": ("embeddings", "vec_id", S.build_embedding_lsh_index, "meta"),
    "pq": ("embeddings", "vec_id", S.build_pq_index, "meta"),
    "sq8": ("embeddings", "vec_id", S.build_sq8_index, "meta"),
    "ivf": ("embeddings", "vec_id",
            lambda corpus, idx: S.build_ivf_index(corpus, idx, n_cells=4), "centroids"),
    "cell_codes": ("embeddings", "vec_id", None, "meta"),
    "text_lsh": ("documents", "doc_id", dedup.build_lsh_text_index, "meta"),
    "kgram": ("documents", "doc_id", dedup.build_kgram_index, "meta"),
}


@pytest.mark.parametrize("family", FIRST_BUILDS)
def test_first_build_crash_at_commit_leaves_no_index(
    spark, sf_dir, tmp_path, monkeypatch, family
):
    table, id_col, build, sub = FIRST_BUILDS[family]
    if build is None:  # the derived layout over two committed sources
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        ivf, pq = str(tmp_path / "ivf"), str(tmp_path / "pq")
        S.build_ivf_index(e, ivf, n_cells=4)
        S.build_pq_index(e, pq)

        def build(corpus, idx):
            S.build_ivfpq_cell_codes(spark, ivf, pq, idx)

    spec = L._IndexSpec(f"first_build_crash_{family}", table, id_col, build)
    idx = L._warehouse_index_path(sf_dir, spec.name)
    shutil.rmtree(idx, ignore_errors=True)
    try:
        def crash(*_a):
            raise RuntimeError("crash at commit")

        with monkeypatch.context() as m:
            m.setattr(parquet, "commit_index_version", crash)
            with pytest.raises(RuntimeError, match="crash at commit"):
                L._ensure_index(spark, sf_dir, spec)
        assert _files(idx)  # the candidate's files landed, uncommitted
        assert index_active_version(spark, idx) is None
        assert not index_has(spark, idx, sub)
        state = L._src_state(spark, sf_dir, table)
        assert not L._src_marker_fresh(spark, idx, state)

        assert L._ensure_index(spark, sf_dir, spec) == idx
        assert index_active_version(spark, idx) == 1
        assert index_has(spark, idx, sub)
        assert L._src_marker_fresh(spark, idx, state)
    finally:
        shutil.rmtree(idx, ignore_errors=True)
