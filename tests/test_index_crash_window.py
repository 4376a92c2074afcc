"""The append crash window of the codec-family vector indexes.

``append_to_{embedding_lsh,pq,sq8}_index`` write ``vectors`` first and the
per-id code table second. A crash between the two writes leaves vectors
rows without codes; the re-run must encode exactly those rows from the
materialized vectors, duplicate nothing, and a further re-run must write
nothing at all.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators import similarity as S

# (build, append, code table, payload columns)
FAMILIES = {
    "lsh": (S.build_embedding_lsh_index, S.append_to_embedding_lsh_index, "bands", ()),
    "pq": (S.build_pq_index, S.append_to_pq_index, "codes", ()),
    "sq8": (S.build_sq8_index, S.append_to_sq8_index, "codes", ()),
    "sq8_payload": (S.build_sq8_index, S.append_to_sq8_index, "codes", ("label",)),
}


def _rows(spark, path):
    """Every row of a sub-table as a sorted list (duplicates kept)."""
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in spark.read.parquet(path).collect()
    )


def _files(path):
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


@pytest.mark.parametrize("family", FAMILIES)
def test_append_backfills_crash_between_vectors_and_codes(
    spark, sf_dir, tmp_path, family
):
    build, append, code_sub, payload = FAMILIES[family]
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.filter(F.col("vec_id") >= 100)
    batch = e.filter(F.col("vec_id") < 100)
    idx = str(tmp_path / family)
    if payload:
        build(base, idx, payload_cols=list(payload))
    else:
        build(base, idx)

    # the expected end state: a clean append on a twin of the index
    twin = str(tmp_path / f"{family}_twin")
    shutil.copytree(idx, twin)
    append(batch, twin)

    # the crash: only the batch's vectors rows landed
    batch.select(
        F.col("vec_id").alias("id"), S.as_double(F.col("embedding")).alias("v"), *payload
    ).write.mode("append").parquet(f"{idx}/vectors")
    append(batch, idx)

    assert _rows(spark, f"{idx}/{code_sub}") == _rows(spark, f"{twin}/{code_sub}")
    vecs = spark.read.parquet(f"{idx}/vectors")
    assert vecs.count() == vecs.select("id").distinct().count() == e.count()

    written = {sub: _files(f"{idx}/{sub}") for sub in ("vectors", code_sub)}
    append(batch, idx)
    assert {sub: _files(f"{idx}/{sub}") for sub in written} == written
