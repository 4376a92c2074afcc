"""A/B receipt for the one-layout versioned index store.

    python evidence/versioned_layout_ab.py <checkout> <sf_dir> <out.json>

Imports the package from ``<checkout>`` and drives, in one fresh temporary
directory, build → append → retrain → delete → compact for the LSH, PQ,
PQ+payload, SQ8, SQ8+payload and IVF indexes, the IVF-PQ and IVF-SQ8
cell-codes layouts, the text-LSH and k-gram indexes and the CDC tombstone
store, then cold, memo-cleared and memo-hit ``plans.llm._ensure_index`` for
every registry index spec (against the checkout's own ``spark-warehouse/``,
whose entries for ``<sf_dir>`` are removed first). Writes one JSON object:
per step, the repr of the return value or the row count and md5 of the
sorted rows of the probe, and the number of Spark jobs the step ran.
Run it once per checkout, serially, and diff the two files: on-disk paths
are the only thing it does not record.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile

repo, sf_dir, out_path = sys.argv[1:4]
sys.path.insert(0, os.path.abspath(repo))

from pyspark.sql import functions as F  # noqa: E402

from aws_data_pipeline_spark.operators import dedup  # noqa: E402
from aws_data_pipeline_spark.operators import similarity as S  # noqa: E402
from aws_data_pipeline_spark.plans import llm as L  # noqa: E402
from aws_data_pipeline_spark.session import get_spark  # noqa: E402
from aws_data_pipeline_spark.sources import parquet  # noqa: E402
from aws_data_pipeline_spark.streaming import cdc  # noqa: E402
from aws_data_pipeline_spark.streaming import corpus as C  # noqa: E402

spark = get_spark(
    "layout-ab", master="local[2]", extra_conf={"spark.sql.shuffle.partitions": "4"}
)
sc = spark.sparkContext
res: dict[str, dict] = {}


def step(name, fn, probe=False):
    """Run ``fn`` under its own job group; record its value and jobs."""
    sc.setJobGroup(name, name)
    v = fn()
    if probe:
        rows = sorted(repr(tuple(r)) for r in v.collect())
        v = [len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()]
    else:
        v = repr(v)
    res[name] = {"value": v, "jobs": len(sc.statusTracker().getJobIdsForGroup(name))}


e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
base, batch = e.filter(F.col("vec_id") % 5 != 0), e.filter(F.col("vec_id") % 5 == 0)
q = e.filter(F.col("vec_id") < 10)
doomed = spark.createDataFrame([(1,), (5,), (12,), (999999,)], "vec_id long")
docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
d_base, d_new = docs.filter(F.col("doc_id") % 10 != 7), docs.filter(F.col("doc_id") % 10 == 7)
d_doomed = spark.createDataFrame([(1,), (3,)], "doc_id long")
d = tempfile.mkdtemp(prefix="layout_ab_")
P = {x: f"{d}/{x}" for x in ("lsh", "pq", "pqp", "sq8", "sq8p", "ivf", "ccpq",
                               "ccsq8", "tlsh", "kg", "zone")}

# hyperplane LSH
step("lsh.build", lambda: S.build_embedding_lsh_index(base, P["lsh"], bands=16, rows_per_band=4))
lsh_probe = lambda: S.embedding_neardup_against_index(spark, batch, P["lsh"])
step("lsh.probe0", lsh_probe, True)
step("lsh.append", lambda: S.append_to_embedding_lsh_index(batch, P["lsh"]))
step("lsh.probe1", lsh_probe, True)
step("lsh.delete", lambda: S.delete_from_embedding_lsh_index(spark, P["lsh"], doomed))
step("lsh.probe2", lsh_probe, True)
step("lsh.compact", lambda: S.compact_embedding_indexes(spark, lsh_index_path=P["lsh"]))
step("lsh.probe3", lsh_probe, True)

# PQ / SQ8, bare and payload-carrying
for fam, build, append, due, retrain, delete, topk, kw in (
    ("pq", S.build_pq_index, S.append_to_pq_index, S.pq_retrain_due,
     S.retrain_pq_index, S.delete_from_pq_index, S.pq_topk_indexed, "pq_index_path"),
    ("sq8", S.build_sq8_index, S.append_to_sq8_index, S.sq8_retrain_due,
     S.retrain_sq8_index, S.delete_from_sq8_index, S.sq8_topk_indexed, "sq8_index_path"),
):
    for name, payload, where in ((fam, (), None), (fam + "p", ["label"], "label = 2")):
        path = P[name]
        step(f"{name}.build", lambda: build(base, path, payload_cols=payload))
        probe = lambda: topk(spark, q, path, k=5, rerank=40, where=where)
        step(f"{name}.probe0", probe, True)
        step(f"{name}.append", lambda: append(batch, path))
        step(f"{name}.due", lambda: due(spark, path))
        step(f"{name}.probe1", probe, True)
        step(f"{name}.retrain", lambda: retrain(spark, path))
        step(f"{name}.probe2", probe, True)
        step(f"{name}.delete", lambda: delete(spark, path, doomed))
        step(f"{name}.probe3", probe, True)
        step(f"{name}.compact", lambda: S.compact_embedding_indexes(spark, **{kw: path}))
        step(f"{name}.probe4", probe, True)

# IVF
ivf = P["ivf"]
ivf_probe = lambda: S.ivf_topk_indexed(spark, q, ivf, k=5, nprobe=4)
step("ivf.build", lambda: S.build_ivf_index(base, ivf, n_cells=8))
step("ivf.probe0", ivf_probe, True)
step("ivf.append", lambda: S.append_to_ivf_index(spark, batch, ivf))
step("ivf.due", lambda: S.ivf_retrain_due(spark, ivf))
step("ivf.probe1", ivf_probe, True)
step("ivf.retrain", lambda: S.retrain_ivf_index(spark, ivf))
step("ivf.probe2", ivf_probe, True)
step("ivf.delete", lambda: S.delete_from_ivf_index(spark, ivf, doomed))
step("ivf.probe3", ivf_probe, True)
step("ivf.compact", lambda: S.compact_embedding_indexes(spark, ivf_index_path=ivf))
step("ivf.probe4", ivf_probe, True)

# cell-codes layouts over the IVF index and the PQ / SQ8 indexes
for name, codes, topk in (("ccpq", P["pq"], S.ivfpq_topk_indexed),
                          ("ccsq8", P["sq8"], S.ivfsq8_topk_indexed)):
    cc = P[name]
    probe = lambda: topk(spark, q, ivf, codes, k=5, nprobe=4, cell_codes_path=cc)
    step(f"{name}.current0", lambda: S.ivfpq_cell_codes_current(spark, cc, ivf, codes))
    step(f"{name}.build", lambda: S.build_ivfpq_cell_codes(spark, ivf, codes, cc))
    step(f"{name}.current1", lambda: S.ivfpq_cell_codes_current(spark, cc, ivf, codes))
    step(f"{name}.probe0", probe, True)
    step(f"{name}.rebuild", lambda: S.build_ivfpq_cell_codes(spark, ivf, codes, cc))
    step(f"{name}.probe1", probe, True)

# text LSH and k-gram
tl, kg = P["tlsh"], P["kg"]
tl_probe = lambda: dedup.neardup_against_index(spark, d_new, tl, threshold=0.8)
kg_probe = lambda: dedup.duplicate_spans_against_index(spark, d_new, kg)
step("tlsh.build", lambda: dedup.build_lsh_text_index(d_base, tl, hash_fn="md5"))
step("tlsh.probe0", tl_probe, True)
step("tlsh.append", lambda: dedup.append_to_lsh_text_index(d_new, tl))
step("tlsh.probe1", tl_probe, True)
step("tlsh.delete", lambda: dedup.delete_from_lsh_text_index(spark, tl, d_doomed))
step("tlsh.probe2", tl_probe, True)
step("kg.build", lambda: dedup.build_kgram_index(d_base, kg, k=8))
step("kg.probe0", kg_probe, True)
step("kg.append", lambda: dedup.append_to_kgram_index(d_new, kg))
step("kg.probe1", kg_probe, True)
step("kg.rebuild", lambda: dedup.build_kgram_index(docs, kg, k=8))
step("kg.probe2", kg_probe, True)
step("text.compact", lambda: C.compact_corpus_indexes(spark, tl, kgram_index_path=kg))
step("tlsh.probe3", tl_probe, True)
step("kg.probe3", kg_probe, True)

# CDC tombstones
zone, schema = P["zone"], "id long, v string, year int, _op string, _seq long"
batches = [
    [(1, "a", 2024, "upsert", 1), (2, "b", 2024, "upsert", 2), (3, "c", 2025, "upsert", 3)],
    [(1, None, 2024, "delete", 4), (3, None, 2025, "delete", 5)],
    [(1, "zombie", 2024, "upsert", 2), (3, "zombie", 2025, "upsert", 4)],
    [(2, None, 2024, "delete", 9), (4, "d", 2025, "upsert", 10)],
]
zone_rows = lambda: spark.read.parquet(zone)
for i, rows in enumerate(batches):
    step(f"cdc.apply{i}", lambda: cdc.apply_cdc_batch(
        spark.createDataFrame(rows, schema), zone, ["id"], ["year"]))
    step(f"cdc.rows{i}", zone_rows, True)
step("cdc.expire0", lambda: cdc.expire_cdc_tombstones(spark, zone, 5, ["year"]))
step("cdc.replay", lambda: cdc.apply_cdc_batch(
    spark.createDataFrame(batches[2], schema), zone, ["id"], ["year"]))
step("cdc.expire1", lambda: cdc.expire_cdc_tombstones(spark, zone, 100, ["year"]))
step("cdc.rows_end", zone_rows, True)

# registry build-once indexes: cold, memo-cleared (a new process), memo hit
specs = [L._KGRAM_INDEX, L._TEXT_LSH_INDEX, L._ivf_index_spec(8),
         L._pq_index_spec(8, 16), L._SQ8_INDEX, L._SQ8F_INDEX]
for spec in specs:
    shutil.rmtree(L._warehouse_index_path(sf_dir, spec.name), ignore_errors=True)
for spec in specs:
    for phase in ("cold", "new_process", "memo_hit"):
        if phase != "memo_hit":
            for key in [k for k in parquet._APP_MEMO if k[1][0] == "ensure"]:
                parquet._APP_MEMO.pop(key)
        step(f"ensure.{spec.name}.{phase}",
             lambda: os.path.basename(L._ensure_index(spark, sf_dir, spec)))

shutil.rmtree(d)
for spec in specs:
    shutil.rmtree(L._warehouse_index_path(sf_dir, spec.name), ignore_errors=True)
spark.stop()
with open(out_path, "w") as f:
    json.dump(res, f, indent=1, sort_keys=True)
print(len(res), "steps")
