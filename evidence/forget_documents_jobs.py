"""Spark jobs of one ``forget_documents`` call over the text estate.

One session (``local[4]``) ingests the sf0.001 ``documents`` table as JSON
through ``incremental_corpus_ingest`` (corpus zone, MinHash-LSH index and
k-gram index), then erases the ``doc_id % 10 == 3`` documents with
``forget_documents``; the jobs the call started are counted per job group
with ``tests/conftest.job_names``. Prints one JSON line: the job count, the
job names and the call's per-surface counts.

Usage: python evidence/forget_documents_jobs.py [--sf DIR]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from aws_data_pipeline_spark.session import get_spark  # noqa: E402
from aws_data_pipeline_spark.streaming.corpus import (  # noqa: E402
    forget_documents,
    incremental_corpus_ingest,
)
from tests.conftest import job_names  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()
    spark = get_spark(
        "forget-documents-jobs", master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="forget-docs-", dir="/tmp")
    try:
        d = spark.read.parquet(f"{args.sf}/documents.parquet")
        d.select("doc_id", "text", "lang", "source").write.json(f"{work}/inbox")
        paths = {
            "corpus_path": f"{work}/corpus",
            "index_path": f"{work}/lsh",
            "kgram_index_path": f"{work}/kgram",
        }
        incremental_corpus_ingest(
            spark, f"{work}/inbox", checkpoint_path=f"{work}/ckpt", **paths
        )
        doomed = d.filter(F.col("doc_id") % 10 == 3).select("doc_id")
        out: dict = {}
        names = job_names(
            spark, "forget",
            lambda: out.update(forget_documents(spark, doomed, **paths)),
        )
        print(json.dumps({"jobs": len(names), "names": names, "removed": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
