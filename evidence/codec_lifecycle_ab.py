"""Job counts and row digests of the id-keyed index lifecycle, per family.

For the MinHash-LSH text index (``documents``) and the hyperplane-LSH, PQ
and SQ8 embedding indexes (``embeddings``), one session runs, twice over
fresh directories (pass ``cold``, then ``warm``): build from the rows with
``id % 10 != 7``, append the ``id % 10 == 7`` batch, append it again (a
re-delivered no-op), probe, delete the ``id % 10 == 3`` rows, probe,
compact, probe. Each step records the Spark jobs it started (counted per
job group with ``tests/conftest.job_names``); each table and probe records
the md5 of its sorted rows.

``--keep DIR`` copies the warm pass's freshly built indexes to DIR;
``--prebuilt DIR`` starts the warm pass from copies of those indexes
instead of building, so an index built by one tree can be appended to,
probed, deleted from and compacted by another.

Usage: python evidence/codec_lifecycle_ab.py OUT.json [--sf DIR]
           [--keep DIR | --prebuilt DIR]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import shutil
import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from aws_data_pipeline_spark.operators import dedup  # noqa: E402
from aws_data_pipeline_spark.operators import similarity as S  # noqa: E402
from aws_data_pipeline_spark.session import get_spark  # noqa: E402
from aws_data_pipeline_spark.sources.parquet import index_root  # noqa: E402
from aws_data_pipeline_spark.streaming import corpus as C  # noqa: E402
from tests.conftest import job_names  # noqa: E402


def digest(df) -> str:
    rows = sorted(
        repr(tuple(tuple(v) if isinstance(v, list) else v for v in r))
        for r in df.collect()
    )
    return f"{len(rows)}:{hashlib.md5(chr(10).join(rows).encode()).hexdigest()[:12]}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--keep", default=None)
    ap.add_argument("--prebuilt", default=None)
    args = ap.parse_args()

    spark = get_spark(
        "codec-lifecycle-ab", master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    d = spark.read.parquet(f"{args.sf}/documents.parquet")
    e = spark.read.parquet(f"{args.sf}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") % 50 == 7)

    # the text append lived in streaming.corpus before it joined its build
    text_append = (
        getattr(dedup, "append_to_lsh_text_index", None)
        or C.append_to_lsh_text_index
    )
    families = {
        # name: (source, id, build, append, delete, compact, probe, tables)
        "text_lsh": (
            d, "doc_id", dedup.build_lsh_text_index, text_append,
            dedup.delete_from_lsh_text_index,
            lambda p: C.compact_corpus_indexes(spark, p),
            lambda p, new: dedup.neardup_against_index(spark, new, p),
            ("sets", "bands", "meta"),
        ),
        "embedding_lsh": (
            e, "vec_id", S.build_embedding_lsh_index,
            S.append_to_embedding_lsh_index, S.delete_from_embedding_lsh_index,
            lambda p: S.compact_embedding_indexes(spark, lsh_index_path=p),
            lambda p, new: S.embedding_neardup_against_index(spark, new, p),
            ("vectors", "bands", "meta"),
        ),
        "pq": (
            e, "vec_id", S.build_pq_index, S.append_to_pq_index,
            S.delete_from_pq_index,
            lambda p: S.compact_embedding_indexes(spark, pq_index_path=p),
            lambda p, new: S.pq_topk_indexed(spark, queries, p),
            ("vectors", "codes", "codebooks", "meta"),
        ),
        "sq8": (
            e, "vec_id", S.build_sq8_index, S.append_to_sq8_index,
            S.delete_from_sq8_index,
            lambda p: S.compact_embedding_indexes(spark, sq8_index_path=p),
            lambda p, new: S.sq8_topk_indexed(spark, queries, p),
            ("vectors", "codes", "stats", "meta"),
        ),
    }

    out: dict = {}
    for pas in ("cold", "warm"):
        work = tempfile.mkdtemp(prefix=f"codec-ab-{pas}-", dir="/tmp")
        for name, (src, key, build, append, delete, compact, probe, subs) in (
            families.items()
        ):
            rec = out.setdefault(name, {}).setdefault(pas, {})
            path = f"{work}/{name}"
            base = src.filter(F.col(key) % 10 != 7)
            new = src.filter(F.col(key) % 10 == 7)
            doomed = src.filter(F.col(key) % 10 == 3).select(key)

            def step(label, fn):
                rec[f"{label}.jobs"] = len(job_names(spark, f"{pas}.{name}.{label}", fn))

            def tables(label):
                root = index_root(spark, path)
                for sub in subs:
                    rec[f"{label}.{sub}"] = digest(spark.read.parquet(f"{root}/{sub}"))

            if pas == "warm" and args.prebuilt:
                shutil.copytree(f"{args.prebuilt}/{name}", path)
            else:
                step("build", lambda: build(base, path))
                tables("build")
                if pas == "warm" and args.keep:
                    shutil.copytree(path, f"{args.keep}/{name}")
            step("append", lambda: append(new, path))
            step("append_noop", lambda: append(new, path))
            tables("append")
            rec["append.probe"] = digest(probe(path, new))
            step("delete", lambda: delete(spark, path, doomed))
            tables("delete")
            rec["delete.probe"] = digest(probe(path, new))
            step("compact", lambda: compact(path))
            tables("compact")
            rec["compact.probe"] = digest(probe(path, new))
        shutil.rmtree(work, ignore_errors=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
