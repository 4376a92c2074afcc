"""Raw-text corpus source: one document per file (or per line), the entry
format for LLM training-data ingestion — web-crawl dumps, book files, code
files land as plain text long before they have a schema.

Spark's text source is a real FileFormat scan (splittable in line mode,
whole-file parallel across files), so the corpus distributes across
executors like any other table; downstream text/dedup/curation operators
consume the resulting (doc_id, text, source) frame unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_corpus(
    spark: SparkSession,
    path: str,
    whole_file: bool = True,
) -> DataFrame:
    """Read a directory tree of text files as a document frame.

    ``whole_file=True``: one row per file — document identity is the file
    (crawl shard, book, source file); ``doc_id`` is a deterministic 64-bit
    hash of the file path, so re-ingestion is idempotent and ids are stable
    across cluster sizes (monotonically_increasing_id is partition-dependent
    — never use it for durable identity).

    ``whole_file=False``: one row per line (JSONL-adjacent corpora that keep
    one doc per line); ``doc_id`` hashes (file, line text) — duplicate lines
    in one file share an id, which exact-dedup then collapses by design.
    """
    reader = (
        spark.read.option("wholetext", "true" if whole_file else "false")
        .option("recursiveFileLookup", "true")
    )
    df = reader.text(path).select(
        F.col("value").alias("text"),
        F.input_file_name().alias("source"),
    )
    id_src = (
        F.col("source") if whole_file else F.concat_ws("\x00", "source", "text")
    )
    return df.select(
        F.xxhash64(id_src).alias("doc_id"), "text", "source"
    )
