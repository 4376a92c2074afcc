"""JSONL (newline-delimited JSON) source/sink — reference S1/S8.

Reference reads bronze JSONL with Glue DynamicFrame + schema inference
(``bronze_to_silver.py:108-116``); we read with an explicit StructType
(no inference pass — at 100 TB inference means an extra listing+sampling
job and nondeterministic types) and ``recursiveFileLookup`` for the
nested batch-file layout the generator produces
(``generate_test_data.py:49`` key pattern ``raw/transactions/batch_*``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_data_pipeline_spark.operators import lit_array

_CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    recursive: bool = True,
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("multiLine", "false")
        .option("recursiveFileLookup", str(recursive).lower())
        .json(path)
    )


def read_jsonl_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    recursive: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """JSONL scan that QUARANTINES malformed lines instead of silently
    nulling them: returns ``(good, bad)`` — ``good`` with exactly the
    declared schema, ``bad`` carrying each unparseable line's raw text.

    The plain ``read_jsonl`` runs PERMISSIVE without a corrupt column, so
    a mangled line surfaces as an all-null row that the downstream
    null-validation gate drops ANONYMOUSLY — indistinguishable from a
    well-formed row with missing fields, and the raw bytes are gone. For
    third-party feeds at 100 TB the quarantine split is the right
    bronze-edge posture: route unparseable lines to a dead-letter sink
    with their original text (re-parseable after a schema fix), count
    them in QC, keep the job alive. Mirrors ``read_csv_quarantine``
    (sources/delimited.py) including its fine print: consume ``good``
    full-width (corruption detection is per-parsed-column — a pruned read
    cannot flag a type mismatch in a pruned field), ``good.count()``
    fails loudly (SPARK-21610), and the bad frame references EVERY schema
    column (full parse, so a line malformed in any field is captured) and
    is materialized eagerly so downstream counts work.
    """
    full = T.StructType(
        list(schema.fields) + [T.StructField(_CORRUPT_COL, T.StringType())]
    )
    raw = (
        spark.read.schema(full)
        .option("multiLine", "false")
        .option("recursiveFileLookup", str(recursive).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT_COL)
        .json(path)
    )
    from aws_data_pipeline_spark.sources.delimited import quarantine_split

    return quarantine_split(raw, schema, _CORRUPT_COL)


def write_jsonl(df: DataFrame, path: str, num_files: int | None = None) -> None:
    """Producer-side JSONL writer (fixture generation; reference S8)."""
    out = df.repartition(num_files) if num_files else df
    out.write.mode("overwrite").json(path)


def unknown_key_split(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    recursive: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Schema-EVOLUTION quarantine (the strict edge policy): split the
    batch into ``(good, unknown)`` where ``good`` carries only lines
    whose top-level JSON keys are all inside the pinned schema (parsed
    to exactly that schema) and ``unknown`` carries the RAW text of
    every line with a key the schema does not know (plus non-object
    lines, which json_object_keys cannot key — route those through
    ``read_jsonl_quarantine`` for parse-level attribution).

    Rationale (SURVEY §4.2-4 / VERDICT r12 item 4): the pinned-schema
    scan silently DROPS producer-added columns — correct for stray
    garbage, wrong for a real schema evolution, and indistinguishable
    without this split. Quarantined lines keep their raw bytes, so after
    an operator approves the evolution (``evolved_schema`` below) the
    dead-letter batch re-ingests losslessly.

    All JVM-side: one text scan, ``json_object_keys`` + ``array_except``
    per line — no inference pass, no Python."""
    raw = (
        spark.read.option("recursiveFileLookup", str(recursive).lower())
        .text(path)
    )
    known = lit_array((f.name for f in schema.fields), "string")
    keys = F.json_object_keys(F.col("value"))
    is_known = keys.isNotNull() & (F.size(F.array_except(keys, known)) == 0)
    good = (
        raw.where(is_known)
        .select(F.from_json("value", schema).alias("r"))
        .select("r.*")
    )
    unknown = raw.where(~F.coalesce(is_known, F.lit(False))).select(
        F.col("value").alias("raw_line")
    )
    return good, unknown


def evolved_schema(
    spark: SparkSession,
    path: str,
    base_schema: T.StructType,
    recursive: bool = True,
) -> T.StructType:
    """The opt-in widen-with-nulls policy: ``base_schema`` plus every NEW
    top-level field the batch carries (types from one inference pass over
    the batch, appended in name order so the result is deterministic).
    Known fields keep the PINNED types — inference never narrows or
    flips an existing column, only discovers additions.

    The inference pass reads the batch once; on the incremental ingest
    path a batch is bounded (bookmark/availableNow slices), so this is a
    bounded cost paid only when the caller opts into evolution — never
    the 100 TB-scan-to-infer the pinned default exists to avoid. Writers
    appending a widened batch to silver create mixed-footer files; the
    read contract for evolved zones is ``read_zone(...,
    merge_schema=True)`` (older files surface the new columns as null)
    until a compaction or backfill settles the zone on one footer."""
    inferred = (
        spark.read.option("recursiveFileLookup", str(recursive).lower())
        .option("multiLine", "false")
        .json(path)
        .schema
    )
    known = {f.name for f in base_schema.fields}
    new = sorted(
        (
            f
            for f in inferred.fields
            if f.name not in known and f.name != _CORRUPT_COL
        ),
        key=lambda f: f.name,
    )
    return T.StructType(list(base_schema.fields) + new)
