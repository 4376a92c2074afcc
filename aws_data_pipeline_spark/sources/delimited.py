"""CSV and ORC source/sink — format surface beyond the reference's
JSONL + Parquet (reference S1-S8), for interchange with warehouses that
export delimited files and ORC-based lakes.

Same rules as every other source here: explicit StructType (no inference
pass at 100 TB), recursive lookup for nested batch layouts, and
column/predicate pushdown preserved (ORC supports both natively; CSV scans
prune columns at parse time)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def quarantine_split(
    raw: DataFrame, schema: T.StructType, corrupt_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared good/bad split for PERMISSIVE+corrupt-column scans (CSV and
    JSONL quarantines): ``good`` = rows whose corrupt marker is NULL, with
    the marker dropped; ``bad`` = the raw text of every corrupt row. The
    bad projection references EVERY schema column (corruption detection is
    per-PARSED-column — a pruned scan cannot flag a row malformed in a
    pruned field) and is materialized eagerly, because Spark rejects any
    query over a raw scan that prunes back to the corrupt column alone
    (SPARK-21610) — ``bad.count()`` would otherwise die. These invariants
    live HERE, once, for both formats."""
    good = raw.filter(raw[corrupt_col].isNull()).drop(corrupt_col)
    all_fields = [F.col(f).cast("string") for f in schema.fieldNames()]
    bad = (
        raw.filter(raw[corrupt_col].isNotNull())
        .select(
            F.coalesce(
                F.col(corrupt_col), F.concat_ws(",", *all_fields)
            ).alias(corrupt_col)
        )
        .localCheckpoint(eager=True)
    )
    return good, bad


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Comma-separated scan with a header row and explicit schema.
    ``mode=FAILFAST`` — silent null-ing of
    malformed rows (the default PERMISSIVE) hides data-quality problems the
    cleanse operators are supposed to count."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("delimiter", ",")
        .option("recursiveFileLookup", "true")
        .option("mode", "FAILFAST")
        .csv(path)
    )


CORRUPT_COL = "_corrupt_record"


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> tuple[DataFrame, DataFrame]:
    """CSV scan that QUARANTINES malformed rows instead of failing the job:
    returns ``(good, bad)`` where ``good`` has exactly the declared schema
    and ``bad`` carries the raw text of each unparseable line.

    This is the other half of the ``read_csv`` FAILFAST trade: FAILFAST is
    right when any corruption means the export is broken and must be
    re-delivered; at 100 TB of third-party feeds, one mangled line must not
    kill a multi-hour job — route it to a quarantine sink, count it in QC,
    keep going.

    Spark contract fine print, stated rather than hidden:

    - CSV corruption detection is per-PARSED-column, so consume ``good``
      FULL-WIDTH (write it to a zone, or select every column): a
      column-pruned read parses only the referenced columns and cannot
      notice corruption in the pruned ones. ``good.count()`` fails LOUDLY
      (SPARK-21610's corrupt-only-reference rule) rather than returning a
      silently wrong number — count after materializing.
    - The BAD frame is materialized eagerly (localCheckpoint) at call
      time: the same rule would otherwise reject innocent consumers like
      ``bad.count()``. Only the corrupt rows are pinned (the exception,
      not the corpus), and its projection references EVERY schema column,
      forcing the full parse so a row malformed in ANY column is captured.
    """
    full = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    raw = (
        spark.read.schema(full)
        .option("header", "true")
        .option("delimiter", ",")
        .option("recursiveFileLookup", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )
    return quarantine_split(raw, schema, CORRUPT_COL)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", "true").option(
        "delimiter", ","
    ).csv(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)
