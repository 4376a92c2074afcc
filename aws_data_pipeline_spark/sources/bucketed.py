"""Bucketed-table layout for shuffle-free co-located joins.

At 100 TB the dominant cost of a fact-fact join (e.g. orders ⋈ lineitem on
orderkey) is shuffling both sides. Writing both tables bucketed by the join
key with the same bucket count makes the join a per-bucket zip: Spark plans
SortMergeJoin with NO Exchange on either side (asserted in
tests/test_scale.py). The one-time bucketing shuffle is amortized over every
subsequent join/aggregation on that key — the classic warehouse layout
decision the reference never makes (its silver zone is partitioned by date
only, so every gold groupBy re-shuffles; SURVEY.md §4.2-2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    num_buckets: int,
    sort_by: Sequence[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed table,
    replacing any existing one.

    ``sort_by`` within buckets lets SortMergeJoin skip its sort too —
    scan -> zip join, no exchange, no sort.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — carries the bucketing spec into the plan (a plain
    ``spark.read.parquet(path)`` of the same files would NOT: bucketing
    metadata lives in the catalog, not the footers)."""
    return spark.table(table)
