"""Cleansing operators (reference parity: P1-P3, P9, A1).

Reference sites: ``bronze_to_silver.py:26-51`` (validate_data_quality),
``:123-126`` (type normalization), ``:131-133`` (partition guard).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalize_types(
    df: DataFrame,
    timestamp_cols: dict[str, str] | None = None,
    casts: dict[str, str] | None = None,
) -> DataFrame:
    """P1: parse timestamps with an explicit format and apply casts.

    Reference ``bronze_to_silver.py:123-126``: ``to_timestamp(transaction_date,
    'yyyy-MM-dd HH:mm:ss')`` + casts to double/string. Unparseable inputs
    become null (later dropped by the partition guard), matching reference
    semantics.
    """
    out = df
    for col, fmt in (timestamp_cols or {}).items():
        # try_to_timestamp: unparseable -> null (the reference's Spark 3.3
        # non-ANSI behavior; under Spark 4 ANSI, to_timestamp would throw)
        out = out.withColumn(col, F.try_to_timestamp(F.col(col), F.lit(fmt)))
    for col, dtype in (casts or {}).items():
        out = out.withColumn(col, F.col(col).cast(dtype))
    return out


def require_non_null(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P2/P9: keep rows where every listed column is non-null.

    Conjunction of ``isNotNull`` — pushed into the scan by Catalyst
    (``PushedFilters: [IsNotNull(...)]``), so at 100 TB the parquet reader
    skips row groups whose statistics prove all-null columns.
    """
    pred = F.lit(True)
    for c in cols:
        pred = pred & F.col(c).isNotNull()
    return df.filter(pred)


def require_positive(df: DataFrame, col: str) -> DataFrame:
    """P3: ``amount > 0`` (reference ``bronze_to_silver.py:42``)."""
    return df.filter(F.col(col) > 0)


def dedup_deterministic(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]
) -> DataFrame:
    """A1, deterministic variant: keep the first row per key under a total
    order. ``row_number() OVER (PARTITION BY keys ORDER BY order_by) = 1``.

    One shuffle on the dedup keys; at scale prefer this over
    ``dropDuplicates`` anyway because the survivor is stable across re-runs
    (idempotent re-ingestion, SURVEY.md §4.2-6).
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_by)
    rn = F.row_number().over(w)
    return df.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")
