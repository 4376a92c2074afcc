"""Derivation operators (reference parity: P4-P8, P10-P11).

Reference sites: ``bronze_to_silver.py:44-45`` (audit columns), ``:57-60``
(date parts), ``:62-69`` (bucketing/derived type); ``silver_to_gold.py:66-76``
(tenure + segment).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_data_pipeline_spark.functions.buckets import (
    amount_category,
    customer_segment,
    whole_number_flag,
)


def add_date_parts(df: DataFrame, ts_col: str) -> DataFrame:
    """P6: year/month/day/hour int columns from a timestamp.

    These double as the partition columns for the silver zone (hive layout
    ``year=/month=/day=``), which is what makes partition pruning work for
    date-ranged queries at 100 TB.
    """
    ts = F.col(ts_col)
    return df.withColumns(
        {
            "year": F.year(ts),
            "month": F.month(ts),
            "day": F.dayofmonth(ts),
            "hour": F.hour(ts),
        }
    )


def add_amount_category(
    df: DataFrame,
    amount_col: str,
    small_max: float = 100.0,
    medium_max: float = 1000.0,
    out_col: str = "amount_category",
) -> DataFrame:
    """P7: CASE-WHEN bucketing (strict ``<`` boundaries, reference semantics)."""
    return df.withColumn(out_col, amount_category(F.col(amount_col), small_max, medium_max))


def add_type_derived(
    df: DataFrame, amount_col: str, out_col: str = "transaction_type_derived"
) -> DataFrame:
    """P8: whole_number/decimal flag via long-truncation equality."""
    return df.withColumn(out_col, whole_number_flag(F.col(amount_col)))


def add_audit_columns(df: DataFrame, clock: Column | None = None) -> DataFrame:
    """P4/P5: constant quality score (1.0) + processing timestamp.

    ``clock`` is injectable (pass ``F.lit(...).cast('timestamp')``) so tests
    and oracle-checked plans stay deterministic; the pipeline passes ``None``
    -> ``current_timestamp()`` like the reference (``bronze_to_silver.py:45``).
    """
    return df.withColumns(
        {
            "data_quality_score": F.lit(1.0),
            "processed_timestamp": clock if clock is not None else F.current_timestamp(),
        }
    )


def add_tenure_and_segment(
    df: DataFrame,
    first_col: str,
    last_col: str,
    value_col: str,
    high_min: float = 10000.0,
    medium_min: float = 5000.0,
) -> DataFrame:
    """P10/P11: tenure days between first/last activity + value tier."""
    return df.withColumns(
        {
            "customer_tenure_days": F.datediff(F.col(last_col), F.col(first_col)),
            "customer_segment": customer_segment(F.col(value_col), high_min, medium_min),
        }
    )
