"""Operator library: pure ``DataFrame -> DataFrame`` transformations.

Purity rule (SURVEY.md §7): no I/O and no actions inside operators, so the
same function serves batch plans, the medallion pipeline, and
``foreachBatch`` streaming sinks. All hot-path expressions are JVM-side
Column expressions; Python only ever appears behind Arrow-batched pandas
UDFs in the explicitly-marked north-star operators.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _sql_literal(x, type_: str) -> str:
    if type_ == "string":
        return "'" + str(x).replace("\\", "\\\\").replace("'", "\\'") + "'"
    if type_ == "int":
        return str(int(x))
    if type_ == "bigint":
        return f"{int(x)}L"
    if type_ != "double":
        raise ValueError(f"lit_array: unsupported element type {type_!r}")
    x = float(x)
    if math.isnan(x) or math.isinf(x):
        return f"CAST('{x!r}' AS DOUBLE)"  # 'nan' / 'inf' / '-inf'
    # the shortest repr parses back to the same bits; "-0.0D" parses as
    # -(0.0D), which folds to -0.0
    return f"{x!r}D"


def lit_array(values: Iterable, type_: str) -> Column:
    """A literal ``ARRAY<type_>`` of ``values`` as ONE ``F.expr`` that the
    optimizer folds to an array literal. ``F.array(*[F.lit(x) ...])`` costs
    a Py4J round trip per element (an SQ8 probe's 2 x dim per-dim ranges,
    IVF centroids, LSH hyperplanes); this costs one. ``type_`` is
    ``"double"``, ``"int"``, ``"bigint"`` or ``"string"``. Doubles
    round-trip bit-exactly, NaN, +-inf and -0.0 included; the type is the
    ``F.lit`` path's, except that a NaN or an infinity (a string cast)
    makes the elements nullable."""
    items = ", ".join(_sql_literal(x, type_) for x in values)
    if not items:
        return F.expr(f"CAST(array() AS ARRAY<{type_.upper()}>)")
    return F.expr(f"array({items})")


def arrow_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: StructType
) -> DataFrame:
    """A small driver-built frame through the Arrow path: ``rows`` become
    one Arrow table of ``schema`` that the driver ships straight to the
    JVM, whatever the session's ``arrow.pyspark.enabled``.
    ``createDataFrame`` over a Python list is instead unpickled by a
    Python worker each time the plan scans it (``scripts/plan_lint.py``'s
    Python-built local frame family)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
            schema=arrow,
        ),
        schema,
    )


def widen_narrow_input(df: DataFrame) -> DataFrame:
    """Repartition a too-narrow frame up to the cluster's default
    parallelism before an Arrow (``mapInPandas``) stage.

    ``mapInPandas`` inherits the upstream partitioning: a single-file
    parquet scan is ONE partition, so the whole Python stage runs on one
    core no matter how many the cluster has — measured ~4x wall time and
    most of the run-to-run variance on simhash at sf0.1 (5000 docs, one
    file). The repartition fires only when the input has fewer partitions
    than cores, so at real scale (file count >> cores) the plan is
    untouched; when it does fire, the shuffled bytes are the small input
    itself. Purity holds: partition-count inspection is plan metadata,
    not an action, and every operator using this emits per-row /
    per-bucket deterministic values, so output VALUES are independent of
    the partitioning (pinned by scripts/partition_sweep.py).
    """
    if df.isStreaming:
        # partition inspection (.rdd) is undefined on a streaming frame;
        # micro-batch parallelism is the source's trigger sizing anyway.
        # Operators applied inside foreachBatch see plain batch frames
        # and widen normally.
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
