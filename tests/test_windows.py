"""Global-order operators: preconditions that must fail loudly, not
corrupt ids, and the default (AQE-sized) range path against the
single-partition window.

The offset-width checks are pure Python: the per-partition counts are
faked, since a real 2^33-row range partition is out of reach in a unit
test. The id bit-layout checks run on small multi-partition frames.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators.windows import (
    _MID_OFFSET_BITS,
    _partition_offsets,
    _pinned_range_totals,
    global_ntile,
    global_prefix_sum,
    global_row_number,
)


def test_partition_offsets_are_cumulative():
    offsets, total = _partition_offsets({0: 3, 2: 5}, 4)
    assert offsets == [0, 3, 3, 8]
    assert total == 8


def test_partition_offsets_reject_rows_past_the_id_offset_width():
    # the largest count that still fits the 33 row-offset bits passes
    _partition_offsets({0: 2**33 - 1}, 2)
    with pytest.raises(ValueError, match=r"partition\(s\) \[1\]"):
        _partition_offsets({0: 7, 1: 2**33}, 2)


def test_monotonic_id_bit_layout_is_partition_then_row_offset(spark):
    """``_global_row_number_with_total`` reads ``__pid`` and the local row
    number straight off ``monotonically_increasing_id()``; a Spark change
    to its (partition << 33) + row-offset layout must fail here instead
    of silently corrupting global ranks."""
    rows = (
        spark.range(0, 60, numPartitions=5)
        .select(
            F.monotonically_increasing_id().alias("mid"),
            F.spark_partition_id().alias("pid"),
        )
        .collect()
    )
    mask = (1 << _MID_OFFSET_BITS) - 1
    assert all(r.mid >> _MID_OFFSET_BITS == r.pid for r in rows)
    offsets: dict[int, list[int]] = {}
    for r in rows:
        offsets.setdefault(r.pid, []).append(r.mid & mask)
    assert len(offsets) == 5
    assert all(sorted(o) == list(range(len(o))) for o in offsets.values())


def test_monotonic_id_partition_bits_match_pid_on_range_checkpoint(spark):
    """The id layout ``_global_row_number_with_total`` reads its row
    offset from (the low 33 bits): over a
    ``repartitionByRange(...).localCheckpoint()`` frame,
    ``shiftrightunsigned(monotonically_increasing_id(), 33)`` equals
    ``spark_partition_id()`` on every row, so a change to Spark's id
    layout fails here instead of corrupting ``global_row_number``."""
    df = spark.range(0, 3000).select(
        "id", (F.col("id") * 7919 % 97).alias("v")
    )
    part = df.repartitionByRange(5, "v", "id").localCheckpoint()
    ids = part.select(
        F.shiftrightunsigned(
            F.monotonically_increasing_id(), _MID_OFFSET_BITS
        ).alias("hi"),
        F.spark_partition_id().alias("pid"),
    )
    assert ids.filter(F.col("hi") != F.col("pid")).isEmpty()
    assert ids.select("pid").distinct().count() == 5


def test_default_range_path_matches_single_partition_window(spark, coalesced):
    """With no ``num_partitions`` AQE sizes the range shuffle; coalescing
    merges contiguous ranges in order, so prefix sums, row numbers and
    ntiles still equal the one-task ``Window.orderBy`` result, for
    duplicate order keys tie-broken by a unique id. The offsets ride a
    literal lookup: no driver-built frame, no broadcast."""
    df = spark.range(0, 3000).select(
        "id",
        (F.col("id") * 7919 % 97).alias("v"),  # ~31 duplicates per key
        (F.col("id") * 31 % 5 + 1).alias("w"),
    )
    order = [F.col("v").desc(), F.col("id")]
    _, per_pid, n = _pinned_range_totals(df, order, None, {"r": F.count("*")})
    assert sum(per_pid["r"].values()) == 3000
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n == 1 if coalesced == "one" else 1 < n < shuffle

    w = Window.orderBy(*order)
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum, totals = global_prefix_sum(df, order, ["w"])
    assert totals == {"w": 9000}
    rn = global_row_number(df, order)
    nt = global_ntile(df, 7, order, out_col="q")
    for got, want in (
        (cum, df.withColumn("cum_w", F.sum("w").over(running))),
        (rn, df.withColumn("rn", F.row_number().over(w))),
        (nt, df.withColumn("q", F.ntile(7).over(w))),
    ):
        assert sorted(got.collect()) == sorted(want.collect())
        plan = got._sc._jvm.PythonSQLUtils.explainString(
            got._jdf.queryExecution(), "formatted"
        )
        assert "applySchemaToPythonRDD" not in plan
        assert "BroadcastExchange" not in plan
        assert "SinglePartition" not in plan
