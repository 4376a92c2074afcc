"""Global row number preconditions that must fail loudly, not corrupt ids.

The offset-width checks are pure Python: the per-partition counts are
faked, since a real 2^33-row range partition is out of reach in a unit
test. The id bit-layout check runs on a small multi-partition frame.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators.windows import (
    _MID_OFFSET_BITS,
    _partition_offsets,
)


def test_partition_offsets_are_cumulative():
    offsets, total = _partition_offsets({0: 3, 2: 5}, 4)
    assert offsets == [(0, 0), (1, 3), (2, 3), (3, 8)]
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
