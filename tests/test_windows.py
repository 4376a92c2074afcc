"""Global row number preconditions that must fail loudly, not corrupt ids.

Pure-Python (no SparkSession): the per-partition counts are faked, since a
real 2^33-row range partition is out of reach in a unit test.
"""

from __future__ import annotations

import pytest

from aws_data_pipeline_spark.operators.windows import _partition_offsets


def test_partition_offsets_are_cumulative():
    offsets, total = _partition_offsets({0: 3, 2: 5}, 4)
    assert offsets == [(0, 0), (1, 3), (2, 3), (3, 8)]
    assert total == 8


def test_partition_offsets_reject_rows_past_the_id_offset_width():
    # the largest count that still fits the 33 row-offset bits passes
    _partition_offsets({0: 2**33 - 1}, 2)
    with pytest.raises(ValueError, match=r"partition\(s\) \[1\]"):
        _partition_offsets({0: 7, 1: 2**33}, 2)
