"""operators.lit_array: one folded SQL literal in place of one ``F.lit``
per element, with the same values, bit for bit, and the same type."""

from __future__ import annotations

import random
import struct

import pytest
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators import lit_array

EDGE_DOUBLES = [
    0.1, 1 / 3, -2.5, 3.0, 0.0, -0.0, 1e16, 1e-7, 123456789012345678.0,
    5e-324, -5e-324, 2.2250738585072014e-308, 1.7976931348623157e308,
    -1.7976931348623157e308,
]


def _both(spark, values, type_, to_lit=lambda x: x):
    df = spark.range(1).select(
        lit_array(values, type_).alias("got"),
        F.array(*[F.lit(to_lit(x)) for x in values]).alias("ref"),
    )
    row = df.first()
    return df.schema, row["got"], row["ref"]


def _bits(xs):
    return [struct.pack("<d", x) for x in xs]


def test_doubles_round_trip_bit_exactly(spark):
    rng = random.Random(7)
    values = EDGE_DOUBLES + [
        struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0]
        for _ in range(200)
    ]
    values = [v for v in values if v == v and abs(v) != float("inf")]
    schema, got, ref = _both(spark, values, "double", float)
    assert _bits(got) == _bits(ref)
    assert schema["got"].dataType == schema["ref"].dataType


@pytest.mark.parametrize("special", [float("nan"), float("inf"), float("-inf")])
def test_non_finite_doubles(spark, special):
    values = [1.5, special, -0.0]
    _, got, ref = _both(spark, values, "double", float)
    assert _bits(got) == _bits(ref)


def test_strings_keep_quotes_and_backslashes(spark):
    values = ["a", "it's", "back\\slash", "\\'", "new\nline", "ünï", "", "%_",
              "\\u0041", "tab\t"]
    schema, got, ref = _both(spark, values, "string")
    assert got == ref == values
    assert schema["got"].dataType == schema["ref"].dataType


@pytest.mark.parametrize("type_", ["int", "bigint"])
def test_integers(spark, type_):
    values = [0, -3, 2**31 - 1] if type_ == "int" else [0, -3, 2**40]
    schema, got, ref = _both(spark, values, type_)
    assert got == ref == values
    assert schema["got"].dataType.elementType.simpleString() == type_


def test_empty_array_is_typed(spark):
    df = spark.range(1).select(lit_array([], "double").alias("a"))
    assert df.schema["a"].dataType.elementType.simpleString() == "double"
    assert df.first()["a"] == []


def test_unsupported_type_raises():
    with pytest.raises(ValueError):
        lit_array([1], "decimal(10,2)")
