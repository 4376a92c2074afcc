"""Testdata catalog: explicit schemas + loaders for the driver tables.

Explicit StructTypes everywhere (SURVEY.md §4.2-4): schema inference is an
extra listing+sampling pass that is prohibitive at 100 TB and can flip types
between runs. The reference infers its bronze schema on every read
(reference ``bronze_to_silver.py:108-114``); we never do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# The transactions record the reference pipeline processes
# (reference ``scripts/generate_test_data.py:21-35``); bronze arrives as JSONL.
TXN_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType()),
        T.StructField("customer_id", T.StringType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("transaction_date", T.StringType()),
        T.StructField("transaction_type", T.StringType()),
        T.StructField("merchant_id", T.StringType()),
        T.StructField("payment_method", T.StringType()),
        T.StructField("currency", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("category", T.StringType()),
    ]
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Parquet scan with Catalyst pushdown/pruning.

    ``events.ts`` has been written as parquet TIMESTAMP(NANOS) by some
    generator versions, which Spark's vectorized reader rejects outright;
    when that happens we read nanos as long (legacy conf) and truncate to
    microsecond timestamps — exactly what DuckDB does implicitly (its
    TIMESTAMP is µs), keeping oracle parity. Generators that already write
    µs timestamps need no conversion, so the truncation is gated on the
    read schema actually surfacing a long.
    """
    if name == "events":
        # scoped, not session-permanent: leaving the legacy conf on would
        # make every LATER parquet read silently surface TIMESTAMP(NANOS)
        # columns as longs instead of failing loudly — a confusing type
        # error far from its cause. The relation captures its schema at
        # read time, so restoring immediately is safe for this df.
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        finally:
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
        from pyspark.sql import functions as F

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            # generators that write naive µs timestamps surface TIMESTAMP_NTZ;
            # streaming watermarks require TIMESTAMP, and with the session
            # timezone pinned to UTC the cast preserves every value
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    # app-lifetime inferred-schema pin (sources.parquet.read_pinned):
    # testdata tables are static for the life of an application, so every
    # construction after the first skips the footer-inference pass —
    # per-rep fixed cost across the whole bench (optimization guide §6).
    # ``events`` stays on the raw read above: its inference is conf-gated
    # (nanosAsLong) and re-reading nanos under a pinned long schema
    # without the conf would not round-trip.
    from aws_data_pipeline_spark.sources.parquet import read_pinned

    return read_pinned(spark, f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() entry points."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
