"""Z-order (Morton) clustering keys for multi-dimensional data skipping.

``compact_zone(sort_by=...)`` clusters lexicographically: row-group min/max
ranges are narrow for the FIRST sort column and near-full-range for every
later one, so only leading-column filters skip row groups. Bit-interleaving
the quantized dimensions into one Morton key makes every participating
column's ranges narrow simultaneously — Delta/Iceberg's Z-ORDER, here as a
pure JVM column expression (shift/mask/or inside whole-stage codegen, no
UDF) feeding the same repartitionByRange + sortWithinPartitions mechanics.

At 100 TB this is the difference between "queries filtering on ship date
skip files but queries filtering on price scan the partition" and both
skipping: one clustered rewrite serves every dimension in the key.
Fidelity degrades gracefully with dimension count: each column is
quantized to 16 bits and the key keeps the top ``min(16, 63 // D)`` bits of
each of its D columns, so up to 3 columns keep all 16 bits, 4 keep 15 and 8
keep 7; past a handful of columns the per-column resolution stops paying —
the same guidance Delta documents.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_BITS = 16  # quantization bits per dimension of the 63-bit Morton key


def quantize(col: Column, lo: float, hi: float) -> Column:
    """Linear map of a numeric column onto ``[0, 2^16)`` — the rank
    proxy the interleave needs. NULLs and out-of-range values clamp to the
    edges (a NULL must land SOMEWHERE deterministic; the edge keeps it
    out of every selective interior range)."""
    if hi <= lo:
        # degenerate domain: every value is the same cell
        return F.lit(0).cast("long")
    span = float(hi) - float(lo)
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(span) * F.lit(
        float((1 << _BITS) - 1)
    )
    q = F.round(scaled).cast("long")
    top = F.lit((1 << _BITS) - 1)
    return F.greatest(F.lit(0), F.least(top, F.coalesce(q, F.lit(0))))


def zorder_proxy(col: Column, dtype) -> Column:
    """Order-preserving numeric proxy for a Z-order dimension — what turns
    the loud non-numeric failure into a documented transform:

    - numeric: the column itself;
    - date: epoch day (``datediff`` from 1970-01-01) — exact;
    - timestamp: epoch seconds — exact at clustering granularity;
    - string: the first 8 BYTES of the UTF-8 encoding as a big-endian
      unsigned integer (hex-prefix → base-10 ``conv`` → double). Byte
      order == lexicographic byte order, so the proxy is monotone in the
      string sort order; strings sharing an 8-byte prefix collapse to one
      proxy value — fine for a 16-bit quantizer, but a domain whose
      values share a LONG common prefix (URLs under one host) should
      strip the prefix first or cluster on a different key.

    Anything else (arrays, structs, maps, binary) still fails loudly:
    there is no order-preserving scalar to derive."""
    from pyspark.sql.types import (
        DateType,
        NumericType,
        StringType,
        TimestampType,
    )

    if isinstance(dtype, NumericType):
        return col
    if isinstance(dtype, DateType):
        return F.datediff(col, F.to_date(F.lit("1970-01-01")))
    if isinstance(dtype, TimestampType):
        return F.unix_timestamp(col)
    if isinstance(dtype, StringType):
        # first 8 bytes of the encoding, right-padded: substring on the
        # HEX string slices bytes (not characters), so multi-byte UTF-8
        # never overflows the 64-bit conv
        hex8 = F.rpad(
            F.substring(F.hex(F.encode(col, "UTF-8")), 1, 16), 16, "0"
        )
        return F.conv(hex8, 16, 10).cast("double")
    raise ValueError(
        f"zorder_proxy: no order-preserving numeric proxy for {dtype} — "
        "Z-order dimensions must be numeric, date, timestamp, or string"
    )


def zorder_key(quantized: Sequence[Column]) -> Column:
    """Morton interleave of pre-quantized ``[0, 2^16)`` longs, keeping the
    top ``b = min(16, 63 // D)`` bits of each of the D dimensions
    (``q >> (16 - b)``) so the key fits a signed long: bit ``i`` of
    dimension ``d`` lands at position ``i * D + d``. Up to 3 dimensions
    keep all 16 bits. Pure shift/mask expression — ``b × D`` terms, all
    inside codegen."""
    d_n = len(quantized)
    if not 0 < d_n <= 63:
        raise ValueError(f"zorder_key needs 1 to 63 columns, got {d_n}")
    bits = min(_BITS, 63 // d_n)
    key = F.lit(0).cast("long")
    for d, q in enumerate(quantized):
        for i in range(bits):
            bit = F.shiftright(q, _BITS - bits + i).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, i * d_n + d)
    return key


def zorder_cluster_zone(
    spark: SparkSession,
    path: str,
    cols: Sequence[str],
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a zone clustered on the Z-order key of ``cols`` (each
    dimension quantized to 16 bits over its domain, taken from one min/max
    scan of the data; :func:`zorder_key` keeps ``min(16, 63 // len(cols))``
    of them). Same
    rewrite contract as ``compact_zone``: range-partition across
    ~target-size files, sort within, then the in-place ``_compacting`` swap
    (the zone directory is never truncated; ``_``-prefixed metadata trees
    survive — see compact_zone's docstring). The key column is computational
    only and is dropped before the write; returns the output task/file
    count.

    Non-numeric dimensions (date, timestamp, string) are routed through
    :func:`zorder_proxy` — an order-preserving numeric stand-in — so the
    common real-world keys cluster directly; genuinely proxy-less types
    still fail loudly there."""
    from aws_data_pipeline_spark.sources.parquet import (
        clustered_rewrite,
        complete_pending_compaction,
        read_zone,
    )

    # heal any interrupted prior swap BEFORE reading: with a _SWAP_READY
    # marker on disk the zone's live files may be mid-replacement
    complete_pending_compaction(spark, path)
    df = read_zone(spark, path)
    proxies = [zorder_proxy(F.col(c), df.schema[c].dataType) for c in cols]
    stats = df.agg(
        *[F.min(p.cast("double")).alias(f"lo_{i}") for i, p in enumerate(proxies)],
        *[F.max(p.cast("double")).alias(f"hi_{i}") for i, p in enumerate(proxies)],
    ).collect()[0]
    if any(stats[f"lo_{i}"] is None for i in range(len(cols))):
        # empty zone or all-NULL key column: nothing to cluster, and a
        # truncate-rewrite here would only risk the data for a no-op
        return 0
    qs = [
        quantize(p, stats[f"lo_{i}"], stats[f"hi_{i}"])
        for i, p in enumerate(proxies)
    ]
    return clustered_rewrite(
        df.withColumn("__zkey", zorder_key(qs)),
        path,
        ["__zkey"],
        target_file_bytes,
        drop_cols=["__zkey"],
    )
