"""Engine-portable hash primitives.

The portable-hash contract: any value that gates DATA MEMBERSHIP (split
assignment, shingle signatures, feature buckets) has an md5-based variant
whose exact integer value an external engine can replay — md5 is defined
identically everywhere, and the first 15 hex chars are 60 bits, exactly
representable in a signed 64-bit long. The DuckDB side of the contract is

    ('0x' || substr(md5(x), 1, 15))::UBIGINT

optionally reduced with ``% m`` — bit-for-bit the value this module
produces. Every Spark call site MUST go through :func:`md5_prefix_long`
(or :func:`hash_long`, the one ``hash_fn`` dispatch, which uses it),
and every oracle must use the expression above: the prefix width is part
of the cross-engine contract, so a one-sided change breaks value parity
for splits, MinHash candidates, and DSIR buckets at once.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_prefix_long(col: Column) -> Column:
    """First-60-bits-of-md5 as a non-negative long (see module docstring)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash_long(hash_fn: str, *cols: Column) -> Column:
    """The one dispatch over the hash families a ``hash_fn`` option names:
    ``"xxhash64"`` is ``xxhash64(*cols)`` (the JVM-side hot path, no
    DuckDB twin); ``"md5"`` is :func:`md5_prefix_long` of the columns
    joined with ``':'`` (the portable contract above, replayable as
    ``md5(a || ':' || b)`` outside Spark). A single column is hashed as
    is."""
    if hash_fn == "xxhash64":
        return F.xxhash64(*cols)
    if hash_fn == "md5":
        return md5_prefix_long(F.concat_ws(":", *cols) if len(cols) > 1 else cols[0])
    raise ValueError(f"unknown hash_fn: {hash_fn!r}")
