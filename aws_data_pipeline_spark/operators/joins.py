"""Join operators (SURVEY.md §2.5 gap list: equi/semi/anti/broadcast,
as-of, bucketed range join).

The reference has no joins at all (verified in SURVEY.md §2.5); these are the
engine's enrichment surface, designed shuffle-first:

- dims broadcast (`F.broadcast`) so the fact side never shuffles for them;
- the as-of join is the union+window formulation — one shuffle on the key,
  NO range explosion, which is the only shape that survives 100 TB;
- the range join pre-buckets both sides on coarse time buckets so the join is
  an equi-join on (key, bucket) with a residual filter, instead of a
  broadcast-nested-loop over the cross product.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators import lit_array


def enrich(
    fact: DataFrame,
    dims: Sequence[tuple],
    how: str = "inner",
    broadcast_dims: bool = True,
) -> DataFrame:
    """Chain fact ⋈ dim joins, broadcasting each dim side.

    Each entry is ``(dim, on)`` or ``(dim, on, broadcast)``; the 3-tuple
    form overrides ``broadcast_dims`` per side. Hint ONLY true dims
    (region/nation/customer/supplier/part — bounded small relative to the
    facts). A fact-derived side (orders, any filtered/aggregated fact
    slice) must pass ``broadcast=False``: its size is data-dependent, and
    a forced broadcast that fits at test SF OOMs at 100x — leave the
    strategy to AQE, which broadcasts only while the measured runtime size
    actually fits (the q12 pattern, VERDICT r3).
    """
    out = fact
    for entry in dims:
        dim, on = entry[0], entry[1]
        bcast = entry[2] if len(entry) > 2 else broadcast_dims
        d = F.broadcast(dim) if bcast else dim
        out = out.join(d, on, how)
    return out


def semi_join(left: DataFrame, right: DataFrame, on: Column) -> DataFrame:
    """EXISTS: rows of left with at least one match in right."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Column) -> DataFrame:
    """NOT EXISTS: rows of left with no match in right (orphan/QC checks)."""
    return left.join(right, on, "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_cols: Sequence[str],
    prefix: str = "matched_",
    right_tiebreak: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right.ts <= left.ts`` and the same key.

    Union+window formulation: tag both sides, sort within key by (ts, side)
    — right rows first on ties, matching the <= semantics — and carry the
    last-seen right row forward with ``last(..., ignorenulls)`` over an
    unbounded-preceding frame. One shuffle on ``key``; no range join, no
    state explosion — this is the 100 TB-safe shape (a broadcast-nested-loop
    range join would be O(n*m) per key).

    Pass ``right_tiebreak`` (a unique right column, e.g. event_id) when
    right rows can SHARE (key, ts): without it the tied rows' order — and
    therefore which one wins the match — is partitioning-dependent. With
    it, the row with the GREATEST tiebreak value wins, deterministically.
    NULL-key right rows are dropped (equality-on-key semantics: they can
    match nothing), as are NULL-ts right rows (ascending sort would put
    them FIRST, where the carry-forward would hand them to every left row
    preceding the first valid right row).
    """
    rstruct = F.struct(*[F.col(c) for c in right_cols]).alias("__r")
    # a right row with NULL ts can never satisfy ts <= l.ts — but ascending
    # sort puts NULLs FIRST, where last(ignorenulls) would carry it forward
    # into every left row that precedes the first valid right row; drop
    # them up front
    r = right.filter(F.col(ts).isNotNull() & F.col(key).isNotNull()).select(
        F.col(key).alias(key), F.col(ts).alias(ts), rstruct, F.lit(0).alias("__side")
    )
    l = left.withColumn("__side", F.lit(1)).withColumn(
        "__r", F.lit(None).cast(r.schema["__r"].dataType)
    )
    l = l.select(*left.columns, "__side", "__r")
    # align schemas: right side carries only (key, ts, __r, __side)
    for c in left.columns:
        if c not in (key, ts):
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    r = r.select(*left.columns, "__side", "__r")

    from pyspark.sql import Window

    order = [F.col(ts).asc(), F.col("__side").asc()]
    if right_tiebreak is not None:
        # left rows have __r NULL -> NULL tiebreak, sorted first among
        # themselves, which is irrelevant (they are not carried forward)
        order.append(F.col("__r").getField(right_tiebreak).asc_nulls_first())
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = l.unionByName(r)
    filled = unioned.withColumn("__last_r", F.last("__r", ignorenulls=True).over(w))
    out = filled.filter(F.col("__side") == 1)
    for c in right_cols:
        out = out.withColumn(f"{prefix}{c}", F.col("__last_r").getField(c))
    return out.drop("__side", "__r", "__last_r")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe shuffle join: salt the fact side, replicate the dim side.

    A hot fact key (one customer with 1% of 100 TB) makes one shuffle
    partition O(hot-key volume) in a plain join. Salting appends a random
    bucket to the fact key and cross-replicates each dim row across all
    ``salt_buckets`` values, so the hot key spreads over ``salt_buckets``
    tasks. Result equals the unsalted join exactly (verified in
    tests/test_scale.py). Use when AQE's skew-join split can't kick in
    (e.g. the skewed side feeds an aggregation that pins partitioning).
    Dim-side cost: ``salt_buckets``x replication — keep the dim projected
    narrow.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        # an unmatched DIM row exists once per salt replica: right/full
        # outer joins would emit it salt_buckets times, silently breaking
        # the equals-the-unsalted-join guarantee — fail instead
        raise ValueError(
            f"salted_join cannot preserve {how!r} semantics (unmatched dim "
            "rows are replicated per salt); use a plain join for outer-on-dim"
        )
    salted_fact = fact.withColumn(
        "__salt", (F.rand(seed=7) * salt_buckets).cast("int")
    )
    replicated_dim = dim.withColumn(
        "__salt", F.explode(lit_array(range(salt_buckets), "int"))
    )
    out = salted_fact.join(replicated_dim, [key, "__salt"], how)
    return out.drop("__salt")


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    window_seconds: int,
    right_prefix: str = "r_",
) -> DataFrame:
    """Pairs (l, r) with same key and ``l.ts < r.ts <= l.ts + window``.

    Both sides get a coarse bucket ``floor(epoch / window)``; a right row can
    only match left rows in its own or the previous bucket, so the join is an
    equi-join on (key, bucket) over two bucket-shifted copies of the left,
    with the exact range predicate as a residual filter. Shuffle-partitioned
    by (key, bucket) — no cross product, skew bounded by bucket width.

    Output hygiene (matching the other operators here): left columns come
    out under their own names, right columns under ``right_prefix`` (one
    shared key column, no internal ``__b`` helpers) — every column is
    bare-referenceable, including after a SELF-join, instead of forcing
    callers through l./r. aliases and AMBIGUOUS_REFERENCE errors.
    """
    lb = left.withColumn("__b", (F.unix_timestamp(F.col(left_ts)) / window_seconds).cast("long"))
    rb = right.withColumn("__b", (F.unix_timestamp(F.col(right_ts)) / window_seconds).cast("long"))
    # left copies land in their own bucket and the next one
    l2 = lb.withColumn("__b", F.col("__b") + 1)
    lboth = lb.unionByName(l2)
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("l.__b") == F.col("r.__b"))
        & (F.col(f"r.{right_ts}") > F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.make_interval(secs=F.lit(window_seconds))
        )
    )
    joined = lboth.alias("l").join(rb.alias("r"), cond, "inner")
    left_cols = [c for c in left.columns if c != "__b"]
    right_cols = [c for c in right.columns if c not in ("__b", key)]
    return joined.select(
        *[F.col(f"l.{c}").alias(c) for c in left_cols],
        *[F.col(f"r.{c}").alias(f"{right_prefix}{c}") for c in right_cols],
    )


def skew_report(
    df: DataFrame,
    keys: Sequence[str],
    top: int = 20,
) -> DataFrame:
    """Join-key skew diagnosis — the measurement that decides between a
    plain shuffle join, :func:`salted_join`, and AQE's skew split: the
    ``top`` heaviest key values with their row counts, share of the
    table, and the ratio to a perfectly-uniform key's share. One
    map-side-combinable count + a bounded TakeOrdered — safe to run on
    the full fact table.

    Reading it: ``uniform_ratio`` is ``share * n_distinct_keys`` — how
    many times heavier this key is than the uniform expectation. A top
    key whose ``share`` approaches ``1 / spark.sql.shuffle.partitions``
    will dominate one reduce task; that is the threshold where salting
    (or AQE skew-join, which needs the 5x-median default factor
    exceeded) starts paying. The output is DATA (the caller's planning
    input), deterministic (count desc, then key asc) — a dashboardable
    audit, not a side effect."""
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum("n").alias("t"), F.count(F.lit(1)).alias("nkeys")
    )
    share = F.col("n").cast("double") / F.col("t").cast("double")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            *keys,
            "n",
            F.round(share, 9).alias("share"),
            F.round(share * F.col("nkeys").cast("double"), 6).alias(
                "uniform_ratio"
            ),
        )
        .orderBy(F.col("n").desc(), *[F.col(k).asc() for k in keys])
        .limit(top)
    )
