"""Window-function operators (SURVEY.md §2.5: top-k per group, running
aggregates, lag/lead deltas, sessionization)."""

from __future__ import annotations

from collections.abc import Sequence
from itertools import accumulate

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators import lit_array


def topk_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Per-group top-k via row_number — the scalable replacement for global sorts.

    Always pass a total order (tie-break on a unique key) so results are
    deterministic and re-runnable.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def running_sum(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    value_col: str,
    out_col: str = "running_total",
) -> DataFrame:
    """Cumulative sum over an unbounded-preceding frame, decimal(30,2)-exact
    so the prefix sums are order-of-evaluation independent."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        out_col, F.sum(F.col(value_col).cast("decimal(30,2)")).over(w).cast("double")
    )


def lag_delta_days(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    ts_col: str,
    out_col: str = "days_since_prev",
) -> DataFrame:
    """Days elapsed since the previous row in the partition (null for first)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(
        out_col, F.datediff(F.col(ts_col), F.lag(F.col(ts_col)).over(w))
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts_col: str,
    gap_seconds: int,
    session_col: str = "session_id",
    tiebreak: str | None = None,
) -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts when the gap to
    the previous event exceeds ``gap_seconds``; session id is the running
    count of session starts per key. Two window passes over one shuffle on
    ``key`` — the batch twin of Structured Streaming's session_window.

    Pass ``tiebreak`` (a unique key, e.g. event_id) to make the window order
    total: with timestamp ties and no tie-break, ``lag`` pairs rows
    nondeterministically and session boundaries can flip between runs.
    """
    order = [F.col(ts_col).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(key).orderBy(*order)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    # gap in FRACTIONAL seconds (timestamp -> double keeps microseconds):
    # unix_timestamp truncates to whole seconds, which mis-decides
    # boundaries by up to ~1s on sub-second data and diverges from both
    # the streaming session_window twin and the DuckDB oracle's epoch()
    is_new = (
        prev_ts.isNull()
        | (
            F.col(ts_col).cast("double") - prev_ts.cast("double")
            > gap_seconds
        )
    ).cast("long")
    return df.withColumn("__new", is_new).withColumn(
        session_col, F.sum("__new").over(wrun)
    ).drop("__new")


def global_row_number(
    df: DataFrame,
    order_by: Sequence[Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed global row_number — the scale path for an unpartitioned
    ``Window.orderBy`` (which Spark plans as ``Exchange SinglePartition`` +
    one-task WindowExec: the whole frame through one core at 100 TB).

    Three declarative steps, none single-partition:

    1. ``repartitionByRange`` on the order keys — Spark's distributed sort
       machinery (sampled range boundaries; partition i's keys all precede
       partition i+1's) — plus ``sortWithinPartitions``: together a full
       distributed sort, AQE-sized unless ``num_partitions`` pins it
       (coalescing merges only CONTIGUOUS ranges, in order).
       ``localCheckpoint`` pins boundaries AND row order so the two
       downstream jobs (offset totals + final projection) see the SAME
       rows in the SAME positions — without it a re-sample between jobs
       could shift rows across partitions and corrupt the offsets.
    2. LOCAL row number read off ``monotonically_increasing_id()`` over
       the pinned sorted scan (its low 33 bits are the row offset; the
       partition id is ``spark_partition_id()`` — parallel,
       no global sort, and no WindowExec: a window partitioned by
       ``spark_partition_id()`` re-shuffles the frame, because the
       checkpoint scan's UnknownPartitioning can't prove the clustering
       it has by construction).
    3. One bounded collect of per-partition counts (one long per range
       partition) -> cumulative offsets, added back as a literal-array
       lookup keyed by the partition id; global row number = local row
       number + partition offset.

    ``order_by`` must be a TOTAL order (tie-break on a unique key): then the
    result is deterministic regardless of where the sampled boundaries land.
    """
    out, _ = _global_row_number_with_total(df, order_by, out_col, num_partitions)
    return out


_MID_OFFSET_BITS = 33  # low bits of monotonically_increasing_id: row offset


def _cumulative(totals: dict[int, int], n: int) -> tuple[list[int], int]:
    """(``[sum of totals before pid]`` for pids ``0..n-1``, grand total)."""
    acc = list(accumulate((totals.get(p, 0) for p in range(n)), initial=0))
    return acc[:-1], acc[-1]


def _partition_offsets(counts: dict[int, int], n: int) -> tuple[list[int], int]:
    """:func:`_cumulative` over per-partition ROW counts. Raises when a
    partition reaches 2^33 rows: its row offsets would overflow into the
    partition bits of ``monotonically_increasing_id`` and alias the next
    partition's ids."""
    over = {p: c for p, c in counts.items() if c >= 1 << _MID_OFFSET_BITS}
    if over:
        raise ValueError(
            f"global row number: range partition(s) {sorted(over)} hold "
            f">= 2^{_MID_OFFSET_BITS} rows ({max(over.values())} max), past "
            "the monotonically_increasing_id row-offset width — pass a "
            "larger num_partitions"
        )
    return _cumulative(counts, n)


def _pinned_range_totals(
    df: DataFrame,
    order_by: Sequence[Column],
    num_partitions: int | None,
    totals: dict[str, Column],
    sort: bool = False,
) -> tuple[DataFrame, dict[str, dict[int, int]], int]:
    """The shared first half of the global-order family: the range scan
    (AQE-sized unless ``num_partitions`` pins it), pinned by a LAZY
    ``localCheckpoint``, and one bounded collect of its per-partition
    ``totals`` -> ``(part, {name: {pid: total}}, n)``, ``n`` one past the
    highest non-empty pid. The collect materializes the checkpoint inside
    its own job (no separate eager job), so the caller's final projection
    reads the same partitions in the same row order."""
    by_range = (
        df.repartitionByRange(num_partitions, *order_by)
        if num_partitions
        else df.repartitionByRange(*order_by)
    )
    if sort:
        by_range = by_range.sortWithinPartitions(*order_by)
    part = by_range.localCheckpoint(eager=False)
    rows = (
        part.groupBy(F.spark_partition_id().alias("__pid"))
        .agg(*[c.alias(k) for k, c in totals.items()])
        .collect()
    )  # bounded: one row per range partition
    per_pid = {k: {r["__pid"]: r[k] or 0 for r in rows} for k in totals}
    return part, per_pid, max((r["__pid"] for r in rows), default=-1) + 1


def _offset_lookup(offsets: list[int]) -> Column:
    """``offsets[__pid]`` over a folded array literal: no driver-built
    frame, no join, no broadcast."""
    return F.element_at(lit_array(offsets, "bigint"), F.col("__pid") + 1)


def _global_row_number_with_total(
    df: DataFrame,
    order_by: Sequence[Column],
    out_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, int]:
    # The ONLY shuffle in the pass: range-repartition on the order keys,
    # then SORT WITHIN each range partition — the checkpoint pins the
    # sorted rows, so the local row number can be read off the low 33
    # bits of ``monotonically_increasing_id()`` (the row offset in pinned
    # partition order) instead of a ``row_number`` window. The partition
    # id is ``spark_partition_id()``, the key the totals collect and
    # ``global_prefix_sum`` use, so the family has one partition-id rule.
    # The window form paid a SECOND full shuffle per pass: a checkpoint
    # scan reports UnknownPartitioning, so WindowExec's
    # ClusteredDistribution(__pid) re-planned an
    # ``Exchange hashpartitioning(__pid)`` over data that was already
    # perfectly clustered by construction (r14, guide §2.1 — remove the
    # shuffle outright; rfm job attribution: the per-pass AQE
    # materialization of that exchange disappears with it). Sort work is
    # unchanged — sortWithinPartitions here replaces the window's
    # [__pid, order] sort there. The id expression is deterministic over
    # the pinned scan, so the totals job and the final projection see the
    # same (pid, local row number) for every row.
    # Bounds: ids are (pid << 33) | offset, so this holds to 2^33 rows
    # per range partition — STRICTLY WIDER than the window form it
    # replaces (row_number is a 32-bit int, 2^31 rows per partition).
    # ``_partition_offsets`` enforces it on the collected counts.
    part, per_pid, n = _pinned_range_totals(
        df, order_by, num_partitions, {"rows": F.count("*")}, sort=True
    )
    offsets, total = _partition_offsets(per_pid["rows"], n)
    out = (
        part.withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            out_col,
            F.col("__mid").bitwiseAND(F.lit((1 << _MID_OFFSET_BITS) - 1))
            + F.lit(1)
            + _offset_lookup(offsets),
        )
        .drop("__mid", "__pid")
    )
    return out, total


def global_prefix_sum(
    df: DataFrame,
    order_by: Sequence[Column],
    value_cols: Sequence[str],
    out_prefix: str = "cum_",
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Distributed exact prefix sums over a GLOBAL total order — the scale
    path for ``SUM(x) OVER (ORDER BY ...)`` with no PARTITION BY, which
    Spark plans as ``Exchange SinglePartition`` + a one-task WindowExec
    (the whole frame through one core at 100 TB). The classic parallel
    scan, expressed with the same three declarative steps as
    :func:`global_row_number`:

    1. ``repartitionByRange`` on the order keys, AQE-sized unless
       ``num_partitions`` pins it (boundary-pinning ``localCheckpoint`` —
       see :func:`global_row_number` for why);
    2. LOCAL running sums within each range partition (WindowExec
       partitioned by ``spark_partition_id()`` — parallel);
    3. one bounded collect of per-partition column totals (one row per
       range partition) -> cumulative offsets, added back as a
       literal-array lookup keyed by the partition id.

    ``value_cols`` must be integral (or decimal) so the sums are exact and
    order-of-evaluation independent; ``order_by`` must be a total order.
    Returns ``(df_with_cums, grand_totals)`` — each ``value_cols`` entry
    gains an ``{out_prefix}{col}`` long column, and ``grand_totals`` maps
    each value column to its full-frame sum (already paid for by the
    offset pass — callers needing "the total" never run a second job).

    Step 2 keeps the WindowExec DELIBERATELY (r14 measurement): like the
    global-rank helper, the checkpoint scan's UnknownPartitioning makes
    the window re-plan an ``Exchange hashpartitioning(__pid)``, but the
    alternative — a ``mapInPandas`` cumsum with a cross-batch carry over
    a pinned sorted scan — was built, verified, and measured 20-30%
    SLOWER at sf0.1 (evidence/dqks_prefix_scan_ab_r14.txt): the Arrow
    round-trip of the whole frame costs more than the bounded-width
    exchange it removes. The monotonic-id trick that fixed the rank
    helper cannot express a running SUM, so the window stays.
    """
    sums = {c: F.sum(c).cast("long") for c in value_cols}
    part, per_pid, n = _pinned_range_totals(df, order_by, num_partitions, sums)
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = part.withColumn("__pid", F.spark_partition_id())
    totals = {}
    for c in value_cols:
        offsets, totals[c] = _cumulative(per_pid[c], n)
        out = out.withColumn(
            f"{out_prefix}{c}",
            F.sum(F.col(c)).over(w).cast("long") + _offset_lookup(offsets),
        )
    return out.drop("__pid"), totals


def global_ntile(
    df: DataFrame,
    k: int,
    order_by: Sequence[Column],
    out_col: str = "ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed ``ntile(k)`` over a global order — exact SQL ntile
    semantics (first ``n mod k`` buckets get ``ceil(n/k)`` rows, the rest
    ``floor(n/k)``), computed from :func:`global_row_number` plus the total
    count the offset pass already produced — so it costs nothing beyond the
    row-number itself and never plans a SinglePartition exchange."""
    ranked, n = _global_row_number_with_total(
        df, order_by, "__rn", num_partitions
    )
    q, r = divmod(n, k)
    head = r * (q + 1)  # rows covered by the (q+1)-sized leading buckets
    rn = F.col("__rn")
    bucket = F.when(
        rn <= head, F.ceil(rn / F.lit(q + 1))
    ).otherwise(F.lit(r) + F.ceil((rn - F.lit(head)) / F.lit(max(q, 1))))
    return ranked.withColumn(out_col, bucket.cast("int")).drop("__rn")
