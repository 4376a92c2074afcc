"""Aggregation operators (reference parity: A2-A6 + the single-pass
GROUPING SETS improvement from SURVEY.md §4.2-2).

Reference sites: ``silver_to_gold.py:20-32`` (daily), ``:38-50`` (monthly),
``:56-64`` (customer lifetime).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_data_pipeline_spark.functions.exact import davg, dsum
from aws_data_pipeline_spark.operators import lit_array


def aggregate_transactions(
    df: DataFrame,
    group_cols: Sequence[str],
    amount_col: str,
    txn_id_col: str,
    level: str | None = None,
) -> DataFrame:
    """A3/A4 generalized: the reference's 6-aggregate bundle at any grain.

    ``count / sum / avg / min / max / countDistinct`` — Catalyst plans this as
    partial (map-side) + final hash aggregation: one shuffle keyed on
    ``group_cols``, combiner-reduced, which is the scalable shape for
    100 TB (no driver-side state, no extra pass per aggregate).
    """
    aggs = [
        F.count("*").alias("transaction_count"),
        dsum(amount_col).alias("total_amount"),
        davg(amount_col).alias("avg_amount"),
        F.min(amount_col).alias("min_amount"),
        F.max(amount_col).alias("max_amount"),
        F.countDistinct(txn_id_col).alias("unique_transactions"),
    ]
    out = df.groupBy(*group_cols).agg(*aggs)
    if level is not None:
        out = out.withColumn("aggregation_level", F.lit(level))
    return out


def customer_lifetime(
    df: DataFrame,
    customer_col: str,
    amount_col: str,
    date_col: str,
) -> DataFrame:
    """A5/A6: per-customer lifetime stats incl. multi-column distinct days.

    ``active_days`` = countDistinct over the calendar date (equivalent to the
    reference's ``countDistinct(year,month,day)``, ``silver_to_gold.py:63``,
    since the parts are non-null and jointly bijective with the date).
    """
    return df.groupBy(customer_col).agg(
        F.count("*").alias("lifetime_transactions"),
        dsum(amount_col).alias("lifetime_value"),
        davg(amount_col).alias("avg_transaction_amount"),
        F.min(date_col).alias("first_transaction_date"),
        F.max(date_col).alias("last_transaction_date"),
        F.countDistinct(F.to_date(date_col)).alias("active_days"),
    )


def multi_grain_rollup_hierarchical(
    df: DataFrame,
    customer_col: str,
    amount_col: str,
    txn_id_col: str,
    year_col: str = "year",
    month_col: str = "month",
    day_col: str = "day",
) -> DataFrame:
    """Same result as :func:`multi_grain_rollup`, different physical shape:
    aggregate the FINEST grain once, then re-aggregate upward
    (daily -> monthly -> yearly -> lifetime).

    GROUPING SETS expands every input row 4x before the shuffle; this shape
    shuffles the raw data once (to daily) and each further grain re-reduces
    the previous one — at 100 TB the re-agg inputs are orders of magnitude
    smaller than the fact table, so total shuffled bytes drop ~4x.

    PRECONDITION: ``txn_id_col`` is row-unique (each id in exactly one
    daily group), so coarser distinct counts are sums of finer ones — true
    for transaction/order keys. A non-unique key would need HLL sketch
    merge (approx) or the GROUPING SETS variant (exact).

    Sums stay decimal through every level and become double only in the
    final projection, so results are bit-identical to the single-pass
    variant (both share the DuckDB oracle).
    """
    aggs_up = [
        F.sum("transaction_count").alias("transaction_count"),
        F.sum("_sum").alias("_sum"),
        # the avg divisor is COUNT(amount) — non-null amounts — carried
        # separately from COUNT(*): the shared oracle divides by
        # COUNT(o_totalprice), so one NULL amount would otherwise shift
        # every average off the twin
        F.sum("_n_amt").alias("_n_amt"),
        F.min("min_amount").alias("min_amount"),
        F.max("max_amount").alias("max_amount"),
        F.sum("unique_transactions").alias("unique_transactions"),
    ]
    daily = df.groupBy(customer_col, year_col, month_col, day_col).agg(
        F.count("*").alias("transaction_count"),
        F.sum(F.col(amount_col).cast("decimal(30,2)")).alias("_sum"),
        F.count(amount_col).alias("_n_amt"),
        F.min(amount_col).alias("min_amount"),
        F.max(amount_col).alias("max_amount"),
        # COUNT(txn_id), not countDistinct: under the row-unique
        # PRECONDITION above they are equal at every grain (both skip
        # NULLs), and this operator's coarser grains ALREADY lean on that
        # uniqueness (summing finer distinct counts). countDistinct cost
        # (r13 measurement, plans/r13/multi_grain_*_before.txt): Catalyst
        # plans the distinct as an extra aggregate keyed on
        # (customer, y, m, d, txn_id) with its own fact-sized Exchange in
        # EVERY union branch — 14 exchanges / 22 stages / ~100 tasks at
        # sf0.1. The plain count partial-aggregates map-side into the one
        # (customer, y, m, d) exchange (guide §2.3 "aggregate before you
        # shuffle"): 4 distinct exchanges after reuse, and the fact rows
        # cross the wire once, pre-reduced.
        F.count(txn_id_col).alias("unique_transactions"),
    )
    monthly = daily.groupBy(customer_col, year_col, month_col).agg(*aggs_up)
    yearly = monthly.groupBy(customer_col, year_col).agg(*aggs_up)
    lifetime = yearly.groupBy(customer_col).agg(*aggs_up)

    null_i = F.lit(None).cast("int")
    levels = [
        (daily, [F.col(year_col), F.col(month_col), F.col(day_col)]),
        (monthly, [F.col(year_col), F.col(month_col), null_i]),
        (yearly, [F.col(year_col), null_i, null_i]),
        (lifetime, [null_i, null_i, null_i]),
    ]
    parts = [
        d.select(
            F.col(customer_col).alias("customer_id"),
            y.alias("year"),
            m.alias("month"),
            dd.alias("day"),
            # label INFERRED from which keys are non-null (the oracle's
            # CASE), not hard-coded per part: a NULL-date row surfaces in
            # the daily part with NULL keys and must read 'lifetime'
            # exactly as the GROUPING SETS twin labels it
            F.when(dd.isNotNull(), "daily")
            .when(m.isNotNull(), "monthly")
            .when(y.isNotNull(), "yearly")
            .otherwise("lifetime")
            .alias("aggregation_level"),
            "transaction_count",
            F.col("_sum").cast("double").alias("total_amount"),
            F.try_divide(F.col("_sum").cast("double"), F.col("_n_amt")).alias(
                "avg_amount"
            ),
            "min_amount",
            "max_amount",
            "unique_transactions",
        )
        for d, (y, m, dd) in levels
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def multi_grain_rollup(
    df: DataFrame,
    customer_col: str,
    amount_col: str,
    txn_id_col: str,
    year_col: str = "year",
    month_col: str = "month",
    day_col: str = "day",
) -> DataFrame:
    """§4.2-2: daily+monthly+lifetime in ONE scan via GROUPING SETS.

    The reference computes three gold tables with three independent scans of
    silver (``silver_to_gold.py:126-128``); at 100 TB that is 3x the I/O.
    GROUPING SETS shares the scan and the partial aggregation; the
    ``aggregation_level`` discriminator is derived from which keys are
    non-null (all three part columns are non-null in the data itself, so a
    null can only come from the grouping-set padding).
    """
    df.createOrReplaceTempView("__txns")
    q = f"""
        SELECT
          {customer_col} AS customer_id,
          {year_col} AS year, {month_col} AS month, {day_col} AS day,
          CASE WHEN {day_col} IS NOT NULL THEN 'daily'
               WHEN {month_col} IS NOT NULL THEN 'monthly'
               WHEN {year_col} IS NOT NULL THEN 'yearly'
               ELSE 'lifetime' END AS aggregation_level,
          COUNT(*) AS transaction_count,
          CAST(SUM(CAST({amount_col} AS DECIMAL(30,2))) AS DOUBLE) AS total_amount,
          CAST(SUM(CAST({amount_col} AS DECIMAL(30,2))) AS DOUBLE) / COUNT({amount_col})
            AS avg_amount,
          MIN({amount_col}) AS min_amount,
          MAX({amount_col}) AS max_amount,
          COUNT(DISTINCT {txn_id_col}) AS unique_transactions
        FROM __txns
        GROUP BY GROUPING SETS (
          ({customer_col}, {year_col}, {month_col}, {day_col}),
          ({customer_col}, {year_col}, {month_col}),
          ({customer_col}, {year_col}),
          ({customer_col})
        )
    """
    return df.sparkSession.sql(q)


def _quantile_name(p: float) -> str:
    """Column name for quantile ``p``: ``p25``/``p50``/``p975`` — the
    decimal digits of p, zero-padded to two. ``p`` must lie strictly in
    (0, 1): p=1.0 would produce a dotted name (``p1.0``) that breaks later
    ``F.col`` references, and nearest-rank p=0/p=1 are just min/max.
    Fixed-point formatting, not %g: %g would emit scientific notation for
    small p ('1e-05' -> junk name 'p-05') and silently collapse distinct
    p values past 6 significant digits."""
    if not 0.0 < p < 1.0:
        raise ValueError(f"quantile p must be in (0, 1), got {p}")
    return "p" + format(p, ".12f").rstrip("0")[2:].ljust(2, "0")


def grouped_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    ps: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
    approx: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group quantile report — the distribution profile a corpus audit
    runs on every source (length, quality, token counts).

    Two physical paths with ONE logical contract:

    - ``approx=False`` (exact, the oracle-checkable twin): nearest-rank
      quantiles — the value at ``ceil(p * n)`` in ascending order, ranked
      with ``row_number`` per group. The rank index is the ceiling of the
      IEEE-double product, computed identically in any engine, so results
      are deterministic and portable (ties in the value don't matter: any
      permutation of equal values yields the same value at a given rank).
      Cost is a per-group SORT — fine when groups fit a partition's sort
      spill budget, the wrong shape for a 100 TB group.
    - ``approx=True`` (the scale path): ``percentile_approx`` — Spark's
      mergeable rank sketch: one pass, map-side partials, no sort, error
      bounded by 1/accuracy of the rank. This is what you run at 100 TB;
      the exact twin is how you audit the sketch on a sample
      (tests/test_llm.py bounds the rank error on real data).

    Output: ``group_cols`` + ``n_rows`` + one ``p{NN}`` column per
    requested quantile, carrying the value column's own type.

    NULL contract, identical on both paths: NULL values are excluded from
    ranking (matching ``percentile_approx``, which skips them) and from
    ``n_rows`` — ``n_rows`` is the population the quantiles describe —
    and a group with ZERO non-null values is absent from the output on
    both paths (both filter before grouping; without the shared filter
    the paths would diverge on such groups, and on the exact path NULLs
    would sort first and shift every quantile).
    """
    names = [_quantile_name(p) for p in ps]
    if len(set(names)) != len(names):
        raise ValueError(f"quantile ps {list(ps)} collide on names {names}")
    if approx:
        pa = F.percentile_approx(
            F.col(value_col), lit_array(ps, "double"), F.lit(accuracy)
        )
        return (
            df.filter(F.col(value_col).isNotNull())
            .groupBy(*group_cols)
            .agg(
                F.count(value_col).alias("n_rows"),
                *[pa.getItem(i).alias(nm) for i, nm in enumerate(names)],
            )
        )
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(value_col)
    wn = Window.partitionBy(*[F.col(c) for c in group_cols])
    ranked = (
        df.select(*group_cols, value_col)
        .filter(F.col(value_col).isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(wn))
    )
    return ranked.groupBy(*group_cols).agg(
        F.count("*").alias("n_rows"),
        *[
            F.max(
                F.when(
                    F.col("__rn") == F.ceil(F.lit(p) * F.col("__n")),
                    F.col(value_col),
                )
            ).alias(nm)
            for p, nm in zip(ps, names)
        ],
    )


def winsorized_scale(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group robust scaling for heuristic scores: clip ``value_col`` to
    the group's [lo, hi] nearest-rank quantiles (winsorization — outliers
    saturate instead of stretching the range), then min-max scale the
    clipped value to [0, 1] within the group. This is how per-source
    quality scores become COMPARABLE across sources with different score
    distributions — the normalization step before a single corpus-wide
    threshold or mixture weight makes sense.

    Adds ``<value>_winsorized`` and ``<value>_scaled``; the scaled value
    is NULL for a degenerate group (lo == hi quantile — no spread to
    scale). The quantile frame is group-count-sized, so it broadcasts;
    the only data-sized cost is the per-group sort inside
    :func:`grouped_quantiles` (swap in approx=True sketch bounds at
    100 TB group sizes — same contract).

    The join back to the rows is null-safe on the group keys, so rows in a
    NULL-keyed group are winsorized against that group's own quantile row
    rather than silently dropped by a plain equi-join — and it is a LEFT
    join, so rows whose group has no quantile row at all (every value in
    the group is NULL, so grouped_quantiles emits nothing for it) survive
    with NULL clip bounds: their value passes through unclipped
    (least/greatest skip NULLs) and ``_scaled`` is NULL. A normalization
    operator must never make rows disappear.
    """
    qlo, qhi = (_quantile_name(p) for p in (lo, hi))
    q = grouped_quantiles(df, group_cols, value_col, ps=(lo, hi))
    qd = q.select(
        *[F.col(c).alias(f"__g_{c}") for c in group_cols], qlo, qhi
    )
    cond = reduce(
        and_,
        [df[c].eqNullSafe(qd[f"__g_{c}"]) for c in group_cols],
    )
    joined = df.join(F.broadcast(qd), cond, "left").drop(
        *[f"__g_{c}" for c in group_cols]
    )
    clipped = F.least(F.greatest(F.col(value_col), F.col(qlo)), F.col(qhi))
    return joined.withColumns(
        {
            f"{value_col}_winsorized": clipped,
            f"{value_col}_scaled": F.try_divide(
                clipped - F.col(qlo), F.col(qhi) - F.col(qlo)
            ),
        }
    ).drop(qlo, qhi)


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    grain: str = "day",
) -> DataFrame:
    """Cohort retention triangle: users grouped by their FIRST-activity
    period, then, per (cohort, period-offset), how many came back — the
    standard product-analytics retention curve ("of the Jan-3 cohort,
    what fraction was active 7 days later?"), a shape none of the
    single-grain aggregates express. Output: (cohort, period_offset,
    n_active, n_cohort, retention) with retention one exact int/int
    division; offset 0 always has n_active == n_cohort (every user is
    active in their own first period — a free self-check the oracle
    hashes too).

    ``grain``: ``day`` or ``week`` (weeks truncate to Mondays, Spark's
    and DuckDB's shared convention). Null users/timestamps are excluded
    (no identity or no time → no cohort).

    Scale shape: one distinct-activity projection (user, period) — the
    only data-sized shuffle — an all-MIN aggregate for cohorts, a
    cohort-sized join back (AQE decides; user-cardinality sized), and a
    final grouped count. No window over raw events at all.
    """
    if grain not in ("day", "week"):
        raise ValueError(f"grain must be 'day' or 'week', got {grain!r}")
    period = (
        F.to_date(F.date_trunc("week", F.col(ts_col)))
        if grain == "week"
        else F.to_date(F.col(ts_col))
    )
    base = df.where(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(F.col(user_col).alias("__u"), period.alias("__p"))
    active = base.distinct()
    first = active.groupBy("__u").agg(F.min("__p").alias("cohort"))
    sizes = first.groupBy("cohort").agg(
        F.count("*").alias("n_cohort")
    )
    step = 7 if grain == "week" else 1
    ret = (
        active.join(first, "__u")
        .groupBy(
            "cohort",
            (F.datediff(F.col("__p"), F.col("cohort")) / F.lit(step))
            .cast("int")
            .alias("period_offset"),
        )
        .agg(F.count("*").alias("n_active"))
    )
    return ret.join(sizes, "cohort").select(
        "cohort",
        "period_offset",
        "n_active",
        "n_cohort",
        (F.col("n_active") / F.col("n_cohort").cast("double")).alias(
            "retention"
        ),
    )


def event_transitions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """First-order transition matrix of the event stream: per
    (from_type, to_type), how many consecutive same-user event pairs
    stepped that way, with the row-normalized transition probability —
    the general flow analysis behind every "where do users go after X?"
    question (the funnel queries count FIXED sequences; this is the full
    Markov estimate). Each user's first event has no predecessor and
    contributes no pair.

    ``tiebreak_col`` must make (ts, tiebreak) a total order per user —
    the lag is otherwise partitioning-dependent (the sessionize_events
    determinism rule). Probabilities are exact int/int divisions against
    the from-type row total.

    Scale shape: one per-user window (partitioned by user — parallel,
    never a global sort), one grouped count to the C×C matrix
    (domain-bounded), and the row totals re-derived from the matrix
    itself (a C-row aggregate, broadcast back) — the raw stream shuffles
    once for the window and once for the count.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    pairs = (
        df.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .withColumn("__prev", F.lag(type_col).over(w))
        .where(F.col("__prev").isNotNull())
        .groupBy(
            F.col("__prev").alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("__tot"))
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n") / F.col("__tot").cast("double")).alias("p"),
    )


def rfm_scores(
    df: DataFrame,
    key_col: str,
    date_col: str,
    amount_col: str,
    anchor: str,
    buckets: int = 5,
) -> DataFrame:
    """RFM customer segmentation — the classic marketing triad computed
    exactly: per key, Recency (days from last activity to ``anchor``),
    Frequency (activity count), Monetary (decimal-exact amount sum), each
    scored into ``buckets`` quantile bands (1 = worst, ``buckets`` =
    best) and combined into the standard named segments. ``anchor`` is a
    caller-supplied literal date, never now(): the same history must
    score identically forever (the injectable-clock rule).

    Scores are EXACT SQL ntile semantics over total orders (metric,
    key tie-break), computed by the distributed global-rank machinery
    (operators/windows.py::global_ntile — AQE-sized range repartition +
    literal per-partition offsets), never an unpartitioned
    ``Window.orderBy``: three ntiles
    over a billion-customer frame would otherwise plan three
    ``Exchange SinglePartition`` scans, the canonical WindowExec
    scale-killer. One grouped aggregate over the raw frame is the only
    data-sized shuffle; everything after runs on the key-level frame.

    Segment rule (flags-as-data, the quality.py posture): champion
    (R,F,M all in the top two bands), new (recent but infrequent),
    at_risk (valuable but lapsed), lost (bottom bands), regular (the
    rest) — deterministic CASE over the three scores.
    """
    from aws_data_pipeline_spark.operators.windows import global_ntile

    base = (
        df.where(F.col(key_col).isNotNull() & F.col(date_col).isNotNull())
        .groupBy(key_col)
        .agg(
            F.datediff(
                F.lit(anchor).cast("date"), F.max(date_col)
            ).alias("recency_days"),
            F.count("*").alias("frequency"),
            dsum(amount_col).alias("monetary"),
        )
    )
    # materialize the key-level frame ONCE: each global_ntile pass runs
    # two jobs (offsets + assignment), so without this the raw-frame
    # aggregate — a full fact scan at 100 TB — would re-execute ~6x.
    # The checkpointed frame is key-cardinality-sized (the dim class),
    # and the A/B at sf0.1 also times ~10% faster locally. LAZY (r14):
    # the first action on base is pass 1's range-boundary sample, whose
    # reservoir pass reads every row of every partition — a
    # full-partition materializing action (the CC/global-rank fusion
    # rule), so the separate eager-materialization job disappears.
    base = base.localCheckpoint(eager=False)
    hi = buckets  # best band
    # Kept CHAINED deliberately (r13 measurement): restructuring the three
    # passes to rank projected (key, metric) pairs in parallel driver
    # threads and rejoin on the key was tried and measured WORSE at sf0.1
    # — 28 jobs vs 25, with the three score-map joins adding four heavy
    # sequential 32-task stages (~2.5 s) that dwarf the barrier-depth
    # saving. The chained form re-ranks the widening frame but never
    # joins; its per-pass job count already dropped with global_ntile's
    # lazy-checkpoint fusion (operators/windows.py).
    scored = base
    for metric, score, direction in (
        # larger recency = staler = worse: DESC puts the stalest in band 1
        ("recency_days", "r_score", "desc"),
        ("frequency", "f_score", "asc"),
        ("monetary", "m_score", "asc"),
    ):
        order = (
            [F.col(metric).desc(), F.col(key_col).asc()]
            if direction == "desc"
            else [F.col(metric).asc(), F.col(key_col).asc()]
        )
        scored = global_ntile(scored, buckets, order, out_col=score)
    r, f, m = F.col("r_score"), F.col("f_score"), F.col("m_score")
    segment = (
        F.when((r >= hi - 1) & (f >= hi - 1) & (m >= hi - 1), "champion")
        .when((r >= hi - 1) & (f <= 2), "new")
        .when((r <= 2) & ((f >= hi - 1) | (m >= hi - 1)), "at_risk")
        .when((r <= 2) & (f <= 2) & (m <= 2), "lost")
        .otherwise("regular")
    )
    return scored.select(
        key_col,
        "recency_days",
        "frequency",
        F.col("monetary").cast("double").alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        segment.alias("segment"),
    )


def event_paths(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    top: int = 20,
) -> DataFrame:
    """Top event-type TRIGRAM paths: the most common three-step journeys
    (``view > click > purchase``) across all users — funnel DISCOVERY,
    where the funnel queries measure a path someone already named, this
    surfaces which paths are worth naming. Consecutive same-user steps
    under the (ts, tiebreak) total order; a user's last two events start
    no trigram.

    Scale shape: one per-user window (two leads over ONE shared sort —
    Spark plans a single WindowExec), one domain-bounded grouped count
    (≤ C³ rows), a distributed TakeOrdered global top-k, and ranks
    assigned over the ``top``-row result only (the collocation_pmi
    discipline — never a data-sized unpartitioned window).
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    paths = (
        # null types are dropped BEFORE the window (a null step is no
        # step; and concat_ws would silently skip it where SQL || nulls
        # the whole path — the filter keeps both engines on one meaning)
        df.where(
            F.col(user_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(type_col).isNotNull()
        )
        .select(
            F.col(type_col).alias("s1"),
            F.lead(type_col, 1).over(w).alias("s2"),
            F.lead(type_col, 2).over(w).alias("s3"),
        )
        .where(F.col("s2").isNotNull() & F.col("s3").isNotNull())
        .groupBy("s1", "s2", "s3")
        .agg(F.count("*").alias("n"))
        .select(
            F.concat_ws(" > ", "s1", "s2", "s3").alias("path"),
            "n",
        )
    )
    head = paths.orderBy(F.col("n").desc(), F.col("path").asc()).limit(top)
    rw = Window.orderBy(F.col("n").desc(), F.col("path").asc())
    return head.withColumn("rank", F.row_number().over(rw).cast("int"))


def interarrival_stats(
    df: DataFrame,
    type_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Inter-arrival time profile per event type: the seconds between
    consecutive events of the same type, summarized as count, mean, and
    exact nearest-rank p50/p95 — the feed-cadence fingerprint behind
    SLA checks ("purchases arrive every ~40 s; 10 minutes of silence is
    an incident") and the input a synthetic-load generator replays.
    Gaps ride the (ts, tiebreak) total order per type, so the profile
    is partitioning-independent; every gap is an exact integer
    MICROsecond count (epoch-µs subtraction under the session's fixed
    UTC — never a truncated-seconds diff, which would round differently
    than any fractional-epoch engine), the mean is one bigint/double
    IEEE division, and the quantiles are the grouped_quantiles exact
    path over the gap frame.

    Scale shape: one per-type window for the lag (C partitions — fine
    for a bounded type domain; a single hot type at 100 TB is the
    documented per-key-window trade every sessionization shares), then
    C-sized aggregates.
    """
    w = Window.partitionBy(type_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    lag_us = F.unix_micros(F.lag(F.col(ts_col)).over(w).cast("timestamp"))
    gaps = (
        df.where(F.col(ts_col).isNotNull())
        .select(
            F.col(type_col).alias("event_type"),
            (us - lag_us).alias("gap_us"),
        )
        .where(F.col("gap_us").isNotNull())
    )
    q = grouped_quantiles(gaps, ["event_type"], "gap_us", ps=(0.5, 0.95))
    mean = gaps.groupBy("event_type").agg(
        (F.sum("gap_us") / F.count("*").cast("double")).alias("mean_gap_us")
    )
    return q.join(mean, "event_type").select(
        "event_type",
        F.col("n_rows").alias("n_gaps"),
        "mean_gap_us",
        F.col("p50").alias("p50_us"),
        F.col("p95").alias("p95_us"),
    )


def conversion_latency(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    from_type: str,
    to_type: str,
    window_seconds: int,
    ps: Sequence[float] = (0.5, 0.9),
) -> DataFrame:
    """Conversion-latency distribution: for every ``from_type`` event
    that converts (a same-user ``to_type`` event within
    ``window_seconds``), the time to its FIRST conversion — summarized
    as one row of count / mean / exact nearest-rank quantiles in
    microseconds. The latency twin of the funnel: the funnel counts who
    converts, this measures how fast ("p90 click-to-purchase is 7
    minutes" is an SLA, a UX metric, and an attribution-window sanity
    check in one number).

    Exactness and scale discipline: the candidate join is the
    stream-stream interval join's batch shape (equi-join on user + time
    range residual — never a cartesian); first-conversion is a per-from
    min; the GLOBAL quantiles ride the distributed global-rank
    machinery (AQE-sized range repartition + literal per-partition
    offsets, operators/windows.py) — a single-group ``grouped_quantiles`` would
    sort the whole converting set in ONE partition, the WindowExec
    scale-killer this module bans. Latencies are exact integer
    microseconds; the mean is one sum/count IEEE division.
    """
    from aws_data_pipeline_spark.operators.windows import (
        _global_row_number_with_total,
    )

    base = df.where(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    c = base.where(F.col(type_col) == from_type).select(
        F.col(user_col).alias("__u"),
        F.col(id_col).alias("__cid"),
        F.col(ts_col).alias("__cts"),
    )
    p = base.where(F.col(type_col) == to_type).select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__pts"),
    )
    lat = (
        c.join(p, "__u")
        .where(
            (F.col("__pts") > F.col("__cts"))
            & (
                F.col("__pts")
                <= F.col("__cts") + F.expr(f"INTERVAL {window_seconds} SECOND")
            )
        )
        .groupBy("__cid")
        .agg(
            (
                F.min(F.unix_micros(F.col("__pts").cast("timestamp")))
                - F.first(F.unix_micros(F.col("__cts").cast("timestamp")))
            ).alias("latency_us")
        )
    )
    ranked, n = _global_row_number_with_total(
        lat, [F.col("latency_us").asc(), F.col("__cid").asc()], "__rn", None
    )
    import math

    if n == 0:
        # Empty-input contract (VERDICT r12 item 3): zero conversions is
        # an ANSWER, not an empty frame — emit the one summary row with
        # n_conversions=0 and null mean/quantiles, exactly what the SQL
        # twin's grand aggregate over an empty CTE produces. Without
        # this, the quantile crossJoins below annihilate the aggregate
        # row and callers can't tell "no conversions" from "no data".
        out = lat.agg(
            F.count("*").alias("n_conversions"),
            F.lit(None).cast("double").alias("mean_latency_us"),
        )
        for q in ps:
            out = out.withColumn(
                f"{_quantile_name(q)}_us", F.lit(None).cast("bigint")
            )
        return out

    targets = {
        _quantile_name(q): max(1, math.ceil(q * n)) for q in ps
    }
    picks = ranked.filter(
        F.col("__rn").isin(*targets.values())
    ).select("__rn", "latency_us")
    agg = lat.agg(
        F.count("*").alias("n_conversions"),
        (F.sum("latency_us") / F.count("*").cast("double")).alias(
            "mean_latency_us"
        ),
    )
    for name, rn in targets.items():
        agg = agg.crossJoin(
            F.broadcast(
                picks.filter(F.col("__rn") == rn)
                .select(F.col("latency_us").alias(f"{name}_us"))
                .limit(1)
            )
        )
    return agg
