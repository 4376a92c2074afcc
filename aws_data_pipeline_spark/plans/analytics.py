"""Analytics plans: the SURVEY.md §2.5 gap list — joins (all types), window
functions, sort/limit/top-k, set operations, string/JSON functions, pivot,
as-of + bucketed range joins, sessionization.

The reference contains none of these (its only relational verbs are
filter/project/groupBy, SURVEY.md §2.5); they are what makes the engine a
real analytics surface over the medallion zones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_data_pipeline_spark.functions.exact import davg, dsum, units, usum, usum_big
from aws_data_pipeline_spark.operators import joins, windows
from aws_data_pipeline_spark.plans import register
from aws_data_pipeline_spark.plans.common import T, davg_sql, dsum_sql

# Exact decimal revenue: both factors are 2-dp-intended doubles; casting each
# to DECIMAL(12,2) recovers the intended values exactly, the decimal multiply
# (scale 4) and sum are exact, and the final double cast is deterministic.
# (Lazy: Column construction needs an active SparkContext in pyspark 4.)
def _rev_spark():
    """Revenue per line in EXACT integer 1e-4-dollar units: cents(price) x
    (100 - cents(discount)). Both factors recover their 2-dp-intended values
    exactly, the long multiply is exact, so the sum is the same rational the
    decimal formulation computes — but on codegen-primitive longs
    (functions/exact.py documents the ~3.7x and the overflow bounds)."""
    return units("l_extendedprice", 2) * (F.lit(100) - units("l_discount", 2))


def _sum_rev():
    """SUM of _rev_spark units -> exact re-scale -> double (oracle twin:
    CAST(SUM(<_REV_SQL>) AS DOUBLE)). usum_big, not usum: revenue sums
    feed near-global groups (q1, q6's single group), where the long-unit
    path's ±9.2e14-dollar bound is reachable at 100 TB."""
    return usum_big(_rev_spark(), 4)


def _charge_spark():
    """Charge per line in exact integer 1e-6-dollar units."""
    return _rev_spark() * (F.lit(100) + units("l_tax", 2))


def _sum_charge():
    # degree-3 units overflow the long path at ~SF 2e4 per q1 group
    return usum_big(_charge_spark(), 6)


_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"
)
_CHARGE_SQL = (
    f"{_REV_SQL} * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))"
)


# -- TPC-H Q1: pricing summary (scan + filter pushdown + 8-agg bundle) -----


@register(
    "q1_pricing_summary",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({_CHARGE_SQL}) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide aggregate bundle after a pushed-down date filter
    (.explain shows PushedFilters on l_shipdate at the parquet scan)."""
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "decimal(12,2)").alias("sum_qty"),
        dsum("l_extendedprice", "decimal(12,2)").alias("sum_base_price"),
        _sum_rev().alias("sum_disc_price"),
        _sum_charge().alias("sum_charge"),
        davg("l_quantity", "decimal(12,2)").alias("avg_qty"),
        davg("l_extendedprice", "decimal(12,2)").alias("avg_price"),
        davg("l_discount", "decimal(12,2)").alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# -- Multi-way broadcast join: regional revenue (TPC-H Q5 shape) -----------


@register(
    "regional_revenue",
    sql=f"""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           COUNT(*) AS line_count,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact ⋈ dim chain — true dims broadcast, the
    orders side left to AQE (fact-sized at scale), lineitem shuffles once
    (for the final groupBy), never for the joins."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = T(spark, sf_dir, "region")
    joined = joins.enrich(
        li,
        [
            # orders is a fact — no broadcast hint (its projected size fits
            # at test SF, so AQE still picks broadcast HERE, but the choice
            # must stay runtime-measured: forced, it OOMs at 100x)
            (o, li.l_orderkey == o.o_orderkey, False),
            (c, o.o_custkey == c.c_custkey),
            (n, c.c_nationkey == n.n_nationkey),
            (r, n.n_regionkey == r.r_regionkey),
        ],
    )
    return joined.groupBy(
        F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
    ).agg(
        F.count("*").alias("line_count"),
        _sum_rev().alias("revenue"),
    )


# -- Semi joins ------------------------------------------------------------


@register(
    "semi_join_active_customers",
    sql="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    """,
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one finished order.
    Semi joins never duplicate the left side — no post-join dedup needed."""
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return joins.semi_join(c, o, c.c_custkey == o.o_custkey)


# -- Window functions ------------------------------------------------------


@register(
    "topk_orders_per_customer",
    demoted=True,
    sql="""
    SELECT o_custkey AS customer_id, o_orderkey, o_totalprice, rank FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC
             ) AS rank
      FROM orders
    ) WHERE rank <= 3
    """,
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number with a total order (tie-break on the
    unique key) — deterministic, single shuffle, no global sort.

    Demoted r12 (hash-green r11, full oracle stays in the pytest replica)
    to seat event_transition_matrix under the named-demotion rule: the
    rank-top-k-per-group WindowGroupLimit shape's driver signal is
    carried by provenance_fuzzy_link (promoted r12 — its rank<=3 per
    snippet is this exact window) beside rfm_customer_segments'
    ranking surface and q15/q18's top-k shapes."""
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    out = windows.topk_per_group(
        o,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    )
    return out.withColumnRenamed("o_custkey", "customer_id")


# demoted r5 (window consolidation): the cumulative-frame capability keeps
# driver signal via trailing_30d_customer_spend (explicit RANGE frame) and
# order_sequence_windows (running ROWS frame first_value)
@register(
    "running_customer_spend",
    demoted=True,
    sql="""
    SELECT o_custkey AS customer_id, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_total
    FROM orders
    """,
)
def running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running lifetime value per customer — cumulative decimal-exact sum.

    Demoted (r5 consolidation): driver signal carried by trailing_30d_customer_spend (window frames incl. running sums).
    """
    o = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    out = windows.running_sum(
        o,
        ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        "o_totalprice",
    )
    return out.drop("o_totalprice").withColumnRenamed("o_custkey", "customer_id")


# demoted r5 (window consolidation): lag/lead keep driver signal via
# order_sequence_windows (lead) and scd2_customer_segment_history (lag)
@register(
    "order_gap_days",
    demoted=True,
    sql="""
    SELECT o_custkey AS customer_id, o_orderkey, o_orderdate,
           CAST(date_diff('day',
             CAST(lag(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS DATE),
             CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev
    FROM orders
    """,
)
def order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() delta: days since the customer's previous order (null first).

    Demoted (r5 consolidation): driver signal carried by order_sequence_windows (lag/lead over the same ordering).
    """
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    out = windows.lag_delta_days(
        o,
        ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        "o_orderdate",
    )
    return out.withColumnRenamed("o_custkey", "customer_id")


@register(
    "order_sequence_windows",
    sql="""
    SELECT o_orderkey, o_custkey AS customer_id,
           lead(o_orderdate) OVER w AS next_order_date,
           first_value(o_totalprice) OVER w AS first_order_price,
           last_value(o_totalprice) OVER wf AS last_order_price,
           nth_value(o_totalprice, 2) OVER wf AS second_order_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def order_sequence_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation-function bundle over each customer's order sequence:
    lead (next order date), first_value (running frame), last_value and
    nth_value (full frame) — the window verbs the lag/rank queries don't
    exercise. One total order (date, orderkey tiebreak) shared by both
    frames, so the plan is a single partition shuffle + sort feeding every
    function; frames are EXPLICIT in Spark and oracle alike (default
    frames for first_value/last_value differ subtly across engines —
    running vs full — so relying on defaults is a portability bug)."""
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    order = [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("o_custkey")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        F.col("o_custkey").alias("customer_id"),
        F.lead("o_orderdate").over(
            Window.partitionBy("o_custkey").orderBy(*order)
        ).alias("next_order_date"),
        F.first("o_totalprice").over(w).alias("first_order_price"),
        F.last("o_totalprice").over(wf).alias("last_order_price"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_order_price"),
    )


# -- Set operations --------------------------------------------------------


@register(
    "order_year_set_ops",
    sql="""
    WITH y1995 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
         y1996 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
    SELECT 'both' AS cohort, o_custkey FROM (SELECT o_custkey FROM y1995 INTERSECT SELECT o_custkey FROM y1996)
    UNION ALL
    SELECT 'only_1995' AS cohort, o_custkey FROM (SELECT o_custkey FROM y1995 EXCEPT SELECT o_custkey FROM y1996)
    UNION ALL
    SELECT 'only_1996' AS cohort, o_custkey FROM (SELECT o_custkey FROM y1996 EXCEPT SELECT o_custkey FROM y1995)
    """,
)
def order_year_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect / except / union — the zone-reconciliation shape (silver vs
    re-derived silver)."""
    o = T(spark, sf_dir, "orders")
    y1995 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y1996 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    both = y1995.intersect(y1996).withColumn("cohort", F.lit("both"))
    only95 = y1995.exceptAll(y1996).withColumn("cohort", F.lit("only_1995"))
    only96 = y1996.exceptAll(y1995).withColumn("cohort", F.lit("only_1996"))
    return both.unionByName(only95).unionByName(only96).select("cohort", "o_custkey")


# -- JSON props ------------------------------------------------------------


@register(
    "json_props_stats",
    sql="""
    SELECT event_type,
           COUNT(*) AS event_count,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
           COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_distinct
    FROM events
    GROUP BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured handling: extract ``$.k`` from the JSON props column
    (get_json_object — no schema materialization) and aggregate. Integer
    sums are exact, no decimal routing needed."""
    e = T(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("event_count"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.countDistinct("k").alias("k_distinct"),
        )
    )


# -- Pivot -----------------------------------------------------------------


@register(
    "pivot_event_values",
    sql="""
    SELECT user_id,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(38,6))) FILTER (event_type = 'click'), 0) AS DOUBLE) AS click,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(38,6))) FILTER (event_type = 'error'), 0) AS DOUBLE) AS error,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(38,6))) FILTER (event_type = 'purchase'), 0) AS DOUBLE) AS purchase,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(38,6))) FILTER (event_type = 'signup'), 0) AS DOUBLE) AS signup,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(38,6))) FILTER (event_type = 'view'), 0) AS DOUBLE) AS view
    FROM events
    GROUP BY user_id
    """,
)
def pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type value totals. The pivot value list is
    explicit — at scale an unlisted pivot forces an extra distinct pass."""
    e = T(spark, sf_dir, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.sum(F.col("value").cast("decimal(38,6)")).cast("double"))
    )
    for c in ["click", "error", "purchase", "signup", "view"]:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0.0)))
    return out


# -- As-of join ------------------------------------------------------------


@register(
    "asof_last_click_before_purchase",
    # window-over-union oracle rather than DuckDB's ASOF JOIN: ASOF picks
    # an ARBITRARY survivor among right rows tied on (user, ts), so the
    # value-hash could flake; this formulation pins the same max-event_id
    # tie rule the Spark side uses
    sql="""
    WITH u AS (
      SELECT user_id, ts, NULL::BIGINT AS pid,
             event_id AS cid, ts AS cts, 0 AS side
      FROM events WHERE event_type = 'click' AND user_id IS NOT NULL
      UNION ALL
      SELECT user_id, ts, event_id, NULL, NULL, 1
      FROM events WHERE event_type = 'purchase'
    ), filled AS (
      SELECT *,
             last_value(cid IGNORE NULLS) OVER w AS matched_event_id,
             last_value(cts IGNORE NULLS) OVER w AS matched_ts
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, cid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT pid AS event_id, user_id, ts, matched_event_id, matched_ts
    FROM filled WHERE side = 1
    """,
)
def asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest click at or
    before it. Union+window formulation — one shuffle on user_id, no range
    explosion (operators/joins.py::asof_join)."""
    e = T(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    out = joins.asof_join(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        right_cols=["event_id", "ts"],
        right_tiebreak="event_id",  # deterministic under (user, ts) ties
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("matched_event_id"),
        F.col("matched_ts"),
    )


# -- Bucketed range join ---------------------------------------------------


@register(
    "events_within_10min",
    sql="""
    SELECT a.event_id, COUNT(b.event_id) AS followers_10min
    FROM events a
    LEFT JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 10 MINUTE
    GROUP BY a.event_id
    """,
)
def events_within_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join, bucketed: same-user events in the next 10 minutes.

    The right side only probes its own and the previous coarse time bucket,
    so the physical plan is an equi-join on (user, bucket) + residual filter
    — no broadcast-nested-loop cross product (operators/joins.py)."""
    e = T(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    pairs = joins.range_join_bucketed(
        e, e, key="user_id", left_ts="ts", right_ts="ts", window_seconds=600
    )
    cnt = pairs.groupBy(F.col("event_id")).agg(
        F.count("*").alias("followers_10min")
    )
    # left join back so zero-follower events keep a 0 count
    base = e.select("event_id")
    return base.join(cnt, "event_id", "left").select(
        "event_id", F.coalesce("followers_10min", F.lit(0)).alias("followers_10min")
    )


# -- Sessionization --------------------------------------------------------


@register(
    "sessionize_events",
    sql="""
    WITH flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, value,
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS session_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min gap) + per-session rollup —
    the batch twin of Structured Streaming session windows."""
    e = T(spark, sf_dir, "events").select("user_id", "ts", "value", "event_id")
    s = windows.sessionize(
        e, key="user_id", ts_col="ts", gap_seconds=1800, tiebreak="event_id"
    )
    return s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("session_value"),
    )


# -- CUBE / multi-dim rollup ----------------------------------------------


@register(
    "cube_priority_status",
    sql="""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS order_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_amount
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    -- inert on any non-empty input (every cube group aggregates >= 1
    -- row); on an EMPTY table it drops the SQL-standard grand-total
    -- row, matching Spark's cube semantics (df.cube over empty input
    -- emits 0 rows) — the engine is Spark-first, so the oracle
    -- expresses Spark's contract (tests/test_empty_contract.py)
    HAVING COUNT(*) > 0
    """,
)
def cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping combinations of (priority, status) in one pass —
    shares the scan and partial aggregation like GROUPING SETS."""
    o = T(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("order_count"),
        dsum("o_totalprice").alias("total_amount"),
    )


# -- A2: global counts / table stats ---------------------------------------


@register(
    "global_table_stats",
    sql="""
    SELECT COUNT(*) AS total_rows,
           COUNT(DISTINCT o_custkey) AS distinct_customers,
           COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS distinct_days,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders
    """,
)
def global_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (reference bronze_to_silver.py:30,47): global QC counts — in-plan
    aggregates, not .count() actions, so they ride one job."""
    o = T(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("total_rows"),
        F.countDistinct("o_custkey").alias("distinct_customers"),
        F.countDistinct(F.to_date("o_orderdate")).alias("distinct_days"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@register("approx_distinct_customers", sql=None)
def approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 approximate variant: HLL approx_count_distinct per month — the
    scale path for high-cardinality grains (no exact-distinct shuffle
    explosion). Rows-only (sketch values are engine-specific); pytest bounds
    the relative error vs exact."""
    o = T(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").alias("year")).agg(
        F.approx_count_distinct("o_custkey").alias("approx_customers"),
    )


# -- Full outer join / percentiles / ntile / skew-safe join ---------------


@register(
    "full_outer_nation_balance",
    sql="""
    SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
           c.n_custs, c.cust_balance, s.n_supps, s.supp_balance
    FROM (SELECT c_nationkey,
                 COUNT(*) AS n_custs,
                 CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS cust_balance
          FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey) c
    FULL OUTER JOIN
         (SELECT s_nationkey,
                 COUNT(*) AS n_supps,
                 CAST(SUM(CAST(s_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS supp_balance
          FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey) s
      ON c.c_nationkey = s.s_nationkey
    """,
)
def full_outer_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: high-balance customer vs supplier rollups per nation
    — nations present on either side survive with nulls on the other
    (the selective filters make each side sparse enough to miss nations)."""
    c = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_custs"), dsum("c_acctbal").alias("cust_balance"))
    )
    s = (
        T(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_supps"), dsum("s_acctbal").alias("supp_balance"))
    )
    joined = c.join(s, c.c_nationkey == s.s_nationkey, "full_outer")
    return joined.select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        "n_custs",
        "cust_balance",
        "n_supps",
        "supp_balance",
    )


@register(
    "price_percentiles_by_priority",
    demoted=True,
    sql="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           quantile_cont(o_totalprice, 0.99) AS p99
    FROM orders GROUP BY o_orderpriority
    """,
)
def price_percentiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`, both linear interpolation). The scale variant is
    `approx_percentile` (t-digest sketch, mergeable map-side) — exact
    percentile needs the full group sorted.

    Demoted (round 7, slot ceded to bm25_scores): per-group exact
    quantiles are carried by quality_winsorized_by_source. Kept as the
    exact reference test_approx_percentile_error_bound holds
    price_percentiles_approx to."""
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
        F.percentile("o_totalprice", F.lit(0.9)).alias("p90"),
        F.percentile("o_totalprice", F.lit(0.99)).alias("p99"),
    )


@register(
    "salted_nation_order_stats",
    sql="""
    SELECT c.c_nationkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def salted_nation_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe salted join (operators/joins.py::salted_join) under the
    driver's correctness gate: per-nation order stats computed through the
    salt-and-replicate path must equal the plain-join oracle exactly."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    j = joins.salted_join(o, c, "o_custkey", salt_buckets=8)
    return j.groupBy("c_nationkey").agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )


# -- SQL entry point -------------------------------------------------------

_SQL_SURFACE = """
    SELECT o_orderstatus,
           COUNT(*) AS order_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) / COUNT(o_totalprice)
             AS avg_price
    FROM orders
    GROUP BY o_orderstatus
"""


@register("sql_surface_order_status", sql=_SQL_SURFACE)
def sql_surface_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql() entry point (the reference has none — §2.5): the SAME
    ANSI text runs on Spark (over catalog.register_views temp views) and on
    the DuckDB oracle, proving dialect-portable SQL in and out."""
    from aws_data_pipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_SURFACE)


@register("price_percentiles_approx", sql=None)
def price_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (t-digest-style sketch, mergeable map-side) — the
    scale variant of price_percentiles_by_priority: exact percentiles need
    the full group sorted; the sketch is one combiner-friendly pass.
    Rows-only (sketch values are engine-specific); pytest bounds the error
    vs the exact percentiles."""
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias("p50"),
        F.approx_percentile("o_totalprice", F.lit(0.9), F.lit(10000)).alias("p90"),
        F.approx_percentile("o_totalprice", F.lit(0.99), F.lit(10000)).alias("p99"),
    )


@register(
    "trailing_30d_customer_spend",
    sql="""
    SELECT o_custkey AS customer_id, o_orderkey, epoch_day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
             PARTITION BY o_custkey ORDER BY epoch_day
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_30d_spend
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
               AS epoch_day
      FROM orders
    )
    """,
)
def trailing_30d_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame: per-customer trailing-30-day spend — a VALUE-based
    frame (all orders within 29 days), not a row-count frame; peers with the
    same day share the same result in both engines, so no tie-break issues."""
    o = T(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("epoch_day"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("epoch_day")
        .rangeBetween(-29, Window.currentRow)
    )
    return o.select(
        F.col("o_custkey").alias("customer_id"),
        "o_orderkey",
        "epoch_day",
        F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_30d_spend"),
    )


@register(
    "daily_gapfill_nation_revenue",
    sql="""
    WITH daily AS (
      SELECT n_name AS nation_name, CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
             MAX(CAST(o_orderdate AS DATE)) AS d1
      FROM orders
    ),
    days AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ),
    scaffold AS (SELECT n_name AS nation_name, day FROM nation, days)
    SELECT s.nation_name, s.day,
           CAST(COALESCE(d.rev, 0) AS DOUBLE) AS daily_revenue,
           CAST(SUM(COALESCE(d.rev, CAST(0 AS DECIMAL(30,2)))) OVER (
             PARTITION BY s.nation_name ORDER BY s.day
           ) AS DOUBLE) AS running_revenue
    FROM scaffold s
    LEFT JOIN daily d ON s.nation_name = d.nation_name AND s.day = d.day
    """,
)
def daily_gapfill_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-filling (hypertable-rollup family): build a gapless
    per-nation daily scaffold (sequence+explode of the observed date range,
    cross-joined with the 25-row nation dim), left-join the actual daily
    revenue, zero-fill, and run a cumulative total over the now-gapless
    series. The scaffold side is dims x days — tiny and broadcastable — so
    the only fact-sized work is the one daily groupBy; the window then runs
    over 25 short partitions."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev"))
    )
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    scaffold = (
        T(spark, sf_dir, "nation")
        .select(F.col("n_name").alias("nation_name"))
        .crossJoin(F.broadcast(days))
    )
    w = Window.partitionBy("nation_name").orderBy("day")
    zero = F.lit(0).cast("decimal(30,2)")
    return (
        scaffold.join(daily, ["nation_name", "day"], "left")
        .select(
            "nation_name",
            "day",
            F.coalesce(F.col("rev"), zero).cast("double").alias("daily_revenue"),
            F.sum(F.coalesce(F.col("rev"), zero))
            .over(w)
            .cast("double")
            .alias("running_revenue"),
        )
    )


@register(
    "unpivot_returnflag_measures",
    sql="""
    WITH agg AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, measure, value
    FROM (UNPIVOT agg ON sum_qty, sum_price INTO NAME measure VALUE value)
    """,
)
def unpivot_returnflag_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide per-flag aggregates to long (measure, value) form —
    the inverse of pivot_event_values, via the native unpivot operator (a
    generator projection, no shuffle beyond the feeding agg)."""
    li = T(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        dsum("l_quantity", "decimal(12,2)").alias("sum_qty"),
        dsum("l_extendedprice", "decimal(12,2)").alias("sum_price"),
    )
    return agg.unpivot(["l_returnflag"], ["sum_qty", "sum_price"], "measure", "value")


@register(
    "scd2_customer_segment_history",
    sql="""
    WITH yearly AS (
      SELECT o_custkey AS customer_id, CAST(YEAR(o_orderdate) AS INT) AS yr,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS spend
      FROM orders GROUP BY 1, 2
    ),
    seg AS (
      SELECT customer_id, yr,
             CASE WHEN spend > 600000 THEN 'high'
                  WHEN spend > 300000 THEN 'medium'
                  ELSE 'low' END AS segment
      FROM yearly
    ),
    lagged AS (
      SELECT customer_id, yr, segment,
             LAG(segment) OVER (PARTITION BY customer_id ORDER BY yr) AS prev_seg,
             LAG(yr) OVER (PARTITION BY customer_id ORDER BY yr) AS prev_yr
      FROM seg
    ),
    isl AS (
      SELECT customer_id, yr, segment,
             SUM(CASE WHEN segment = prev_seg AND yr = prev_yr + 1 THEN 0 ELSE 1 END)
               OVER (PARTITION BY customer_id ORDER BY yr) AS grp
      FROM lagged
    )
    SELECT customer_id, segment,
           MIN(yr) AS valid_from_year, MAX(yr) AS valid_to_year,
           COUNT(*) AS n_years
    FROM isl GROUP BY customer_id, segment, grp
    """,
)
def scd2_customer_segment_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history: per-customer yearly spend segment
    collapsed into validity intervals (gaps-and-islands — a new interval
    starts on segment change OR a gap year). One shuffle on customer_id
    serves all three window passes and the final island rollup; at scale
    this is the standard 'rebuild dimension history from facts' shape."""
    o = T(spark, sf_dir, "orders")
    yearly = o.groupBy(
        F.col("o_custkey").alias("customer_id"),
        F.year("o_orderdate").cast("int").alias("yr"),
    ).agg(dsum("o_totalprice", "decimal(30,2)").alias("spend"))
    seg = yearly.select(
        "customer_id",
        "yr",
        F.when(F.col("spend") > 600000, "high")
        .when(F.col("spend") > 300000, "medium")
        .otherwise("low")
        .alias("segment"),
    )
    w = Window.partitionBy("customer_id").orderBy("yr")
    lagged = seg.withColumns(
        {"prev_seg": F.lag("segment").over(w), "prev_yr": F.lag("yr").over(w)}
    )
    isl = lagged.withColumn(
        "grp",
        F.sum(
            F.when(
                (F.col("segment") == F.col("prev_seg"))
                & (F.col("yr") == F.col("prev_yr") + 1),
                0,
            ).otherwise(1)
        ).over(w),
    )
    return isl.groupBy("customer_id", "segment", "grp").agg(
        F.min("yr").alias("valid_from_year"),
        F.max("yr").alias("valid_to_year"),
        F.count("*").alias("n_years"),
    ).drop("grp")


@register(
    "cohort_retention_daily",
    # counts exact; retention one int/int division; the week/day trunc
    # conventions are the engines' shared ones
    sql="""
    WITH base AS (
      SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS p
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), first AS (
      SELECT u, MIN(p) AS cohort FROM base GROUP BY u
    ), sizes AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_cohort
      FROM first GROUP BY cohort
    ), ret AS (
      SELECT f.cohort,
             CAST(date_diff('day', f.cohort, b.p) AS INTEGER)
               AS period_offset,
             CAST(COUNT(*) AS BIGINT) AS n_active
      FROM base b JOIN first f USING (u)
      GROUP BY 1, 2
    )
    SELECT r.cohort, r.period_offset, r.n_active, s.n_cohort,
           r.n_active / CAST(s.n_cohort AS DOUBLE) AS retention
    FROM ret r JOIN sizes s ON s.cohort = r.cohort
    """,
)
def cohort_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention triangle over the event stream
    (operators/aggregate.py::cohort_retention): users bucketed by
    first-active day; per (cohort, day-offset), returning-user counts
    and the exact retention fraction — the product-analytics curve no
    single-grain aggregate expresses. Offset 0 equals the cohort size by
    construction (hashed by the oracle too).

    Born round 11 demoted-with-full-oracle; PROMOTED r12 under the
    named-demotion rule, demoting daily_aggregations — whose 6-aggregate
    day-grain bundle is the SAME operator (aggregate.py::grain_bundle)
    multi_grain_rollup_hierarchical keeps driver-visible at every
    grain."""
    from aws_data_pipeline_spark.operators.aggregate import cohort_retention

    return cohort_retention(T(spark, sf_dir, "events"), "user_id", "ts")


@register(
    "event_transition_matrix",
    demoted=True,
    # the lag rides a per-user total order (ts, event_id); counts exact,
    # probabilities one int/int division each
    sql="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ) AS prev_type
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), pairs AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ), totals AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
      FROM pairs GROUP BY from_type
    )
    SELECT p.from_type, p.to_type, p.n,
           p.n / CAST(t.tot AS DOUBLE) AS p
    FROM pairs p JOIN totals t USING (from_type)
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream
    (operators/aggregate.py::event_transitions): per (from, to)
    event-type pair, consecutive same-user step counts and row-normalized
    probabilities — the general "where do users go next" flow estimate
    behind the fixed-sequence funnels. Lag rides the (ts, event_id)
    per-user total order, so the matrix is partitioning-independent.

    Born round 11 demoted-with-full-oracle; PROMOTED r12 under the
    named-demotion rule (paired with topk_orders_per_customer's demotion
    — provenance_fuzzy_link now carries that rank-top-k window shape).
    This entry's per-key (ts, id)-ordered lag window sits beside
    order_sequence_windows' navigation bundle and sessionize_events'
    gap sessions in the registered window-function estate.

    Demoted round 13 (paired with event_interarrival_stats' promotion):
    the per-key (ts, id)-ordered lag-window chain runs VERBATIM in the
    promoted entry (lag over a partitioned total order), and the
    sequence-pair counting surface is carried by event_path_trigrams'
    path counts (registered this round, a strict 3-gram superset of the
    2-gram transition pairs). Full oracle stays in the pytest
    replica."""
    from aws_data_pipeline_spark.operators.aggregate import event_transitions

    return event_transitions(
        T(spark, sf_dir, "events"), "user_id", "ts", "event_type", "event_id"
    )


@register(
    "rfm_customer_segments",
    # everything exact: recency an integer day diff against a literal
    # anchor, frequency a count, monetary the decimal-sum->one-double-cast
    # (the customer_insights dsum convention), scores exact SQL ntile over
    # (metric, key) total orders, segment a CASE over the three ints
    sql="""
    WITH base AS (
      SELECT o_custkey AS customer_id,
             CAST(date_diff('day', MAX(o_orderdate), DATE '1998-12-31')
                  AS INTEGER) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    ), s AS (
      SELECT *,
        CAST(ntile(5) OVER (ORDER BY recency_days DESC, customer_id ASC)
             AS INTEGER) AS r_score,
        CAST(ntile(5) OVER (ORDER BY frequency ASC, customer_id ASC)
             AS INTEGER) AS f_score,
        CAST(ntile(5) OVER (ORDER BY monetary ASC, customer_id ASC)
             AS INTEGER) AS m_score
      FROM base
    )
    SELECT customer_id, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                  THEN 'champion'
                WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
                WHEN r_score <= 2 AND (f_score >= 4 OR m_score >= 4)
                  THEN 'at_risk'
                WHEN r_score <= 2 AND f_score <= 2 AND m_score <= 2
                  THEN 'lost'
                ELSE 'regular' END AS segment
    FROM s
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of the customer base
    (operators/aggregate.py::rfm_scores, anchor 1998-12-31, quintiles):
    recency/frequency/monetary quintile scores and the standard named
    segments (champion / new / at_risk / lost / regular) — the marketing
    segmentation every CRM export asks of the order history, and a shape
    (three exact global ntiles over one aggregate) none of the existing
    window entries composes. All three ntiles run through the
    distributed global-rank machinery (never Exchange SinglePartition).
    Born round 12 demoted-with-full-oracle; PROMOTED round 13 under the
    named-demotion rule, demoting a spend-quartile entry (since
    deleted) whose single global-ntile chain this entry runs verbatim,
    three times."""
    from aws_data_pipeline_spark.operators.aggregate import rfm_scores

    o = T(spark, sf_dir, "orders")
    return rfm_scores(
        o, "o_custkey", "o_orderdate", "o_totalprice", anchor="1998-12-31"
    ).withColumnRenamed("o_custkey", "customer_id")


@register(
    "event_path_trigrams",
    # counts exact over a per-user total order; top-20 tie-broken on the
    # path string; ranks assigned over the 20-row result
    sql="""
    WITH seq AS (
      SELECT event_type AS s1,
             lead(event_type, 1) OVER w AS s2,
             lead(event_type, 2) OVER w AS s3
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), p AS (
      SELECT s1 || ' > ' || s2 || ' > ' || s3 AS path,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE s2 IS NOT NULL AND s3 IS NOT NULL GROUP BY 1
    )
    SELECT path, n,
           CAST(row_number() OVER (ORDER BY n DESC, path ASC) AS INTEGER)
             AS rank
    FROM p ORDER BY n DESC, path ASC LIMIT 20
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step user journeys through the event stream
    (operators/aggregate.py::event_paths): funnel DISCOVERY — which
    paths actually happen, before anyone names one to measure
    (a named funnel measures; this surfaces). Two leads over
    ONE shared per-user sort (a single WindowExec), a domain-bounded
    trigram count, distributed TakeOrdered top-k, ranks over the 20-row
    result only. Born round 12 demoted-with-full-oracle; PROMOTED round
    13 under the named-demotion rule, demoting a fixed view>click>
    purchase funnel entry (since deleted) whose per-user sequence-window
    chain this entry runs verbatim, and whose ordering is one of the
    paths this discovery counts."""
    from aws_data_pipeline_spark.operators.aggregate import event_paths

    return event_paths(
        T(spark, sf_dir, "events"), "user_id", "ts", "event_type", "event_id"
    )


@register(
    "event_interarrival_stats",
    # gaps are exact integer microseconds under the fixed UTC session;
    # the mean is one bigint-sum / double-count division mirrored in
    # order; p50/p95 are the grouped_quantiles nearest-rank convention
    sql="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY event_type ORDER BY ts ASC, event_id ASC
             )) AS gap_us
      FROM events WHERE ts IS NOT NULL
    ), gg AS (
      SELECT event_type, CAST(gap_us AS BIGINT) AS gap_us
      FROM g WHERE gap_us IS NOT NULL
    ), r AS (
      SELECT event_type, gap_us,
             row_number() OVER (
               PARTITION BY event_type ORDER BY gap_us
             ) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(gap_us) OVER (PARTITION BY event_type) AS s
      FROM gg
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MAX(s) AS DOUBLE) / MAX(n) AS mean_gap_us,
           MAX(CASE WHEN rn = ceil(0.5 * n) THEN gap_us END) AS p50_us,
           MAX(CASE WHEN rn = ceil(0.95 * n) THEN gap_us END) AS p95_us
    FROM r GROUP BY event_type
    """,
)
def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival profile
    (operators/aggregate.py::interarrival_stats): exact microsecond gaps
    between consecutive same-type events, summarized as count / mean /
    nearest-rank p50 / p95 — the feed-cadence fingerprint behind SLA
    alerting and synthetic-load replay, and the time-domain sibling of
    dq_ingest_volume_anomalies' count-domain check. Born round 12
    demoted-with-full-oracle; PROMOTED round 13 under the
    named-demotion rule, demoting event_transition_matrix — whose
    per-key (ts, id)-ordered lag-window chain this entry runs
    verbatim."""
    from aws_data_pipeline_spark.operators.aggregate import (
        interarrival_stats,
    )

    return interarrival_stats(
        T(spark, sf_dir, "events"), "event_type", "ts", "event_id"
    )


@register(
    "conversion_latency_stats",
    # latencies are exact integer microseconds; the mean is one
    # bigint-sum / double-count division mirrored in order; quantiles
    # are nearest-rank picks over the (latency, click-id) total order
    sql="""
    WITH c AS (
      SELECT user_id AS u, event_id AS cid, ts AS cts FROM events
      WHERE event_type = 'click' AND user_id IS NOT NULL
        AND ts IS NOT NULL
    ), p AS (
      SELECT user_id AS u, ts AS pts FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
        AND ts IS NOT NULL
    ), lat AS (
      SELECT cid,
             MIN(epoch_us(pts)) - MIN(epoch_us(cts)) AS latency_us
      FROM c JOIN p USING (u)
      WHERE pts > cts AND pts <= cts + INTERVAL 10 MINUTE
      GROUP BY cid
    ), r AS (
      SELECT latency_us,
             row_number() OVER (ORDER BY latency_us ASC, cid ASC) AS rn,
             count(*) OVER () AS n,
             sum(latency_us) OVER () AS s
      FROM lat
    )
    SELECT CAST(COALESCE(MAX(n), 0) AS BIGINT) AS n_conversions,
           CAST(MAX(s) AS DOUBLE) / MAX(n) AS mean_latency_us,
           MAX(CASE WHEN rn = greatest(1, ceil(0.5 * n))
                    THEN latency_us END) AS p50_us,
           MAX(CASE WHEN rn = greatest(1, ceil(0.9 * n))
                    THEN latency_us END) AS p90_us
    FROM r
    """,
)
def conversion_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase conversion-latency distribution
    (operators/aggregate.py::conversion_latency, 10-minute window):
    one row of count / mean / exact p50 / p90 in microseconds over each
    converting click's FIRST purchase — the latency twin of the funnel
    (who converts vs how fast), an SLA, a UX metric, and an
    attribution-window sanity check in one number. The candidate join
    is the stream-stream interval join's batch shape; the GLOBAL
    quantiles ride the distributed global-rank machinery (range
    repartition + literal partition offsets) — never a single-partition sort of
    the converting set. Born round 12 demoted-with-full-oracle;
    PROMOTED round 13 under the named-demotion rule, demoting
    click_purchase_attribution — whose 10-minute click->purchase
    interval join this entry runs verbatim as its candidate stage."""
    from aws_data_pipeline_spark.operators.aggregate import (
        conversion_latency,
    )

    return conversion_latency(
        T(spark, sf_dir, "events"),
        "user_id", "ts", "event_type", "event_id",
        "click", "purchase", window_seconds=600,
    )
