"""Data-quality checks — the reference SHIPS these as 0-byte placeholders
(``src/glue_jobs/data_quality_checks.py`` and
``src/lambda_functions/data_validation.py`` are both empty files; its only
real QC is the validate/dedup filter in ``bronze_to_silver.py:26-51``).
This module is the real implementation of that intent.

Design: every check is expressed as ONE aggregation pass over the table
(conditional aggregates, not one scan per rule), so a 40-rule suite on
100 TB costs a single scan. Checks return data, not booleans — the caller
(or the driver oracle) decides pass/fail thresholds.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators import arrow_frame, lit_array


def _check_names(names: Sequence[str], what: str) -> None:
    """Caller-supplied names are interpolated into selectExpr/stack strings
    and used as aggregate aliases: anything but a plain identifier would
    produce a confusing AnalysisException deep in the plan (or, for a name
    like __rows, silently shadow an internal column) — reject up front."""
    for n in names:
        if not n.isidentifier() or n.startswith("__"):
            raise ValueError(
                f"{what} name {n!r} must be a plain identifier not starting "
                "with '__' (it is interpolated into SQL and used as an alias)"
            )


def profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Single-pass column profile: rows, nulls, distinct, min/max per column.

    One wide aggregate -> one scan -> one row; unpivoted to a row per column
    (stack is a projection, not a shuffle).
    """
    _check_names(cols, "column")
    aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            # min/max in the column's NATIVE order, stringified after —
            # casting first would compare lexicographically ('999' > '1499')
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    stack_args: list[str] = []
    for c in cols:
        stack_args.append(f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max")
    stacked = wide.selectExpr(
        "__rows AS n_rows",
        f"stack({len(cols)}, {', '.join(stack_args)}) "
        "AS (column_name, null_count, distinct_count, min_value, max_value)",
    )
    return stacked.select(
        "column_name", "n_rows", "null_count", "distinct_count", "min_value", "max_value"
    )


def rule_violations(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Named predicate rules -> violation counts, ONE pass.

    ``rules`` maps rule name -> a Column that is True when the row VIOLATES
    the rule. Output: (rule_name, violation_count, violation_fraction).
    """
    _check_names(list(rules), "rule")
    aggs = [F.count(F.lit(1)).alias("__rows")] + [
        F.sum(cond.cast("long")).alias(name) for name, cond in rules.items()
    ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{name}', {name}" for name in rules)
    return wide.selectExpr(
        "__rows AS n_rows",
        f"stack({len(rules)}, {stack_args}) AS (rule_name, violation_count)",
    ).select(
        "rule_name",
        "violation_count",
        (F.col("violation_count") / F.col("n_rows")).alias("violation_fraction"),
    )


def duplicate_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Key-uniqueness audit: keys appearing more than once, with counts."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .filter(F.col("occurrences") > 1)
    )


def zscore_outlier_counts(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group 3-sigma outlier counts with the boundary decided in EXACT
    integer arithmetic: for integer cents c_i with n, s = sum(c),
    ss = sum(c^2), the test ``|x - mean| > k*std`` is algebraically
    ``(n*x - s)^2 > k^2 * (n*ss - s^2)`` — every term an exact
    decimal(38,0) integer, so the outlier set is bit-identical across
    engines and partitionings (builtin stddev aggregates drift with float
    accumulation order; even decimal->double casts round differently
    between engines in the last ulp). Population variance semantics.

    Shape: one grouped moment scan (group-cardinality rows, broadcast back)
    + one re-join for the count — the fact shuffles once per aggregation.
    """
    cents = F.round(F.col(value_col) * 100, 0).cast("decimal(38,0)")
    c = df.select(group_col, cents.alias("__cents"))
    st = c.groupBy(group_col).agg(
        F.count("*").cast("decimal(38,0)").alias("__n"),
        F.sum("__cents").alias("__s"),
        F.sum(F.col("__cents") * F.col("__cents")).alias("__ss"),
    )
    dev = F.col("__n") * F.col("__cents") - F.col("__s")
    spread = F.lit(9).cast("decimal(38,0)") * (  # k^2 for k = 3
        F.col("__n") * F.col("__ss") - F.col("__s") * F.col("__s")
    )
    return (
        c.join(F.broadcast(st), group_col)
        .groupBy(
            F.col(group_col),
            F.col("__n").cast("bigint").alias("n_rows"),
        )
        .agg(F.count(F.when(dev * dev > spread, F.lit(1))).alias("n_outliers"))
    )


def psi_drift(
    base: DataFrame,
    curr: DataFrame,
    col: str,
    bins: int = 10,
    approx: bool = False,
) -> DataFrame:
    """Population Stability Index between a baseline and a current slice of
    one numeric column — the standard distribution-drift monitor a
    production pipeline runs between ingest snapshots (PSI > 0.2 =
    investigate). Bins are the BASELINE's ``bins``-quantile deciles
    (canonical PSI), bin membership is ``#edges <= x``, and each bin's
    contribution is ``(p - q) * ln(p / q)`` with both proportions floored
    at 1e-6 so an empty current bin stays finite.

    Output: one row per observed bin — (bin, n_base, n_curr,
    psi_contribution); the scalar PSI is their sum.

    Determinism (oracle contract): bin edges come from ``percentile``
    (== DuckDB ``quantile_cont``, both linear interpolation — the proven
    cross-engine pair), counts are exact ints, and the one ``ln`` snaps
    to 9-dp units with the final contribution snapped to 6-dp, the
    fixed-point recipe every logprob oracle here uses.

    Scale shape: one pass over the baseline for edges, one map-side bin
    assignment + count per side, a bins-sized join — nothing data-sized
    shuffles but the two bin-count aggregations. ``approx=True`` swaps
    the exact (full-sort) edge computation for ``approx_percentile``'s
    mergeable KLL-family sketch at accuracy 10,000 — the 100 TB path: edge
    RANKS are off by at most 1/10,000 of the population, so at most
    that fraction of either side's mass can change bins, bounding the PSI
    divergence from the exact twin (error-bound pinned in
    tests/test_quality.py, the approx_distinct_customers pattern).
    Counting against the sketched edges stays exact either way.
    """
    fr = lit_array([i / bins for i in range(1, bins)], "double")
    edge_fn = (
        (lambda c: F.approx_percentile(c, fr, F.lit(10_000)))
        if approx
        else (lambda c: F.percentile(c, fr))
    )
    edges = base.agg(edge_fn(F.col(col)).alias("es"))

    def binned(df: DataFrame, n_alias: str) -> DataFrame:
        x = F.col(col).cast("double")
        b = F.size(F.filter(F.col("es"), lambda e: x >= e))
        return (
            df.where(F.col(col).isNotNull())
            .crossJoin(F.broadcast(edges))
            .select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").alias(n_alias))
        )

    bc = binned(base, "n_base")
    cc = binned(curr, "n_curr")
    return psi_from_binned(bc, cc)


def psi_from_binned(bc: DataFrame, cc: DataFrame) -> DataFrame:
    """PSI contributions from two ALREADY-BINNED count frames — (bin,
    n_base) and (bin, n_curr). The tail of :func:`psi_drift`, exposed so
    a caller holding PRE-COMPUTED baseline bin counts (the streaming
    drift monitor's stored baseline) pays only the current side's
    binning. Same fixed-point snapping, same output schema."""
    tot_b = bc.agg(F.sum("n_base").alias("tb"))
    tot_c = cc.agg(F.sum("n_curr").alias("tc"))
    j = (
        bc.join(cc, "bin", "full_outer")
        .na.fill({"n_base": 0, "n_curr": 0})
        .crossJoin(F.broadcast(tot_b))
        .crossJoin(F.broadcast(tot_c))
    )
    p = F.greatest(
        F.col("n_base").cast("double") / F.col("tb").cast("double"),
        F.lit(1e-6),
    )
    q = F.greatest(
        F.col("n_curr").cast("double") / F.col("tc").cast("double"),
        F.lit(1e-6),
    )
    u = F.round(F.log(p / q) * F.lit(1e9)).cast("long")
    contrib = (
        F.round((p - q) * (u.cast("double") / F.lit(1e9)) * F.lit(1e6)).cast(
            "long"
        ).cast("double")
        / F.lit(1e6)
    )
    return j.select(
        "bin", "n_base", "n_curr", contrib.alias("psi_contribution")
    )


def bin_against_edges(
    df: DataFrame, col: str, edges: list[float], n_alias: str
) -> DataFrame:
    """(bin, count) of one numeric column against FIXED edges (bin =
    #edges <= x, psi_drift's membership rule) — map-side only: the edges
    are a literal array, so at 100 TB this is a scan-stage projection +
    one combinable count. The streaming monitor's per-batch half."""
    x = F.col(col).cast("double")
    es = lit_array(edges, "double")
    b = F.size(F.filter(es, lambda e: x >= e))
    return (
        df.where(F.col(col).isNotNull())
        .select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias(n_alias))
    )


def ks_drift(
    base: DataFrame,
    curr: DataFrame,
    col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between a baseline and
    a current slice of one numeric column — the nonparametric sibling of
    :func:`psi_drift`: no binning choice, sensitive to ANY distributional
    difference (location, scale, shape), the textbook two-sample test a
    drift monitor runs when it cannot assume the deciles tell the story.

    ``D = max over x of |ECDF_base(x) - ECDF_curr(x)|``, evaluated exactly
    at every distinct observed value. Output: ONE row —
    (ks_stat, at_value, n_base, n_curr), where ``at_value`` is the
    smallest value attaining the (9-dp-snapped) maximum, so the row is a
    deterministic pure function of the two slices.

    Determinism (oracle contract): per-value cohort counts and their
    prefix sums are exact integers; each ECDF value is ONE int/int double
    division (exactly rounded, bit-identical cross-engine); their
    difference and ``abs`` are single IEEE ops; the statistic snaps to
    9 dp before the argmax so engines agree on ties, and ``at_value``
    breaks remaining ties ascending.

    Scale shape: one shuffle groups the union by value (map-side
    combine), then the ECDFs come from :func:`~aws_data_pipeline_spark.
    operators.windows.global_prefix_sum` — the distributed scan, never an
    ``Exchange SinglePartition`` window: a range shuffle over distinct
    values that AQE sizes (``num_partitions`` pins it), local running
    sums, and per-partition offsets added as a literal lookup, no join —
    and the argmax is a bounded TakeOrdered. The cohort totals ride along
    with the prefix-sum offset pass, so the whole statistic costs two
    jobs over distinct values.
    """
    from aws_data_pipeline_spark.operators.windows import global_prefix_sum

    u = (
        base.where(F.col(col).isNotNull())
        .select(F.col(col).alias("v"), F.lit(1).alias("ca"), F.lit(0).alias("cb"))
        .unionByName(
            curr.where(F.col(col).isNotNull()).select(
                F.col(col).alias("v"), F.lit(0).alias("ca"), F.lit(1).alias("cb")
            )
        )
    )
    per_v = u.groupBy("v").agg(
        F.sum("ca").cast("long").alias("ca"), F.sum("cb").cast("long").alias("cb")
    )
    cum, totals = global_prefix_sum(
        per_v, [F.col("v").asc()], ["ca", "cb"], num_partitions=num_partitions
    )
    na, nb = totals["ca"], totals["cb"]
    if na == 0 or nb == 0:
        raise ValueError(f"ks_drift: empty cohort (n_base={na}, n_curr={nb})")
    stat = F.round(
        F.abs(
            F.col("cum_ca").cast("double") / F.lit(float(na))
            - F.col("cum_cb").cast("double") / F.lit(float(nb))
        ),
        9,
    )
    return (
        cum.select(
            stat.alias("ks_stat"),
            F.col("v").alias("at_value"),
            F.lit(na).cast("long").alias("n_base"),
            F.lit(nb).cast("long").alias("n_curr"),
        )
        .orderBy(F.col("ks_stat").desc(), F.col("at_value").asc())
        .limit(1)
    )


def chisq_drift(
    base: DataFrame,
    curr: DataFrame,
    col: str,
) -> DataFrame:
    """Chi-squared homogeneity contributions between a baseline and a
    current slice of one CATEGORICAL column — the drift monitor for the
    columns :func:`psi_drift`/:func:`ks_drift` cannot see (event types,
    status codes, language tags): did the category mix shift between
    snapshots?

    Standard 2xC contingency machinery: per category, expected counts
    under homogeneity are ``row_total * cohort_total / grand_total`` and
    the contribution is ``(obs - exp)^2 / exp`` summed over both cohorts.
    Output: one row per observed category — (category, n_base, n_curr,
    chisq_contribution) — so the scalar statistic (their sum, df = C-1)
    never depends on a cross-engine float-sum order; callers compare the
    sum against the chi-squared critical value for their alert threshold.

    Determinism (oracle contract): all counts exact integers; each
    expected count is one double multiply + divide of exactly-represented
    ints; the contribution chain is a fixed sequence of IEEE ops snapped
    to 9 dp at the end — bit-identical cross-engine.

    Scale shape: one count aggregation per side (map-side combine on a
    low-cardinality key), category-sized full-outer join, two broadcast
    one-row totals — nothing data-sized shuffles beyond the two counts.
    """
    bc = (
        base.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("category"))
        .agg(F.count("*").alias("n_base"))
    )
    cc = (
        curr.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("category"))
        .agg(F.count("*").alias("n_curr"))
    )
    return chisq_from_counts(bc, cc)


def chisq_from_counts(bc: DataFrame, cc: DataFrame) -> DataFrame:
    """Chi-squared contributions from two ALREADY-COUNTED category frames
    — (category, n_base) and (category, n_curr). The tail of
    :func:`chisq_drift`, exposed for callers holding a stored baseline
    (the streaming drift monitor). Same snapping, same output schema."""
    tot_b = bc.agg(F.sum("n_base").cast("long").alias("tb"))
    tot_c = cc.agg(F.sum("n_curr").cast("long").alias("tc"))
    j = (
        bc.join(cc, "category", "full_outer")
        .na.fill({"n_base": 0, "n_curr": 0})
        .crossJoin(F.broadcast(tot_b))
        .crossJoin(F.broadcast(tot_c))
    )
    row_tot = (F.col("n_base") + F.col("n_curr")).cast("double")
    grand = (F.col("tb") + F.col("tc")).cast("double")
    e_b = row_tot * F.col("tb").cast("double") / grand
    e_c = row_tot * F.col("tc").cast("double") / grand
    term_b = (F.col("n_base").cast("double") - e_b) * (
        F.col("n_base").cast("double") - e_b
    ) / e_b
    term_c = (F.col("n_curr").cast("double") - e_c) * (
        F.col("n_curr").cast("double") - e_c
    ) / e_c
    contrib = F.round(term_b + term_c, 9)
    return j.select(
        "category", "n_base", "n_curr", contrib.alias("chisq_contribution")
    )


# The drift baseline's tables: written by build_drift_baseline and read by
# read_drift_baseline with these schemas, so no read infers from footers and
# a column an older writer did not record (``baseline_id``) reads as null.
BASELINE_SCHEMAS = {
    "edges": "pos int, e double",
    "value_bins": "bin int, n_base long",
    "categories": "category string, n_base long",
    "meta": "bins int, value_col string, cat_col string, baseline_id string",
}


def _write_baseline_table(spark, path: str, table: str, rows: list) -> None:
    arrow_frame(spark, rows, BASELINE_SCHEMAS[table]).write.mode(
        "overwrite"
    ).parquet(f"{path}/{table}")


def read_drift_baseline(spark: SparkSession, path: str) -> tuple:
    """A stored baseline (:func:`build_drift_baseline`) as driver values:
    ``(meta row, edges, value bins, categories)`` — the edges ascending,
    the bins ``(bin, n_base)`` and the categories ``(category, n_base)``
    pairs, None for the column kind the baseline was not built with.
    Every table is tiny (bins-1 edges, ≤ bins+1 bin counts, C
    categories), and each costs one pinned-schema scan and collect."""

    def rows(table: str) -> list:
        schema = BASELINE_SCHEMAS[table]
        return spark.read.schema(schema).parquet(f"{path}/{table}").collect()

    meta = rows("meta")[0]
    edges = value_bins = categories = None
    if meta.value_col is not None:
        edges = [float(r.e) for r in sorted(rows("edges"), key=lambda r: r.pos)]
        value_bins = [tuple(r) for r in rows("value_bins")]
    if meta.cat_col is not None:
        categories = [tuple(r) for r in rows("categories")]
    return meta, edges, value_bins, categories


def build_drift_baseline(
    df: DataFrame,
    path: str,
    value_col: str | None = None,
    cat_col: str | None = None,
    bins: int = 10,
    max_categories: int = 100_000,
) -> None:
    """Persist a drift-monitoring BASELINE: the one full pass over a
    reference cohort that every later (batch or streaming) drift check
    amortizes. Stores, per requested column kind:

    - ``path/edges`` (pos, e) + ``path/value_bins`` (bin, n_base): the
      ``bins``-quantile edges of ``value_col`` and the baseline's own bin
      counts — a later cohort then bins MAP-SIDE against the literal
      edges (:func:`bin_against_edges`) and PSI costs one combinable
      count + a bins-sized join (:func:`psi_from_binned`);
    - ``path/categories`` (category, n_base): exact category counts of
      ``cat_col`` for :func:`chisq_from_counts`;
    - ``path/meta``: bins + column names (a monitor pointed at the wrong
      column fails loudly, not with a silently-empty join), plus
      ``baseline_id`` — an md5 content fingerprint over every stored
      artifact (params, edges, bin counts, category counts). Monitors
      stamp the id into each metrics row, so a baseline REBUILT
      mid-history with different edges or counts is visible in the
      metrics zone itself: rows scored under different regimes carry
      different ids, and a byte-identical rebuild (same cohort, same
      params) correctly keeps the same id.

    The baseline is a snapshot artifact, rebuilt wholesale when the
    reference cohort changes (plain overwrite — monitors read it at run
    start, not per batch).

    ``max_categories`` bounds the driver: the category table (and its
    fingerprint) is collected once, which is the right shape for the
    drift use case (chi-squared against a domain-bounded category set)
    but a driver-memory trap if someone points ``cat_col`` at an id-like
    column — that fails LOUDLY here, before any collect, with the
    measured cardinality in the message."""
    if value_col is None and cat_col is None:
        raise ValueError("build_drift_baseline: give value_col or cat_col")
    import hashlib

    spark = df.sparkSession
    fp = hashlib.md5(repr((bins, value_col, cat_col)).encode())
    if value_col is not None:
        fr = [i / bins for i in range(1, bins)]
        es = df.agg(
            F.percentile(F.col(value_col), lit_array(fr, "double")).alias("es")
        ).collect()[0]["es"]
        _write_baseline_table(
            spark, path, "edges", [(i, float(e)) for i, e in enumerate(es)]
        )
        # the bin counts are ≤ bins+1 rows — collect once so the stored
        # artifact and the fingerprint are computed from the same pass
        vb = sorted(
            (int(r["bin"]), int(r["n_base"]))
            for r in bin_against_edges(df, value_col, list(es), "n_base")
            .collect()
        )
        _write_baseline_table(spark, path, "value_bins", vb)
        fp.update(repr([float(e) for e in es]).encode())
        fp.update(repr(vb).encode())
    if cat_col is not None:
        counted = (
            df.where(F.col(cat_col).isNotNull())
            .groupBy(F.col(cat_col).alias("category"))
            .agg(F.count("*").alias("n_base"))
        )
        # cardinality gate BEFORE any collect: one count over the
        # already-aggregated frame (distributed), never the data
        n_cats = counted.count()
        if n_cats > max_categories:
            raise ValueError(
                f"build_drift_baseline: {cat_col!r} has {n_cats} distinct "
                f"categories (> max_categories={max_categories}) — that is "
                "an id-like column, not a drift category; pick a bounded "
                "column or raise max_categories deliberately"
            )
        cats = sorted(
            (r["category"], int(r["n_base"])) for r in counted.collect()
        )
        _write_baseline_table(spark, path, "categories", cats)
        fp.update(repr(cats).encode())
    _write_baseline_table(
        spark, path, "meta", [(bins, value_col, cat_col, fp.hexdigest())]
    )


def volume_anomalies(
    df: DataFrame,
    bucket: Column,
    out_bucket: str = "bucket",
) -> DataFrame:
    """Ingest-volume anomaly detection: per-bucket row counts flagged
    against the robust median/MAD envelope — "did Tuesday's feed arrive
    half-empty (or double)?", the DQ check that catches upstream loss and
    duplication BEFORE value-level rules can see anything wrong. Median +
    MAD rather than mean + stddev because volume anomalies are exactly
    the contamination that wrecks moment statistics: one dead day drags
    the mean toward itself and inflates sigma until nothing flags
    (breakdown point 0 vs the median pair's 50%).

    A bucket flags when ``deviation > 5 * mad`` with
    ``deviation = |n_rows - median|`` — 5 MADs ~ 3.4 sigma under
    normality; no 1.4826 consistency constant ever enters the
    comparison. Every quantity is exact: counts are longs, the two
    medians interpolate at most one midpoint (halves/quarters — exactly
    representable doubles for any count below 2^51), and the comparison
    multiplies by small integers — so flags are bit-identical across
    engines and partitionings, the zscore_outlier_counts posture for the
    robust pair.

    Shape: one grouped count (the only data-sized shuffle), then both
    medians over the BUCKET-COUNT frame — domain-bounded (days/months),
    the sanctioned tiny-frame class — each broadcast back as a 1-row
    frame (the skew_report totals pattern). Output: (bucket, n_rows,
    med, deviation, mad, is_anomaly) for every bucket, flags-as-data.
    """
    counts = df.groupBy(bucket.alias(out_bucket)).agg(
        F.count("*").alias("n_rows")
    )
    med = counts.agg(F.percentile("n_rows", F.lit(0.5)).alias("med"))
    d = counts.crossJoin(F.broadcast(med)).withColumn(
        "deviation", F.abs(F.col("n_rows") - F.col("med"))
    )
    mad = d.agg(F.percentile("deviation", F.lit(0.5)).alias("mad"))
    return d.crossJoin(F.broadcast(mad)).select(
        out_bucket,
        "n_rows",
        "med",
        "deviation",
        "mad",
        (F.col("deviation") > F.lit(5) * F.col("mad")).alias("is_anomaly"),
    )


def referential_integrity(
    child: DataFrame,
    parent: DataFrame,
    fk_cols: Sequence[str],
    pk_cols: Sequence[str],
    relationship: str,
) -> DataFrame:
    """Referential-integrity audit as one row of flags-as-data: of the
    child table's rows, how many have a matching parent key (orphans =
    the difference, null FKs counted separately — a null FK is a
    different defect than a dangling one). The DQ category value rules
    and volume checks cannot see: every row can be individually valid
    while the JOIN topology is broken (an ingest that loaded lineitems
    before their orders, a purge that removed parents first).

    Shape: the parent's distinct key projection joined left onto the
    child's key projection, then one combinable aggregate — a plain
    equi-join Catalyst/AQE sizes (broadcast when the parent key set is
    small, shuffle otherwise); no collect, no window. Output columns:
    relationship, n_child, n_null_fk, n_matched, n_orphans.
    """
    fk_null = None
    for f in fk_cols:
        c = F.col(f).isNull()
        fk_null = c if fk_null is None else (fk_null | c)
    # The parent keys are re-aliased to reserved names BEFORE the join:
    # in the common real-world case the FK and PK columns share a name
    # (both sides called order_id), and unqualified F.col references on
    # both sides of the condition would throw AMBIGUOUS_REFERENCE.
    pkeys = (
        parent.select(
            *[
                F.col(p).alias(f"__pk_{i}")
                for i, p in enumerate(pk_cols)
            ]
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    j = child.select(*fk_cols).join(
        pkeys,
        [
            F.col(f).eqNullSafe(F.col(f"__pk_{i}"))
            for i, f in enumerate(fk_cols)
        ],
        "left",
    )
    return j.agg(
        F.lit(relationship).alias("relationship"),
        F.count("*").alias("n_child"),
        F.count(F.when(fk_null, 1)).alias("n_null_fk"),
        F.count(F.when(~fk_null & F.col("__hit").isNotNull(), 1)).alias(
            "n_matched"
        ),
        F.count(F.when(~fk_null & F.col("__hit").isNull(), 1)).alias(
            "n_orphans"
        ),
    )
