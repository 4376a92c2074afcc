"""Dataset splitting and sampling for training-data pipelines (north-star
surface): deterministic hash-based train/val/test assignment, stratified
sampling, and vocabulary extraction.

All map-side projections or single-shuffle aggregations — the split/sample
decisions are pure functions of the row key (no RNG state, no
``randomSplit`` nondeterminism), so re-runs, retries, and different
partitionings assign every document identically. That determinism is the
property that matters at 100 TB: a re-run after a lost executor must not
move documents between train and test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_data_pipeline_spark.functions.portable import hash_long, md5_prefix_long
from aws_data_pipeline_spark.operators import widen_narrow_input


def _hash_bucket(id_col: str, seed: str, hash_fn: str) -> Column:
    """Deterministic bucket in [0, 10000) from (id, seed).

    ``xxhash64`` (default): fastest JVM-side choice for the hot path.
    ``md5``: engine-portable — md5 is identically defined everywhere, so
    the exact assignment is reproducible outside Spark (the DuckDB oracle
    recomputes it bit-for-bit; xxhash64 has no DuckDB twin). Use md5 when
    split membership must be auditable/reproducible across engines — for
    train/test splits that's often a compliance property, and the
    per-row md5 cost is noise next to tokenization.
    """
    h = hash_long(hash_fn, F.col(id_col).cast("string"), F.lit(seed))
    return F.pmod(h, F.lit(10_000))


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    seed: str = "split-v1",
    out_col: str = "split",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Assign each row to a named split by hash-bucketing its id.

    ``bucket = pmod(hash(id, seed), 10_000)``; weight ranges carve the
    bucket space. Deterministic per (id, seed) — independent of row order,
    partitioning, and cluster size; changing ``seed`` produces a fresh
    assignment. Weights must sum to ~1. ``hash_fn``: see
    :func:`_hash_bucket` (xxhash64 hot path / md5 engine-portable).
    """
    # ValueError, not assert: an assert vanishes under python -O, and the
    # rounding guard below would then silently dump the unassigned bucket
    # space into the alphabetically-last split
    if abs(sum(weights.values()) - 1.0) >= 1e-9:
        raise ValueError(f"split weights must sum to 1, got {weights}")
    bucket = _hash_bucket(id_col, seed, hash_fn)
    expr = None
    lo = 0.0
    items = sorted(weights.items())  # deterministic range order
    for name, w in items:
        hi = lo + w * 10_000
        cond = bucket < F.lit(int(round(hi)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    # guard against float rounding leaving the last bucket unassigned
    expr = expr.otherwise(items[-1][0])
    return df.withColumn(out_col, expr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
    default_fraction: float | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its id-hash bucket
    falls under the stratum's fraction. Unlike ``df.sampleBy`` (seeded RNG
    over partition iteration order), this is stable under repartitioning —
    and it needs no shuffle at all (pure filter).

    ``default_fraction`` applies to strata absent from ``fractions`` — the
    whole policy stays a pure row-local expression, so callers never need to
    enumerate the stratum values up front (no driver-side ``distinct().
    collect()`` in the query path). NULL strata count as "absent from
    fractions" (``eqNullSafe`` membership, so the three-valued NULL of a
    plain ``==`` can't silently drop them from the default branch).
    """
    bucket = _hash_bucket(id_col, "sample-v1", hash_fn)
    cond = F.lit(False)
    listed = F.lit(False)
    for stratum, frac in sorted(fractions.items()):
        hit = F.col(strata_col).eqNullSafe(F.lit(stratum))
        listed = listed | hit
        cond = cond | (hit & (bucket < F.lit(int(round(frac * 10_000)))))
    if default_fraction is not None:
        cond = cond | (
            ~listed & (bucket < F.lit(int(round(default_fraction * 10_000))))
        )
    return df.filter(cond)


def source_mixture_weights(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Training-mix report per corpus slice: doc/token counts, token share,
    and a temperature-scaled sampling weight (T=2, i.e. weight ∝ sqrt of
    the slice's token count — the standard upweighting of small
    high-quality sources in LLM data mixes, normalized to the largest
    slice = 1.0).

    Scale shape: one partial-aggregated shuffle on ``group_cols`` to a
    #slices-row frame, then window totals over that tiny frame — the corpus
    is scanned once and never re-shuffled. Numeric posture: token counts
    sum as exact longs; the derived doubles use only division and sqrt
    (both correctly-rounded IEEE ops), and the weight normalizes by MAX
    (order-independent), never by a float sum whose accumulation order an
    engine could choose — so results bit-match any engine evaluating the
    same expressions.
    """
    n_toks = F.size(F.split(F.lower(F.col(text_col)), " "))
    agg = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count("*").alias("n_docs"),
        F.sum(n_toks).alias("n_tokens"),
    )
    w = Window.partitionBy()
    return agg.select(
        *group_cols,
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.sum("n_tokens").over(w)).alias("token_share"),
        (
            F.sqrt(F.col("n_tokens")) / F.sqrt(F.max("n_tokens").over(w))
        ).alias("sampling_weight"),
    )


def vocabulary(
    df: DataFrame,
    text_col: str = "text",
    top_k: int | None = None,
) -> DataFrame:
    """Corpus vocabulary with counts: explode lowercased whitespace tokens,
    one partial-aggregated shuffle on token. ``top_k`` ranks by (count desc,
    token) for a deterministic cut."""
    toks = widen_narrow_input(df).select(
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count("*").alias("token_count"))
    if top_k is not None:
        counts = counts.orderBy(
            F.col("token_count").desc(), F.col("token").asc()
        ).limit(top_k)
    return counts


def heavy_hitters(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Approximate top-k tokens via the ``approx_top_k`` sketch — the scale
    variant of :func:`vocabulary`: the sketch is fixed-size and mergeable, so
    the combine is map-side and the final reduce moves ONE sketch per
    partition instead of shuffling the full token-count table (which at
    100 TB has billions of distinct entries). Error is bounded by the
    sketch's 10,000 tracked items; tests bound it against the exact
    counts."""
    toks = widen_narrow_input(df).select(
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token")
    ).filter(F.col("token") != "")
    sk = toks.agg(
        F.expr(f"approx_top_k(token, {k}, 10000)").alias("tk")
    )
    return sk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("token"),
        F.col("e.count").cast("long").alias("token_count"),
    )


def pack_sequences(
    df: DataFrame,
    max_tokens: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Assign each doc to a fixed-token-budget training pack: concatenate the
    shard's docs in deterministic (id) order and chunk every ``max_tokens``
    — a doc belongs to the pack containing its start offset (docs longer
    than the budget get split at training time; assignment stays by start).

    One window shuffle, partitioned by the shard column — packs never cross
    shards, so the cumulative sum parallelizes across the corpus instead of
    serializing through a single global ordering (the 100 TB constraint).
    Deterministic: same corpus -> same packs, any cluster size.
    """
    n_tok = F.size(F.split(F.col(text_col), " "))
    w = Window.partitionBy(source_col).orderBy(id_col)
    cum = F.sum("n_tokens").over(w)
    return (
        df.select(
            F.col(source_col), F.col(id_col), n_tok.cast("long").alias("n_tokens")
        )
        .withColumn(
            "pack_id",
            F.floor((cum - F.col("n_tokens")) / F.lit(max_tokens)).cast("long"),
        )
    )


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-source corpus sizing: keep the highest-quality documents of each
    source until its token budget is exhausted — the standard step that
    turns "all of source X" into "the best N tokens of source X" when
    composing a training mixture. Greedy by quality: rank docs by
    (quality_score desc, id) — a total order, and the quality doubles are
    cross-engine bit-stable (single correctly-rounded ops over exact
    integer counts; proven by the text_quality_scores oracle) — then keep
    the prefix whose running token sum stays within ``budget_tokens``.

    Shape: one scan for scoring (row-local), one shuffle on the source for
    the ranked cumulative sum — no collect, no iteration; a source's
    selection cost is O(its docs). Returns (source, id, n_tokens,
    cum_tokens) for the kept prefix.
    """
    from aws_data_pipeline_spark.operators.text import quality_score

    scored = quality_score(df)
    w = (
        Window.partitionBy(source_col)
        .orderBy(F.col("quality_score").desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(source_col, id_col, "n_tokens", "cum_tokens")
    )


def context_chunks(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Context-length chunking: split each document's token stream into
    fixed-size training windows of ``window`` tokens every ``stride``
    tokens (``stride < window`` ⇒ overlapping windows, the standard way to
    keep context across chunk boundaries when documents exceed the model's
    context length). One chunk per start offset 0, stride, 2·stride, …
    strictly below the token count; the final chunk is the (possibly
    short) tail.

    Scale shape: pure row-local ``sequence``+``explode`` — no shuffle at
    all; output size is corpus_tokens/stride rows. The chunk content
    travels as an md5 fingerprint (16 bytes), not the chunk text, so the
    explode never amplifies bytes by the window/stride overlap factor —
    at 100 TB the chunk text itself is re-sliced at training time from
    the stored document, or written by the caller selecting
    ``chunk_text`` explicitly.
    """
    toks = F.col("__toks")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride)
    )
    chunk = F.slice(toks, F.col("chunk_start") + 1, window)
    return (
        df.select(
            F.col(id_col),
            F.split(F.lower(F.col(text_col)), " ").alias("__toks"),
        )
        .select(
            id_col,
            "__toks",
            F.explode(starts).alias("chunk_start"),
        )
        .select(
            F.col(id_col),
            (F.col("chunk_start") / stride).cast("long").alias("chunk_id"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.size(chunk).alias("n_chunk_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
        )
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "split-v1",
    hash_fn: str = "md5",
) -> DataFrame:
    """Cluster-aware train/val/test assignment: hash-split on the near-dup
    cluster CANONICAL id, not the document id, so near-duplicate documents
    can never straddle a split boundary (the train→test leakage that
    document-level hashing permits: two 95%-identical pages hash
    independently, one lands in train and one in test, and the eval set is
    contaminated).

    ``pairs`` is any symmetric duplicate-pair frame (doc1, doc2) — e.g.
    from exact-Jaccard, MinHash-LSH, or embedding near-dup candidates.
    Composition: connected components assign the component-min canonical
    (same operator as dedup survivorship), then the deterministic hash
    split keys on the canonical. Singleton docs are their own canonical,
    so they keep the per-document assignment.

    Scale: the pair graph is the expensive input (bucketed candidate
    generation, never all-pairs — see ``dedup``); on top of it this adds
    O(diameter) label-propagation rounds plus one map-side split
    projection. Defaults to the md5 hash: split membership is the
    compliance-grade artifact an external engine must be able to replay.
    """
    from aws_data_pipeline_spark.operators.dedup import cluster_assignments

    assigned = cluster_assignments(df, pairs, id_col=id_col)
    return hash_split(
        assigned, "canonical_doc_id", weights, seed=seed, hash_fn=hash_fn
    ).select(id_col, "canonical_doc_id", "split")


def mixture_resample(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "mix-v1",
    hash_fn: str = "md5",
) -> DataFrame:
    """Execute a temperature-scaled mixture: keep each document with
    probability equal to its slice's T=2 ``sampling_weight`` (from
    :func:`source_mixture_weights` — ∝ sqrt of slice tokens, largest
    slice = 1.0), decided by deterministic hash acceptance instead of RNG.
    Downweights the dominant source toward the temperature mix while
    keeping every document's fate a pure function of (id, seed) — re-runs
    and repartitioning cannot move documents in or out of the sample.

    Acceptance: ``bucket(id, seed) < round(weight · 10000)`` — the same
    10k-bucket space as :func:`hash_split`. The weight doubles are
    engine-stable (exact-long token sums; division and sqrt are
    correctly-rounded IEEE ops normalized by MAX), so the rounded
    threshold — and therefore the exact kept set — is replayable by an
    external engine under the md5 contract.

    Scale shape: one partial-aggregated shuffle to the #slices-row weight
    frame, broadcast back to a map-side filter — the corpus itself is
    scanned once and never shuffled.
    """
    wts = source_mixture_weights(df, group_cols=group_cols, text_col=text_col)
    thresh = F.round(F.col("sampling_weight") * 10_000).cast("long")
    bucket = _hash_bucket(id_col, seed, hash_fn)
    w = F.broadcast(
        wts.select(
            *[F.col(c).alias(f"__w_{c}") for c in group_cols],
            thresh.alias("__keep_lt"),
        )
    )
    # eqNullSafe join keys: a NULL slice (e.g. lang unset) got a weight from
    # source_mixture_weights like any other slice, and a plain equi-join
    # would silently sample it at probability 0 (same NULL-strata rationale
    # as stratified_sample)
    cond = None
    for c in group_cols:
        hit = F.col(c).eqNullSafe(F.col(f"__w_{c}"))
        cond = hit if cond is None else cond & hit
    return (
        df.join(w, on=cond)
        .filter(bucket < F.col("__keep_lt"))
        .select(id_col, *group_cols)
    )


def dsir_log_weights(
    df: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169,
    public): score every document by how much more likely its hashed
    unigram features are under a TARGET distribution (the rows where
    ``is_target`` holds — e.g. a trusted high-quality slice) than under
    the full-corpus proposal. ``log_importance = Σ_b c_b · ln(p_t(b) /
    p_p(b))`` over the doc's bucket counts, with add-1 smoothing over the
    256 feature buckets. Selecting top-weight documents (or
    Gumbel-resampling on the weights) tilts the corpus toward the target
    domain — the importance-resampling alternative to hard rule gates.

    Determinism: buckets come from the engine-portable md5 hash (same
    60-bit prefix trick as the portable split); smoothed probabilities are
    exact-int divisions (correctly rounded, engine-identical); per-doc
    weights sum in exact fixed-point (9 dp integer units), so the result
    is independent of execution order. ``ln`` is the one non-correctly-
    rounded op — cross-engine divergence needs an ulp gap straddling a
    1e-9 decimal boundary (the tfidf caveat; vanishingly rare).

    Scale shape: one explode + two bucket aggregations (the distributions
    collapse to 256 rows, broadcast back), one (doc, bucket)
    aggregation, one per-doc sum — no collects, no UDFs; cost is
    O(corpus tokens) with shuffles keyed on doc prefixes only.
    """
    from aws_data_pipeline_spark.functions.exact import units
    from aws_data_pipeline_spark.operators.text import tokens

    n_buckets = 256
    bucket = F.pmod(md5_prefix_long(F.col("tok")), F.lit(n_buckets))
    bk = widen_narrow_input(df).select(
        F.col(id_col).alias("doc"),
        is_target.alias("__t"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).select("doc", "__t", bucket.alias("bucket"))
    # persist: bk feeds the distribution aggregates AND the per-doc counts —
    # without it the tokenize+explode+md5 lineage re-runs per consumer
    # (2-3 full corpus scans at 100 TB); same rationale as shingle_sets
    bk = bk.persist()

    prop = bk.groupBy("bucket").agg(
        F.count("*").alias("cp"),
        F.count_if(F.col("__t")).alias("ct"),
    )
    tot = prop.agg(
        F.sum("cp").alias("np"), F.sum("ct").alias("nt")
    )
    dist = (
        df.sparkSession.range(n_buckets)
        .select(F.col("id").alias("bucket"))
        .join(prop, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1))
                / (F.col("nt") + F.lit(n_buckets))
            ).alias("pt"),
            (
                (F.coalesce(F.col("cp"), F.lit(0)) + F.lit(1))
                / (F.col("np") + F.lit(n_buckets))
            ).alias("pp"),
        )
    )
    docb = bk.groupBy("doc", "bucket").agg(F.count("*").alias("c"))
    term = F.col("c") * (F.log(F.col("pt")) - F.log(F.col("pp")))
    return (
        docb.join(F.broadcast(dist), "bucket")
        .groupBy(F.col("doc").alias(id_col))
        .agg(
            F.sum("c").alias("n_feats"),
            # exact long sum of 1e-9 units, ONE double division at the end
            # (not usum: Spark's decimal division floors the result scale
            # at 6 under precision loss — too coarse for 9-dp weights).
            # Both operands of the division are exact, so the result is the
            # correctly-rounded rational — identical to the oracle's
            # replay of the same integer-unit mechanics. Bound: the unit
            # sum must stay within 2^53 (|weight| <= ~9e6 — log weights
            # are orders of magnitude smaller).
            (F.sum(units(term, 9)).cast("double") / F.lit(1e9)).alias(
                "log_importance"
            ),
        )
    )


def training_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: str = "shard-v1",
    hash_fn: str = "xxhash64",
    keep_cols: bool = False,
) -> DataFrame:
    """Deterministic global corpus shuffle into training shards — the last
    step before a training run reads the corpus: examples must arrive in an
    order uncorrelated with collection order (source, crawl date, URL
    locality all imprint curriculum bias), split into N equal-ish shard
    files a data loader can stream round-robin.

    Assignment: ``shard = pmod(hash(id, seed), n_shards)``,
    ``pos`` = 1-based rank of ``hash2(id, seed)`` within the shard (a
    SECOND independent hash, so within-shard order doesn't correlate with
    the shard router; ties broken by id, so duplicate-id inputs still get
    distinct positions). Deterministic per (id, seed) — independent of row
    order, partitioning, and cluster size; a new ``seed`` is a fresh
    epoch-level reshuffle. ``hash_fn``: xxhash64 hot path / md5
    engine-portable (see :func:`_hash_bucket`).

    Scale shape: one hash-shuffle on ``shard`` + per-shard sort — exactly
    the physical layout a shard WRITE wants:
    ``out.repartition(n_shards, "shard").sortWithinPartitions("shard", "pos")``
    then ``write.partitionBy("shard")`` streams each shard in final order
    with no extra exchange. Per-shard sort state is corpus/n_shards —
    pick n_shards so a shard fits an executor's spill budget, same rule
    as any bounded sort.
    """
    reserved = {"shard", "pos", "__ord"}
    clash = reserved & (set(df.columns) if keep_cols else {id_col})
    if clash:
        # select('*', shard, ...) would silently create duplicate-named
        # columns and the shard repartition / pos window would then fail
        # ambiguous or misroute rows — refuse up front instead
        raise ValueError(
            f"training_shards reserves column names {sorted(reserved)}; "
            f"rename input columns {sorted(clash)} first"
        )
    route = hash_long(hash_fn, F.col(id_col).cast("string"), F.lit(seed))
    order = hash_long(hash_fn, F.col(id_col).cast("string"), F.lit(seed + "/pos"))
    shard = F.pmod(route, F.lit(n_shards)).alias("shard")
    w = Window.partitionBy("shard").orderBy("__ord", id_col)
    # keep_cols=True carries the payload through instead of returning the
    # bare assignment — write_training_shards uses it so it never joins
    # the assignment back on id_col, which under duplicate-id inputs
    # would fan out quadratically (2 payload rows x 2 assignment rows)
    base = (
        df.select("*", shard, order.alias("__ord"))
        if keep_cols
        else df.select(F.col(id_col), shard, order.alias("__ord"))
    )
    return base.withColumn("pos", F.row_number().over(w)).drop("__ord")


def write_training_shards(df: DataFrame, path: str, id_col: str, n_shards: int) -> None:
    """Materialize :func:`training_shards` as the on-disk layout a data
    loader streams: ``path/shard=N/`` directories, rows inside each file
    in final training order (``pos`` ascending). One hash-shuffle routes
    every shard to a single task (so each shard is one ordered file) and
    the within-partition sort fixes the row order parquet preserves —
    no extra exchange beyond the one the shard routing requires. The
    ``pos`` column is kept in the output: loaders can verify order, and
    resuming mid-shard is an offset, not a re-shuffle.

    The within-partition sort is on ``(shard, pos)``, not ``pos`` alone:
    hash collisions under ``repartition(n_shards, "shard")`` routinely put
    two shards in one task, and the dynamic-partition writer requires its
    input ordered by the partition column — sorting by ``pos`` alone would
    make the writer insert its OWN sort on ``shard``, and the documented
    in-file ``pos`` order would then hinge on that sort being stable, which
    Spark does not guarantee once spill-merge kicks in. Sorting
    ``(shard, pos)`` satisfies the writer's required ordering (no extra
    sort inserted) and makes the in-file order explicit.
    """
    out = training_shards(df, id_col, n_shards, keep_cols=True)
    (
        out.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        # STATIC overwrite, overriding the session's dynamic default: a
        # re-materialization (new seed/epoch, fewer shards, smaller
        # corpus) must replace the WHOLE tree — dynamic mode would keep
        # any shard= directory the new run didn't write, and the loader
        # would stream a mix of old and new corpus
        .option("partitionOverwriteMode", "static")
        .partitionBy("shard")
        .parquet(path)
    )


def weighted_sample_topk(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    group_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling without replacement, k per group
    (Efraimidis–Spirtes A-ES): each row draws u ~ Uniform(0,1) from its id
    hash and survives if its key ``ln(u)/w`` ranks in the group's top-k —
    inclusion probability proportional to weight, the standard
    quality-weighted corpus subsampling primitive (weight = quality score
    → good documents oversampled, none guaranteed, every document
    reachable).

    Determinism/portability: u is an exact rational from the 60-bit md5
    prefix (``(h % 1e6 + 1) / 1000001`` — engine-portable, replayable in
    any SQL engine), so re-runs and re-partitions pick the same sample;
    the one ``ln`` is ordered through ``round(key, 9)`` with an id
    tie-break (the tfidf rule: engine-stable comparisons, not just tie
    handling). Weights are normalized by the group max before keying
    (``ln(u) / (w / max_group(w))``) — a positive per-group rescale never
    changes the A-ES ordering, and it keeps the 9-dp fixed-point key
    resolving even for very large raw weights (unnormalized, w >~ 1e8
    collapses every key to 0.000000000 and selection degenerates to the
    id tie-break). Rows with weight <= 0 are excluded (A-ES is undefined
    there) — mirror the filter AND the normalization in any oracle.

    Scale shape: one hash + key projection map-side, one top-k window per
    group — the same single-shuffle shape as every other top-k here.
    """
    h = hash_long("md5", F.col(id_col).cast("string"), F.lit("wsample-v1"))
    u = (F.pmod(h, F.lit(1_000_000)) + F.lit(1)) / F.lit(1_000_001.0)
    w = F.col(weight_col).cast("double")
    wmax = F.max(w).over(Window.partitionBy(group_col))
    # Cross-engine exactness posture, stated plainly: u comes from a
    # fixed 1e6-point grid and both engines' ln agree bitwise on it
    # (replayed green by the oracle-parity suite and the hostile
    # partition sweep every round); group-max normalization bounds the
    # key near |ln u| so the 9-dp snap keeps resolution for weight
    # ratios up to ~1e6 within a group. Beyond that ratio the selection
    # stays weight-proportional but the last-ulp oracle identity is no
    # longer guaranteed — callers with wilder weights should pre-scale.
    key = F.log(u) / (w / wmax)
    out = (
        df.where(w > 0)
        .withColumn("__key", F.round(key, 9))
    )
    win = Window.partitionBy(group_col).orderBy(
        F.col("__key").desc(), F.col(id_col).asc()
    )
    return (
        out.withColumn("sample_rank", F.row_number().over(win))
        .filter(F.col("sample_rank") <= k)
        .select(group_col, id_col, "sample_rank")
    )


def length_bucketed_batches(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_size: int = 8,
    bucket_width: int = 32,
) -> DataFrame:
    """Pad-efficient batch assignment (dynamic batching): the last mile
    between a curated corpus and a training loader that pads each batch
    to its longest member. Documents are bucketed by whitespace token
    count into fixed ``bucket_width`` ranges, ordered within each bucket
    by (n_tokens desc, id), and cut into ``batch_size`` batches — every
    batch holds near-equal-length documents, so per-document padding
    waste is bounded by ``bucket_width - 1`` tokens instead of the
    unbounded waste of collection-order batching (one 10k-token outlier
    pads its whole batch to 10k).

    Determinism/portability: token count is the proven whitespace twin
    (token_counts' oracle expression); the bucket is INTEGER division
    (``n_tokens div bucket_width`` — no float log2, whose
    floor-at-a-power-of-two can differ across engines' libm, the tfidf
    engine-stability rule); the within-bucket order is total
    (n_tokens desc, id asc). Assignment is a pure function of
    (corpus, batch_size, bucket_width) — independent of row order and
    partitioning, replayable in any SQL engine.

    Scale shape: the within-bucket rank runs through
    :func:`~aws_data_pipeline_spark.operators.windows.global_row_number`
    over the TOTAL order (bucket, n_tokens desc, id) — the distributed
    three-step, never an ``Exchange SinglePartition`` WindowExec over a
    data-sized bucket (buckets are few: max_tokens/bucket_width, so a
    per-bucket window would funnel ~corpus/buckets rows through single
    tasks at 100 TB). Per-bucket start offsets come from a bucket-sized
    aggregate (domain-bounded: dozens of rows) broadcast back.
    """
    from aws_data_pipeline_spark.operators.windows import global_row_number

    t = df.select(
        F.col(id_col),
        F.size(F.split(F.lower(F.col(text_col)), " "))
        .cast("int")
        .alias("n_tokens"),
    ).withColumn(
        "bucket", F.expr(f"CAST(n_tokens div {int(bucket_width)} AS INT)")
    )
    ranked = global_row_number(
        t,
        [F.col("bucket").asc(), F.col("n_tokens").desc(), F.col(id_col).asc()],
        out_col="__grn",
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        t.groupBy("bucket")
        .agg(F.count("*").alias("__cnt"))
        # unpartitioned window over the bucket-count frame: domain-bounded
        # (max_tokens/bucket_width rows), the sanctioned SinglePartition
        # class (see SHUFFLES.md sweep note)
        .withColumn("__off", F.coalesce(F.sum("__cnt").over(w), F.lit(0)))
        .select("bucket", "__off")
    )
    return (
        ranked.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "batch_in_bucket",
            F.expr(f"CAST((__grn - __off - 1) div {int(batch_size)} AS INT)"),
        )
        .select(id_col, "n_tokens", "bucket", "batch_in_bucket")
    )


def temporal_split_embargo(
    df: DataFrame,
    ts_col: str,
    train_end,
    test_start,
) -> DataFrame:
    """Leakage-safe TEMPORAL split: train strictly before ``train_end``,
    test at or after ``test_start``, and the [train_end, test_start)
    EMBARGO gap dropped entirely — the time-series complement of the
    near-dup cluster split (leakage_safe_split handles content leakage;
    this handles temporal leakage: rows adjacent in time share
    autocorrelated state, and features computed with any lookback reach
    across a gapless boundary — the purged/embargoed walk-forward rule
    from financial ML, de Prado 2018). Pure row-local projection: one
    scan, no shuffle; the split column is deterministic in the row's own
    timestamp, so re-runs and re-partitionings assign identically.
    Null timestamps are dropped (no temporal position, no split).

    ``train_end <= test_start`` is validated up front (one empty-range
    job): transposed bounds would otherwise label rows at/after
    test_start as 'train' via the first-when-wins CASE — the exact
    leakage this operator exists to prevent — and an unparseable bound
    would silently cast to null and drop every row."""
    spark = df.sparkSession
    bounds = spark.range(1).select(
        F.lit(train_end).try_cast("timestamp").alias("a"),
        F.lit(test_start).try_cast("timestamp").alias("b"),
    ).collect()[0]
    if bounds.a is None or bounds.b is None or bounds.a > bounds.b:
        raise ValueError(
            "temporal_split_embargo needs parseable train_end <= "
            f"test_start; got {train_end!r} -> {bounds.a}, "
            f"{test_start!r} -> {bounds.b}"
        )
    ts = F.col(ts_col)
    return (
        df.where(ts.isNotNull())
        .withColumn(
            "split",
            F.when(ts < F.lit(train_end).cast("timestamp"), F.lit("train"))
            .when(ts >= F.lit(test_start).cast("timestamp"), F.lit("test"))
            .otherwise(F.lit(None).cast("string")),
        )
        .where(F.col("split").isNotNull())
    )
