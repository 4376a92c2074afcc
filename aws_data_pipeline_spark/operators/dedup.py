"""Deduplication operators for LLM-data pipelines (north-star surface).

Four strategies, each the scalable formulation:

- exact: hash-groupBy on content digest — one shuffle on the digest.
- n-gram Jaccard: inverted-index self-join on distinct shingles (pairs exist
  only where a shingle is shared) — no O(n²) cross product; candidate volume
  is bounded by shingle-bucket sizes, and hot shingles can be dropped like
  stopwords (``max_bucket`` guard).
- MinHash + LSH banding: constant-size signatures replace shingle sets;
  banding buckets candidates so the join is equi on (band, band-signature).
  Candidates are verified with exact Jaccard — output precision is exact,
  recall is the LSH probability curve.
- SimHash: 64-bit vectorized pandas_udf (the documented Python-unavoidable
  path, Arrow-batched), Hamming-≤k pairs via band blocking + bit_count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_data_pipeline_spark.functions.portable import hash_long
from aws_data_pipeline_spark.operators import arrow_frame, indexes, widen_narrow_input
from aws_data_pipeline_spark.operators.text import (
    hashed_shingles,
    shingles,
    tokens,
    window_hashes,
)
from aws_data_pipeline_spark.sources.parquet import index_root, read_pinned

# Fixed universal-hash parameters: h_i(s) = (a_i * x + b_i) mod M, where
# x = pmod(xxhash64(s), 2^31-1). a_i < 2^31 keeps a_i * x < 2^62 — inside
# signed-64 range, so ANSI mode never overflows.
_MERSENNE = 2305843009213693951  # 2^61 - 1
# deterministic param table: (a_i, b_i) for 16 permutations
_HASH_PARAMS: list[tuple[int, int]] = [
    ((2654435761 * (i + 1) + 40503) % 2147483629 + 1, (40503 * (i + 1) + 2654435761) % _MERSENNE)
    for i in range(16)
]
_CC_MAX_ITER = 50  # connected_components' min-label propagation rounds
_NEW_ID_OFFSET = 1 << 40  # lifts new-batch node ids above every corpus id


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact dedup: md5 digest groupBy; canonical = min id per digest.

    Adds ``text_hash``, ``canonical_doc_id``, ``is_duplicate``. Deterministic
    survivor (min id), unlike dropDuplicates — idempotent across re-runs.
    """
    hashed = df.withColumn("text_hash", F.md5(F.col(text_col)))
    w = Window.partitionBy("text_hash")
    # NULL text hashes to NULL, and the window groups NULLs together — two
    # contentless documents are NOT duplicates of each other (they were
    # never compared), so NULL-hash rows stay their own canonical
    return hashed.withColumn(
        "canonical_doc_id",
        F.when(F.col("text_hash").isNull(), F.col(id_col)).otherwise(
            F.min(id_col).over(w)
        ),
    ).withColumn("is_duplicate", F.col(id_col) != F.col("canonical_doc_id"))


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 5, persist: bool = True
) -> DataFrame:
    """(doc, sh: array<string>) — each doc's distinct k-shingle set, cached.

    Tokenization runs ONCE; every downstream consumer (signatures, inverted
    index, set sizes, pair verification) reads the cached column instead of
    re-deriving it from text. The cache is MEMORY_AND_DISK (Spark's
    DataFrame default), so at 100 TB it spills rather than OOMs — the trade
    is one materialized O(corpus tokens) column against 3-4 re-tokenization
    passes, and it wins whenever the pipeline reuses the sets (measured 2x
    end-to-end on minhash_lsh_pairs at sf0.1).
    """
    sets = widen_narrow_input(df).withColumn("__t", tokens(F.col(text_col))).select(
        F.col(id_col).alias("doc"), shingles(F.col("__t"), k).alias("sh")
    )
    return sets.cache() if persist else sets


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.8,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index buckets.

    ``sim(d1,d2) = |S1 ∩ S2| / |S1 ∪ S2|`` over distinct k-token shingles.
    One pass: explode (doc, xxhash64(shingle)) — the 8-byte hash replaces the
    ~5-word string in the shuffle — groupBy shingle into doc buckets, expand
    each bucket's ordered pairs with a nested HOF (pairs only materialize
    where a shingle is shared, never O(n²)), then count per pair. Union sizes
    come from a narrow per-doc projection (no explode, no shuffle — the
    counts join the small pair table at the end). vs the naive
    self-join-the-index shape this computes the index once instead of three
    times and shuffles hashed longs instead of strings.
    ``max_bucket`` drops degenerate hot shingles (the skew guard at scale):
    a boilerplate shingle shared by n docs would otherwise materialize one
    O(n) array row and an O(n²) pair expansion on a single task. The guard
    defaults ON (1000): a shingle shared by >1000 docs carries no near-dup
    signal, exactly like a stopword — and the semantics follow through:
    with the cap on, BOTH the intersection and the union sizes are computed
    over the kept-shingle universe (otherwise the intersection would lose
    the dropped shingles while the union kept them, deflating every hot-
    shingle pair's jaccard). Kept-universe doc sizes are the full distinct-
    shingle count MINUS the doc's hot-shingle count — the hot frame is the
    handful of over-cap buckets, so the adjustment costs ~nothing when the
    cap never triggers (vs re-exploding the whole index, which showed up as
    a 2.2x bench regression). Oracle-checked callers mirror the same cap in
    their SQL (a HAVING on bucket size), so Spark and oracle agree at every
    SF. Pass ``None`` to disable and score over the full shingle space.

    The capped bucket frame is cached because two consumers read it (pair
    expansion + hot counts); the cache lives until the session evicts it —
    same documented lifetime policy as ``shingle_sets``.
    """
    sets = shingle_sets(df, id_col, text_col, k)
    idx = sets.select("doc", F.explode("sh").alias("shingle")).select(
        "doc", F.xxhash64("shingle").alias("shingle")
    )
    buckets_all = idx.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc")).alias("docs")
    )
    buckets = buckets_all
    if max_bucket is not None:
        # cached: two consumers read it (the kept filter feeding pair
        # expansion, and the hot filter feeding the size adjustment)
        buckets_all = buckets_all.cache()
        buckets = buckets_all.filter(F.size("docs") <= max_bucket)
    # ordered pairs (docs[i], docs[j]) for i < j within each bucket
    pair_arr = F.flatten(
        F.transform(
            F.slice(F.col("docs"), 1, F.size("docs") - 1),
            lambda d1, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size("docs")),
                lambda d2: F.struct(d1.alias("doc1"), d2.alias("doc2")),
            ),
        )
    )
    inter = (
        buckets.filter(F.size("docs") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc1").alias("doc1"), F.col("p.doc2").alias("doc2"))
        .agg(F.count("*").alias("inter"))
    )
    sizes = sets.select("doc", F.size("sh").alias("n"))
    if max_bucket is not None:
        # kept-universe sizes = full distinct-shingle count minus the doc's
        # hot-shingle count; the hot frame holds only over-cap buckets, so
        # this costs ~nothing when the cap never triggers
        hot_counts = (
            buckets_all.filter(F.size("docs") > max_bucket)
            .select(F.explode("docs").alias("doc"))
            .groupBy("doc")
            .agg(F.count("*").alias("hot_n"))
        )
        sizes = sizes.join(hot_counts, "doc", "left").select(
            "doc", (F.col("n") - F.coalesce(F.col("hot_n"), F.lit(0))).alias("n")
        )
    out = (
        inter.join(sizes.withColumnRenamed("doc", "doc1").withColumnRenamed("n", "n1"), "doc1")
        .join(sizes.withColumnRenamed("doc", "doc2").withColumnRenamed("n", "n2"), "doc2")
        .withColumn("jaccard", F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc1", "doc2", "jaccard")


def source_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, the number of
    distinct k-token grams they share, plus containment (shared / smaller
    source's gram count) — the pre-mixing diagnostic that tells you two
    "independent" corpus slices are actually the same crawl.

    Shape (r13 optimization, guide §2.3/§2.4): ONE pass over the corpus —
    explode (source, 8-byte xxhash64 gram), groupBy gram into its distinct
    ordered source set (map-side partial collect_set dedupes before the
    only fact-sized exchange), then each bucket emits BOTH signals in one
    Generate: a membership struct ``(s, NULL)`` per source (the per-source
    gram-universe counter) and a pair struct ``(s_i, s_j)`` per ordered
    source pair (the shared-gram counter). One grouped count over those
    structs yields sizes and shared counts together; the result is at most
    ``#sources² + #sources`` rows — the dim class — so it localCheckpoints
    (bounded, single job) and the matrix assembles from broadcast slices
    with no second corpus scan. The prior formulation (distinct index +
    gram self-join + separate sizes rollup) planned the scan+tokenize+
    explode subtree FOUR times (join left/right, sizes twice — exchange
    reuse never fired across the differently-projected subtrees,
    plans/r13/source_overlap_matrix_before.txt) with 4 fact exchanges;
    this plans it once with one. Measured at sf0.1: 2.69 -> 1.99 s median
    (1.35x) — modest locally because the four duplicate subtrees ran as
    CONCURRENT AQE stages on idle cores; on a saturated cluster the 4x
    scan+tokenize CPU and 4x exchange bytes are the real bill. Buckets are at
    most #sources wide, so the expansion is bounded by #sources², never
    #docs². Containment divides exact longs, so values are
    order-independent.
    """
    grams = (
        widen_narrow_input(df)
        .withColumn("__t", tokens(F.col(text_col)))
        .select(
            F.col(source_col).alias("source"),
            F.explode(hashed_shingles(F.col("__t"), k)).alias("g"),
        )
    )
    buckets = grams.groupBy("g").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    null_s = F.lit(None).cast("string")
    membership = F.transform(
        F.col("srcs"),
        lambda s: F.struct(s.alias("sa"), null_s.alias("sb")),
    )
    pair_arr = F.flatten(
        F.transform(
            F.slice(F.col("srcs"), 1, F.size("srcs") - 1),
            lambda s1, i: F.transform(
                F.slice(F.col("srcs"), i + 2, F.size("srcs")),
                lambda s2: F.struct(s1.alias("sa"), s2.alias("sb")),
            ),
        )
    )
    counted = (
        buckets.select(F.explode(F.concat(membership, pair_arr)).alias("p"))
        .groupBy(F.col("p.sa").alias("sa"), F.col("p.sb").alias("sb"))
        .agg(F.count("*").alias("n"))
        # bounded materialization (#sources² + #sources rows): sizes and
        # shared are two slices of this frame — without it Catalyst would
        # re-plan the whole corpus pipeline once per slice
        .localCheckpoint(eager=False)
    )
    sizes = counted.filter(F.col("sb").isNull())
    shared = counted.filter(F.col("sb").isNotNull()).select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.col("n").alias("n_shared"),
    )
    sa = sizes.select(F.col("sa").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("sa").alias("source_b"), F.col("n").alias("nb"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (F.col("n_shared").cast("double") / F.least("na", "nb")).alias(
                "containment"
            ),
        )
    )


def _perm_hash(a: int, b: int):
    # factory, NOT a default-arg lambda: pyspark HOF lambdas must take
    # exactly the element args
    return lambda x: F.pmod(F.lit(a) * x + F.lit(b), F.lit(_MERSENNE))


def _signatures_from_sets(
    sets: DataFrame, num_perm: int, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(doc, sig) from a CACHED (doc, sh) frame: hash each shingle once,
    then 16 affine rehash+array_min higher-order functions — a pure map-side
    projection, no explode, no shuffle. Safe ONLY over a materialized ``sh``
    column: on an unmaterialized one Catalyst would inline the tokenization
    expression into all 16 branches and recompute it 16x (measured 20x
    slower); the cache is what makes the HOF formulation the fast one.

    ``hash_fn='md5'`` swaps the xxhash64 base hash for the engine-portable
    first-60-bits-of-md5 (same [0, 2^31-1) range via the same pmod), making
    signatures — and therefore LSH candidates — reproducible outside Spark.
    """
    assert num_perm <= len(_HASH_PARAMS)
    base = F.transform(
        F.col("sh"), lambda s: F.pmod(hash_long(hash_fn, s), F.lit(2147483647))
    )
    # a doc shorter than k tokens has NO shingles: array_min over the
    # empty array is NULL, every signature position would be NULL, and
    # [NULL,...] == [NULL,...] under Spark's array equality — ALL short
    # docs would become mutual LSH candidates (O(m^2) blowup) and the
    # 0/0 Jaccard verify would abort the job under ANSI. No shingles =>
    # cannot be a near-dup at this k => excluded here.
    hashed = sets.filter(F.size("sh") > 0).select("doc", base.alias("hs"))
    sig = F.array(
        *[
            F.array_min(F.transform(F.col("hs"), _perm_hash(a, b)))
            for a, b in _HASH_PARAMS[:num_perm]
        ]
    )
    return hashed.select("doc", sig.alias("sig"))


def choose_minhash_params(threshold: float) -> tuple[int, int]:
    """Pick ``(num_perm_used, bands)`` for :func:`minhash_lsh_pairs` given a
    Jaccard threshold — the banding S-curve rule as code. For ``b`` bands of
    ``r`` rows the curve's midpoint (50%-recall similarity) sits at
    ``(1/b)^(1/r)``; choose the (r, b) with ``r*b <= 16`` whose
    midpoint lands closest below the threshold, so pairs AT the threshold
    are already on the high-recall side. Candidate precision is exact
    regardless (every candidate is verified with true Jaccard) — the choice
    trades candidate volume against recall only. 16 is the signature
    budget (16 precomputed permutations; signatures shuffle as one long
    per permutation, so raising it scales linearly).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    num_perm = len(_HASH_PARAMS)
    best: tuple[float, int, int] | None = None
    for r in range(1, num_perm + 1):
        b = num_perm // r
        mid = (1.0 / b) ** (1.0 / r)
        if mid > threshold:
            continue  # midpoint above threshold => <50% recall at threshold
        if best is None or mid > best[0]:
            best = (mid, r, b)
    if best is None:  # tiny threshold: even 1 row per band sits above it
        return num_perm, num_perm
    return best[1] * best[2], best[2]


def _banded_keys(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc, band, key): the LSH band slices of each signature — the equi-join
    key that buckets candidates."""
    return sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.slice(F.col("sig"), j * rows + 1, rows).alias("key"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Banding: num_perm/bands rows per band; docs agreeing on ALL rows of any
    band become candidates (equi-join on (band_idx, band_slice)). Each
    candidate pair is then verified with exact shingle Jaccard, so emitted
    pairs are exact-precision; recall follows 1-(1-s^r)^b. ``hash_fn='md5'``
    makes the candidate set engine-reproducible (see _signatures_from_sets).
    """
    rows = num_perm // bands
    sets = shingle_sets(df, id_col, text_col, k)
    sigs = _signatures_from_sets(sets, num_perm, hash_fn)
    banded = _banded_keys(sigs, bands, rows)
    cand = _band_candidates(banded)
    # verify candidates with exact jaccard over the SAME cached shingle sets
    return _verify_pairs(cand, sets, sets, "doc1", "doc2", threshold)


def _band_candidates(banded: DataFrame) -> DataFrame:
    """Distinct (doc1 < doc2) candidate pairs from a banded-keys frame —
    the LSH equi-self-join every banding-based verify mode (Jaccard,
    edit-distance) shares, factored so the candidate semantics cannot
    drift between them.

    Kept as the SELF-JOIN deliberately (r13 A/B, guide §1.4 honesty): the
    jaccard_pairs-style bucket expansion (groupBy (band, key) ->
    sort_array(collect_list(doc)) -> nested-HOF pair explode) was measured
    2-4x SLOWER here at sf0.1 (minhash_lsh_dedup 1.6-2.2 s -> 3.5-10 s,
    edit_distance_dedup_portable 1.7-2.1 s -> 2.9-3.4 s, 5 reps each):
    the band key is an array<bigint> slice, so the grouped form pays array
    hashing + collect_list buffering over the full banded frame, while the
    planner turns the self-join into a broadcast/shuffled hash probe of
    the same frame. jaccard_pairs' buckets win BECAUSE its key is one
    8-byte hash and its index feeds three consumers; neither holds here."""
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))
        .distinct()
    )


def edit_distance_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 16,
    bands: int = 4,
    max_edit_ratio: float = 0.2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Edit-distance near-dup detection: the SAME MinHash-LSH banding as
    :func:`minhash_lsh_pairs` generates candidates, but verification is
    normalized Levenshtein — ``lev(a,b) / max(len(a), len(b))`` at or
    below ``max_edit_ratio``. The verify of choice where token-set
    Jaccard is too coarse: short records and character-level edits
    (typos, transpositions, OCR noise) move few shingles but every
    character matters.

    Scale shape: the exact O(|a|·|b|) metric runs ONLY on bucketed
    candidates (never all pairs — the LSH stage bounds it exactly as it
    bounds the Jaccard verify), JVM-side via ``F.levenshtein`` inside the
    candidate join's stage. The ratio is one int/int IEEE division —
    bit-identical on any engine, so the md5 variant's oracle replays the
    WHOLE chain including the verify values."""
    rows = num_perm // bands
    sets = shingle_sets(df, id_col, text_col, k)
    sigs = _signatures_from_sets(sets, num_perm, hash_fn)
    cand = _band_candidates(_banded_keys(sigs, bands, rows))
    t = df.select(F.col(id_col), F.col(text_col))
    return (
        cand.join(
            t.select(F.col(id_col).alias("doc1"), F.col(text_col).alias("__t1")),
            "doc1",
        )
        .join(
            t.select(F.col(id_col).alias("doc2"), F.col(text_col).alias("__t2")),
            "doc2",
        )
        .withColumn(
            # try_divide: two empty texts -> 0-length max -> NULL ratio,
            # dropped (empty-vs-empty is exact dedup's case, not ours)
            "edit_ratio",
            F.try_divide(
                F.levenshtein("__t1", "__t2").cast("double"),
                F.greatest(F.length("__t1"), F.length("__t2")),
            ),
        )
        .filter(F.col("edit_ratio") <= max_edit_ratio)
        .select("doc1", "doc2", "edit_ratio")
    )


def _verify_pairs(
    cand: DataFrame,
    left_sets: DataFrame,
    right_sets: DataFrame,
    left_id: str,
    right_id: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the two sides'
    shingle sets; emits pairs at or above ``threshold``."""
    verified = (
        cand.join(
            left_sets.withColumnRenamed("doc", left_id).withColumnRenamed("sh", "sh1"),
            left_id,
        )
        .join(
            right_sets.withColumnRenamed("doc", right_id).withColumnRenamed("sh", "sh2"),
            right_id,
        )
        .withColumn("inter", F.size(F.array_intersect("sh1", "sh2")))
        .withColumn(
            # try_divide: two empty sets would be 0/0 — NULL, which the
            # threshold filter drops (the signature-side filter already
            # excludes shingle-less docs; this keeps the verify total
            # rather than ANSI-aborting if a caller feeds its own sets)
            "jaccard",
            F.try_divide(
                F.col("inter"),
                F.size("sh1") + F.size("sh2") - F.col("inter"),
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select(left_id, right_id, "jaccard")


def corpus_sets_and_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """The RESIDENT twin of :func:`build_lsh_text_index`: derive the
    (shingle sets, banded keys) pair an incremental probe
    (:func:`neardup_against_corpus`) joins against, in memory instead of
    on disk. One public entry point so callers never hand-assemble the
    signature/banding internals (two call sites had already drifted on
    parameters before this existed). Shingles k=5, 16 permutations in 4
    bands — :func:`neardup_against_corpus`'s defaults."""
    sets = shingle_sets(df, id_col, text_col)
    banded = _banded_keys(_signatures_from_sets(sets, 16, hash_fn), 4, 4)
    return sets, banded


def neardup_against_corpus(
    new_df: DataFrame,
    corpus_sets: DataFrame,
    corpus_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Incremental near-dup: match a NEW batch against an EXISTING corpus's
    LSH index — the corpus-maintenance shape. A curated 100 TB corpus is
    not re-clustered when a crawl lands; the new batch's signatures join
    the corpus's PERSISTED band keys (``build_lsh_text_index``), so
    per-batch cost is O(batch + matched buckets) and history is touched
    only through its index. Candidates are strictly NEW x CORPUS (never
    corpus x corpus — that work happened when the corpus was curated);
    each is verified with exact Jaccard, so precision is exact and recall
    is the banding S-curve, identical to :func:`minhash_lsh_pairs`.

    ``corpus_sets`` (doc, sh) and ``corpus_bands`` (doc, band, key) must
    come from the SAME (k, num_perm, bands, hash_fn) — `
    ``neardup_against_index`` enforces that from recorded metadata.
    Returns (new_id, corpus_id, jaccard). Ids must not collide across the
    two sides (incremental ingest assigns fresh ids by construction).
    """
    rows = num_perm // bands
    new_sets = shingle_sets(new_df, id_col, text_col, k)
    new_banded = _banded_keys(
        _signatures_from_sets(new_sets, num_perm, hash_fn), bands, rows
    )
    cand = (
        new_banded.alias("a")
        .join(
            corpus_bands.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
        )
        .select(
            F.col("a.doc").alias("new_id"), F.col("b.doc").alias("corpus_id")
        )
        .distinct()
    )
    return _verify_pairs(cand, new_sets, corpus_sets, "new_id", "corpus_id", threshold)


# The MinHash-LSH text index is a codec of operators/indexes.py, like the
# embedding indexes: ``sets`` (doc, sh) is the primary table, the exact
# verification side; ``bands`` (doc, band, key) the code table, the
# candidate equi-join side. The permutations are seeded constants, so it is
# a parameter-only codec: the codes re-derive from ``meta`` alone, as the
# hyperplane-LSH codes do.
_TEXT_LSH = indexes.Codec(
    name="lsh_text",
    primary_sub="sets",
    primary_cols=("doc", "sh"),
    # persist=False: the only consumer is the write; the read-back is the
    # materialization the signatures need
    primary=lambda rows, id_col, text_col, payload, p: shingle_sets(
        rows, id_col, text_col, p.k, persist=False
    ),
    code_sub="bands",
    artifact_subs=(),
    meta="k int, num_perm int, bands int, hash_fn string",
    cluster={"sets": ("doc",), "bands": ("band", "key")},
    report="",
    encode=lambda sets, m, payload: _banded_keys(
        _signatures_from_sets(sets, m.num_perm, m.hash_fn),
        m.bands,
        m.num_perm // m.bands,
    ),
)


def build_lsh_text_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 16,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> None:
    """Persist a corpus's MinHash-LSH index: ``path/sets`` (doc, shingle
    set — the exact-verification side), ``path/bands`` (doc, band, key —
    the candidate-join side), ``path/meta`` (the parameters, so a probe
    with mismatched parameters fails loudly instead of silently finding
    nothing). Build once per corpus version; every incremental batch then
    probes it via :func:`neardup_against_index` without touching corpus
    text. Signatures are computed from the MATERIALIZED sets read back
    from disk — tokenization runs once, and the write doubles as the
    cache `_signatures_from_sets` requires. Crash and rebuild contract:
    :func:`indexes.build`."""
    indexes.build(
        _TEXT_LSH, df, path, id_col, text_col, (),
        k=k, num_perm=num_perm, bands=bands, hash_fn=hash_fn,
    )


def append_to_lsh_text_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Idempotently append documents to a persisted MinHash-LSH index
    under the index's OWN recorded parameters, so a probe never sees
    mixed-parameter signatures. Already-indexed documents are never
    shingled again; after a crash between the ``sets`` and ``bands``
    writes, the re-run bands exactly the documents whose sets landed,
    from the materialized sets (:func:`indexes.append`)."""
    indexes.append(_TEXT_LSH, df, path, id_col, text_col)


def delete_from_lsh_text_index(
    spark, path: str, ids: DataFrame, id_col: str = "doc_id"
) -> int:
    """Erase documents from a persisted MinHash-LSH text index (shingle
    sets + all band rows; meta carried — the permutation parameters are
    document-independent, so survivor signatures never change): the
    anti-join rewrite into a fresh version of :func:`indexes.delete`.
    Idempotent; returns documents removed."""
    return indexes.delete(_TEXT_LSH, spark, path, ids, id_col)


def neardup_against_index(
    spark,
    new_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Probe a persisted LSH index (``build_lsh_text_index``) with a new
    batch; parameters come from the index's own metadata. See
    :func:`neardup_against_corpus` for semantics and the scale story."""
    path = index_root(spark, path)
    meta = indexes.read_meta(_TEXT_LSH, spark, path)
    return neardup_against_corpus(
        new_df,
        read_pinned(spark, f"{path}/sets"),
        read_pinned(spark, f"{path}/bands"),
        id_col=id_col,
        text_col=text_col,
        k=meta.k,
        num_perm=meta.num_perm,
        bands=meta.bands,
        threshold=threshold,
        hash_fn=meta.hash_fn,
    )


_SIMHASH_SCHEMA = T.StructType(
    [T.StructField("doc", T.LongType()), T.StructField("simhash", T.LongType())]
)


def simhash(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """64-bit SimHash via an Arrow-batched pandas UDF (mapInPandas).

    The per-token md5→bit-vote loop is genuinely awkward as Column algebra
    (64-way bit explosion); this is the engine's documented Python path —
    and inside it the work is numpy, not a per-row/per-bit Python loop
    (which costs ~4 s at sf0.1 vs <1 s vectorized): md5 runs once per
    DISTINCT token in the batch (np.unique), the ±1 vote matrix comes from
    ``np.unpackbits`` on the hash bytes, and per-doc vote sums are one
    ``np.add.reduceat`` over doc segments. Bit semantics are unchanged:
    hash = first 8 md5 bytes big-endian, bit i = (h >> i) & 1, output bit
    set iff votes strictly positive, wrapped to signed 64 (the int64 view
    of the packed uint64).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    def batches(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            toks = [str(t).lower().split(" ") for t in pdf[text_col]]
            counts = np.fromiter((len(t) for t in toks), dtype="int64", count=n)
            flat = np.array([t for row in toks for t in row], dtype=object)
            uniq, inv = np.unique(flat, return_inverse=True)
            digests = b"".join(
                hashlib.md5(t.encode()).digest()[:8] for t in uniq.tolist()
            )
            # explicit '<u8' (not native uint64): the view-as-bytes tricks
            # below assume byte 0 is the LSB, which only holds if the array's
            # memory layout is little-endian regardless of host endianness
            uh = np.frombuffer(digests, dtype=">u8").astype("<u8")
            # (n_uniq, 64) with column i = bit i of the integer
            bits_u = np.unpackbits(
                uh.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            pm_flat = (2 * bits_u.astype(np.int32) - 1)[inv]
            # every doc has >=1 token ("".split(" ") == [""]), so reduceat
            # segments are never empty
            offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
            votes = np.add.reduceat(pm_flat, offsets, axis=0)
            out_bits = (votes > 0).astype(np.uint8)
            # '<i8' view: bytes packed LSB-first read back as the same
            # integer on any host; astype normalizes to native int64 for
            # Arrow without changing values
            vals = (
                np.packbits(out_bits, axis=1, bitorder="little")
                .reshape(-1, 8)
                .view("<i8")
                .reshape(-1)
                .astype(np.int64, copy=False)
            )
            yield pd.DataFrame({"doc": pdf[id_col].to_numpy(), "simhash": vals})

    src = widen_narrow_input(
        df.select(F.col(id_col).alias(id_col), F.col(text_col))
    )
    return src.mapInPandas(batches, schema=_SIMHASH_SCHEMA)


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Hamming-≤k SimHash pairs via 4-band blocking (pigeonhole: any pair
    within Hamming 3 agrees exactly on at least one 16-bit band) + bit_count
    verification — the equi-join shape, no cross product.

    The signature frame is localCheckpoint'ed before the self-join: without
    it each join side re-runs the whole text scan + Python hashing stage
    (measured 2.5x the query at sf0.1). The materialized frame is one
    16-byte row per doc — negligible next to the corpus at any scale."""
    sh = simhash(df, id_col, text_col).localCheckpoint()
    bands = sh.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), j * 16)
                        .bitwiseAND(F.lit(65535))
                        .alias("key"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc1"),
            F.col("b.doc").alias("doc2"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # filter BEFORE distinct: the hamming test is a cheap bit_count on
        # rows already in hand; dedup shuffles — shrink first
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc1",
    dst_col: str = "doc2",
    small_graph_max: int = 100_000,
) -> DataFrame:
    """Connected components over near-dup candidate pairs: (node, label)
    where label = MIN doc id reachable through the pair graph — the
    transitive-closure step that turns pairwise similarity into duplicate
    CLUSTERS (LSH emits pairs; survivorship needs components).

    Iterative min-label propagation: each round every node takes the min of
    its own and its neighbors' labels; converges in O(graph diameter) rounds
    — near-dup clusters are shallow (diameter rarely > a few hops), so this
    beats the constant-factor-heavier large-star/small-star for dedup
    workloads (at most 50 rounds, then a loud failure). Each round is one
    shuffle (join on node) + one aggregate; ``localCheckpoint`` cuts the
    lineage so plans stay O(1) per round.

    Two round-count levers, because per-round JOB overhead (not data) is
    the dominant cost for the shallow graphs dedup produces:
    - labels are SEEDED with ``min(self, neighbors)`` — round 1's entire
      propagation folded into the init aggregation (stars and cliques, the
      common near-dup shapes, converge with ZERO loop rounds);
    - the convergence probe is a FULL count of changed rows fused with
      the round's lazy checkpoint: one job per round materializes the
      new labels AND answers "converged?" (r14 — previously an eager
      checkpoint job plus a limit(1) probe job, 2 jobs/round). Labels
      are deterministic (min), so re-runs are idempotent.

    Small-graph fast path: when the RAW symmetrized-union edge count is
    at most ``small_graph_max`` (measured on the already-checkpointed
    frame — one cheap action; callers are expected to feed distinct
    single-orientation pairs, so duplicates they do feed are counted
    against the bound, conservatively demoting to the distributed path
    — labels stay correct either way), the component labels come from a driver-side
    union-find with min-id roots — IDENTICAL labels to the fixpoint
    (label = min reachable id; property-tested equal on random graphs),
    zero loop rounds, zero convergence probes. This is the AQE pattern
    (measure, then pick the physical strategy), not a driver-side
    operator: after bucketed candidate generation the pair graph is
    ordinarily MUCH smaller than the corpus, and 100k edges is ~1.6 MB —
    the same small-by-construction class as a broadcast side. Graphs
    above the bound run the distributed fixpoint unchanged (a 100 TB
    pair graph with billions of edges never collects); pass
    ``small_graph_max=0`` to force the distributed path.
    """
    e = pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    # no .distinct() on the symmetrized union (r13, guide §2.4 "a distinct
    # on data that is already unique"): every caller feeds DISTINCT
    # single-orientation pairs (pair generators end in groupBy/distinct),
    # so the swapped copy cannot collide and the distinct was a full extra
    # exchange of the edge frame. Duplicate edges would be harmless anyway
    # — min-label propagation and union-find are both idempotent in them
    # (labels provably unchanged); only the small-graph gate below would
    # count them, conservatively pushing a dup-heavy caller to the
    # distributed path.
    edges = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # LAZY checkpoint, materialized by the measuring count() below — a
    # count touches every row of every partition, so the checkpoint is
    # fully persisted inside the count's own job (the r13 lesson: lazy
    # fusion is sound exactly when the materializing action is
    # full-partition; the r13 regression came from fusing into limit(1)
    # probes, which compute only part of the RDD and backfill — this
    # round the probes themselves became full counts, see the loop).
    # One job per call instead of two.
    edges = edges.localCheckpoint(eager=False)
    if small_graph_max > 0 and edges.count() <= small_graph_max:
        return _cc_union_find(edges)
    labels = (
        edges.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("label"))
        .select(F.col("u").alias("node"), "label")
        # lazy: materialized (with the edge checkpoint) inside round 1's
        # convergence-count job — lineage is still cut, one fewer
        # sequential job before the loop
        .localCheckpoint(eager=False)
    )
    for _ in range(_CC_MAX_ITER):
        neigh = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neigh, labels.node == neigh.u, "left")
            .select(
                labels.node.alias("node"),
                F.least(labels.label, F.coalesce(F.col("nmin"), labels.label)).alias(
                    "new_label"
                ),
                labels.label.alias("old_label"),
            )
            # lazy, fused into the convergence probe below (r14): the
            # probe is now a FULL count over the changed-filter — it
            # touches every row of every partition, so it materializes
            # this checkpoint completely inside its own job. One job per
            # round instead of two. (The r13 regression that forced
            # eager came from the probe being a limit(1) short-circuit,
            # which materialized only part of the RDD and paid a
            # backfill pass — removed with the limit.)
            .localCheckpoint(eager=False)
        )
        labels = new_labels.select("node", F.col("new_label").alias("label"))
        # full count, not limit(1): counting changed rows reads the whole
        # frame (same answer for the `== 0` test), and a full-partition
        # action is exactly what lets the checkpoint above go lazy —
        # the frame is freshly persisted in-memory, so the count's cost
        # over limit(1)'s early exit is a cached-partition scan, far
        # cheaper than the scheduling job it saves
        changed = new_labels.filter(
            F.col("new_label") != F.col("old_label")
        ).count()
        if changed == 0:
            break
    else:
        # fail LOUDLY: exhausting the budget without convergence means
        # some component's labels are still propagating — returning them
        # would silently split one duplicate cluster into several and keep
        # extra "canonicals". A graph deeper than 2*max_iter hops wants
        # the alternating large-star/small-star algorithm (or a raised
        # max_iter), not a wrong answer.
        raise RuntimeError(
            f"connected_components did not converge in {_CC_MAX_ITER} rounds "
            "— graph diameter exceeds the budget; raise max_iter or use "
            "an alternating-algorithm variant for deep chains"
        )
    return labels


def _cc_union_find(edges: DataFrame) -> DataFrame:
    """Driver-side exact components for a small symmetrized edge frame:
    union-find keeping the MIN id as every root, so the output (node,
    label = min reachable id) is bit-identical to the distributed
    fixpoint's converged labels. Bounded by connected_components'
    ``small_graph_max`` measurement — see its docstring for why this is
    the AQE pattern, not an unbounded collect."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in edges.collect():
        u, v = r["u"], r["v"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru  # smaller id stays root -> min-id labels
    node_t = edges.schema["u"].dataType
    schema = T.StructType(
        [T.StructField("node", node_t), T.StructField("label", node_t)]
    )
    rows = [(n, find(n)) for n in parent]
    # Broadcast hint, declared exactly where boundedness is proven: this
    # frame exists only because the measured edge count cleared
    # ``small_graph_max`` (≤100k edges → ≤200k label rows, ~MBs — the
    # broadcast-side class). Without the hint a parallelized local
    # relation has no size statistics, so every downstream
    # ``cluster_assignments`` join planned SortMergeJoin with TWO
    # exchanges + sorts of the corpus id scan (r13 measurement,
    # plans/r13/neardup_clusters_before.txt); with it the join is a
    # shuffle-free BroadcastHashJoin. The distributed fixpoint path
    # (unbounded labels) is untouched and keeps its shuffle join.
    return F.broadcast(arrow_frame(edges.sparkSession, rows, schema))


def cluster_assignments(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Every doc's duplicate-cluster canonical: component-min doc id for docs
    in the pair graph, self for singletons. Deterministic survivor choice."""
    labels = connected_components(pairs)
    return (
        df.select(F.col(id_col))
        .join(labels, F.col(id_col) == labels.node, "left")
        .select(
            F.col(id_col),
            F.coalesce(labels.label, F.col(id_col)).alias("canonical_doc_id"),
            (F.coalesce(labels.label, F.col(id_col)) != F.col(id_col)).alias(
                "is_duplicate"
            ),
        )
    )


def incremental_cluster_assignments(
    new_df: DataFrame,
    cross_pairs: DataFrame,
    new_pairs: DataFrame,
    corpus_assignments: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign a NEW batch to duplicate clusters without re-clustering the
    corpus — the companion of :func:`neardup_against_corpus` that closes
    the incremental-dedup loop. Components run over a BATCH-sized graph
    only: ``new_pairs`` (new~new, from ``minhash_lsh_pairs`` on the batch)
    plus ``cross_pairs`` (new~corpus, from the index probe) collapsed to
    each matched corpus doc's existing canonical.

    Canonical rule, in priority order (deterministic):
    1. a new doc connected (transitively, through the batch) to any corpus
       cluster adopts the MIN matched corpus canonical;
    2. else the min new id of its batch component;
    3. else (no matches at all) itself.

    Corpus canonicals are FIXED: an increment never relabels history. The
    consequence is the documented append-only divergence: a new doc
    matching TWO corpus clusters bridges them logically, but both keep
    their canonicals — the new doc adopts the smaller; a from-scratch
    recluster would merge them. Recording bridges (pairs of canonicals in
    one component) is the compaction trigger for an eventual offline
    re-cluster, same trade as any LSM-style maintenance.

    Mechanically, corpus-preference is encoded in the node ids fed to
    :func:`connected_components`: corpus canonicals keep their id, new
    docs get ``id + 2^40`` — min-label propagation then proves rule
    1/2 as a plain min. The offset must exceed every corpus id (2^40
    covers any practical id space).

    Returns (doc_id, canonical_doc_id, is_duplicate) for NEW docs only.
    """
    enc_cross = (
        cross_pairs.join(
            corpus_assignments.select(
                F.col(id_col).alias("corpus_id"),
                F.col("canonical_doc_id").alias("canon"),
            ),
            "corpus_id",
        )
        .select(
            (F.col("new_id") + _NEW_ID_OFFSET).alias("doc1"),
            F.col("canon").alias("doc2"),
        )
        .distinct()
    )
    enc_new = new_pairs.select(
        (F.col("doc1") + _NEW_ID_OFFSET).alias("doc1"),
        (F.col("doc2") + _NEW_ID_OFFSET).alias("doc2"),
    )
    labels = connected_components(enc_cross.unionByName(enc_new))
    decoded = labels.filter(F.col("node") >= _NEW_ID_OFFSET).select(
        (F.col("node") - _NEW_ID_OFFSET).alias(id_col),
        F.when(F.col("label") >= _NEW_ID_OFFSET, F.col("label") - _NEW_ID_OFFSET)
        .otherwise(F.col("label"))
        .alias("canonical_doc_id"),
    )
    return (
        new_df.select(F.col(id_col))
        .join(decoded, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("canonical_doc_id", F.col(id_col)).alias("canonical_doc_id"),
            (F.coalesce("canonical_doc_id", F.col(id_col)) != F.col(id_col)).alias(
                "is_duplicate"
            ),
        )
    )


def cluster_bridges(
    cross_pairs: DataFrame,
    new_pairs: DataFrame,
    corpus_assignments: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The compaction trigger for :func:`incremental_cluster_assignments`:
    pairs of DISTINCT corpus canonicals that a new batch connects into one
    component. Incremental assignment deliberately does not merge them
    (history is append-only); this report is what schedules the eventual
    offline re-cluster, and its size is the drift metric — an empty result
    means incremental state still equals a from-scratch clustering.

    Returns (canonical_a, canonical_b) with a < b, one row per bridged
    canonical pair per component (all pairs within a component, so the
    offline pass can union them without re-deriving connectivity).
    """
    enc_cross = (
        cross_pairs.join(
            corpus_assignments.select(
                F.col(id_col).alias("corpus_id"),
                F.col("canonical_doc_id").alias("canon"),
            ),
            "corpus_id",
        )
        .select(
            (F.col("new_id") + _NEW_ID_OFFSET).alias("doc1"),
            F.col("canon").alias("doc2"),
        )
        .distinct()
    )
    enc_new = new_pairs.select(
        (F.col("doc1") + _NEW_ID_OFFSET).alias("doc1"),
        (F.col("doc2") + _NEW_ID_OFFSET).alias("doc2"),
    )
    labels = connected_components(enc_cross.unionByName(enc_new))
    canons = labels.filter(F.col("node") < _NEW_ID_OFFSET).select(
        F.col("node").alias("canonical"), F.col("label").alias("component")
    )
    a, b = canons.alias("a"), canons.alias("b")
    return a.join(
        b,
        (F.col("a.component") == F.col("b.component"))
        & (F.col("a.canonical") < F.col("b.canonical")),
    ).select(
        F.col("a.canonical").alias("canonical_a"),
        F.col("b.canonical").alias("canonical_b"),
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style line-level exact dedup: every distinct line keeps only its
    FIRST corpus-wide occurrence (min (doc, position) — deterministic);
    later occurrences are removed from their documents. This is the
    boilerplate killer for web corpora — navigation bars, cookie banners,
    footers repeat verbatim across millions of pages and survive
    DOCUMENT-level dedup because the surrounding text differs.

    Returns (doc_id, n_lines, n_lines_kept, clean_text); documents whose
    every line occurred earlier collapse to ''. Shape: one explode + one
    shuffle on the line text (the only key that can group duplicates), a
    window first-occurrence filter, then a per-doc reassembly aggregate —
    no pairwise comparison anywhere, so cost is O(total lines), and a
    hot boilerplate line is one window group (skew-bounded by its count).
    """
    lines = widen_narrow_input(df).select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.split(F.col(text_col), "\\Q\n\\E")
        ).alias("pos", "line"),
    )
    w = Window.partitionBy("line").orderBy("doc", "pos")
    kept = lines.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    rebuilt = kept.groupBy("doc").agg(
        F.count("*").alias("n_lines_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.line,
            ),
        ).alias("clean_text"),
    )
    totals = lines.groupBy("doc").agg(F.count("*").alias("n_lines"))
    return totals.join(rebuilt, "doc", "left").select(
        F.col("doc").alias(id_col),
        "n_lines",
        F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    hot_mod: int | None = 256,
    hot_min: int = 4,
) -> DataFrame:
    """Exact duplicated-span detection — the suffix-array dedup family
    (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better", public), re-expressed Spark-first as rolling k-gram window
    hashing plus gaps-and-islands merging instead of a monolithic suffix
    array (which needs the whole corpus in one address space).

    A length-k token window is DUPLICATED iff its token sequence occurs
    more than once in the corpus (another document, or another position in
    the same one). Overlapping duplicated windows in a document merge into
    maximal spans. Returns one row per span: (doc_id, span_start,
    span_tokens), token positions 1-based.

    APPROXIMATION, stated exactly: a merged span guarantees every length-k
    window inside it is duplicated somewhere, NOT that the span occurs
    elsewhere as one contiguous unit (adjacent windows may match different
    partners — suffix arrays distinguish these, window-merging does not).
    That is the standard trade for the distributable formulation, and for
    the downstream use (cut or down-weight duplicated regions) it errs
    toward flagging, never missing, k-gram-level duplication. Windows merge
    only when they OVERLAP (positions ``<= k-1`` apart); exactly-adjacent
    duplicated spans stay separate rows.

    Scale shape: one explode to O(total tokens) rows of (doc, pos, 8-byte
    hash) — the inherent cost of substring-level dedup and still a
    fraction of a suffix array's O(tokens * pointer) memory, partitioned
    freely instead of resident. Duplicated windows are found with ONE
    count-over-window on the hash, not a groupBy + semi-join: most windows
    are UNIQUE, so map-side partial aggregation would compress nothing and
    the join formulation just shuffles the window frame twice (measured
    1.8x slower end-to-end); the window shuffles it once. Then a
    per-document window merges islands — documents are bounded (a
    training corpus is chunked to model context length), so per-doc sort
    state is small. Grouping is on xxhash64 fingerprints: a 64-bit
    collision could mark a unique window duplicated (never the reverse);
    at 100 TB (~1e13 windows) the expected number of colliding PAIRS is
    ~1e26/2^65 — a few thousand spurious windows corpus-wide, noise for a
    down-weighting gate.

    HOT-HASH SKEW CAP (``hot_mod``/``hot_min``): the count-over-window
    partitions by raw k-gram hash, so a boilerplate k-gram occurring
    billions of times at 100 TB would put billions of rows into ONE window
    partition. Guard: a deterministic 1/``hot_mod`` DOCUMENT sample (pmod
    of xxhash64(doc id) — reproducible, no rand(); the predicate applies
    BEFORE tokenization, so the detector tokenizes ~1/hot_mod of the
    corpus, not all of it) is window-hashed and counted per hash (tiny
    groupBy, map-side combined); hashes with >= ``hot_min`` sampled
    occurrences are flagged hot, their rows marked duplicated DIRECTLY
    (exact, not approximate: ``hot_min`` >= 2 sampled occurrences prove
    >= 2 true occurrences) and EXCLUDED from the window, which then only
    ever sorts non-hot hashes. A true 100 TB-hot hash appears in far more
    than ``hot_mod`` documents, so the sample sees it; missing a
    moderately-hot hash costs only window balance, never correctness —
    output is identical for every (hot_mod, hot_min) setting, which the
    planted-hot-k-gram test pins. The hot frame is duplicated-high-count
    hashes only (dim-sized; AQE broadcasts the mark join).
    ``hot_mod=None`` disables the guard (the pre-cap formulation, kept as
    the equivalence twin). Measured premium at sf0.1: ~21% wall-clock
    (2.3 -> 2.8 s via duplicate_span_stats) — one extra text-column scan
    for the detector plus the broadcast mark join; both embarrassingly
    parallel, against an un-capped formulation whose worst case is a
    single partition sorting the hottest hash's entire occurrence list.
    """
    # widen BEFORE the tokenize+explode: a single-file scan would run the
    # whole rolling-hash stage (the dominant per-row cost) on one core
    # until the window exchange — measured 2.4x end-to-end at sf0.1
    df = widen_narrow_input(df)
    toks = tokens(F.col(text_col))
    wins = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(window_hashes(toks, k)).alias("idx", "h"),
    ).select("doc_id", (F.col("idx") + 1).alias("pos"), "h")
    if hot_mod is None:
        hits = wins.withColumn(
            "n", F.count("*").over(Window.partitionBy("h"))
        ).filter(F.col("n") > 1)
    else:
        if hot_min < 2:
            raise ValueError("hot_min must be >= 2 (2 sampled rows prove a dup)")
        sampled_docs = df.filter(
            F.pmod(
                F.xxhash64(F.col(id_col).cast("string"), F.lit("dup-span-hot")),
                F.lit(hot_mod),
            )
            == 0
        )
        hot = (
            sampled_docs.select(
                F.explode(
                    window_hashes(tokens(F.col(text_col)), k)
                ).alias("h")
            )
            .groupBy("h")
            .agg(F.count("*").alias("sn"))
            .filter(F.col("sn") >= hot_min)
            .select("h", F.lit(True).alias("__hot"))
        )
        # ONE window over a salted partition key, no union (a union would
        # consume — and recompute — the explode twice): cold rows keep
        # salt 0, so they share their hash's partition and get true
        # counts; hot rows get a per-row salt, so the hottest hash
        # scatters into singleton partitions instead of one giant sort,
        # and their duplicated verdict comes from the __hot flag alone.
        marked = wins.join(hot, "h", "left").withColumn(
            "__salt",
            F.when(
                F.col("__hot").isNotNull(), F.xxhash64("doc_id", "pos")
            ).otherwise(F.lit(0)),
        )
        hits = (
            marked.withColumn(
                "n", F.count("*").over(Window.partitionBy("h", "__salt"))
            )
            .filter(F.col("__hot").isNotNull() | (F.col("n") > 1))
            .drop("__salt", "__hot")
        )
    return _merge_islands(hits, k)


def _merge_islands(hits: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos) duplicated-window rows -> maximal spans: per-document
    gaps-and-islands (windows <= k-1 apart overlap and merge). Shared by
    the batch (:func:`duplicate_spans`) and incremental
    (:func:`duplicate_spans_against_index`) paths."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= k - 1, F.lit(0)
    ).otherwise(F.lit(1))
    grouped = hits.withColumn("brk", brk).withColumn(
        "gid",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        grouped.groupBy("doc_id", "gid")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).alias("span_tokens"),
        )
        .select("doc_id", "span_start", "span_tokens")
    )


def build_kgram_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    k: int = 8,
) -> None:
    """Persist the corpus's DISTINCT positional k-gram hash set — the
    substring-level sibling of :func:`build_lsh_text_index`, extending
    Lee-et-al span dedup to a growing corpus: once built, a new batch's
    duplicated spans are found against ``path/hashes`` without ever
    re-reading corpus text (:func:`duplicate_spans_against_index`).

    Size posture, stated honestly: the index is O(distinct corpus
    k-grams) at 8 bytes per hash — for near-unique text that approaches
    one hash per token, i.e. ~1% of the raw text bytes. That is the
    inherent fingerprint cost of substring-level dedup against history;
    the alternative is re-scanning and re-exploding the full corpus every
    batch. ``path/meta`` records k (a mismatched probe fails loudly) and
    the BUILD-TIME corpus doc count — build-once callers use it as a
    staleness probe (a regenerated corpus under the same path must not be
    served hashes of the old one); append-maintained indexes grow past it
    by design and never consult it. Every build writes a fresh version
    directory and flips the pointer last (the embedding indexes'
    atomic-swap contract)."""
    from aws_data_pipeline_spark.sources.parquet import (
        finish_index_build,
        index_next_root,
    )

    spark = df.sparkSession
    root, new_v = index_next_root(spark, path)
    n_docs = df.count()
    (
        widen_narrow_input(df)
        .select(
            F.explode(
                window_hashes(tokens(F.col(text_col)), k)
            ).alias("h")
        )
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{root}/hashes")
    )
    arrow_frame(spark, [(k, n_docs)], "k int, built_n_docs long").write.mode(
        "overwrite"
    ).parquet(f"{root}/meta")
    finish_index_build(spark, path, new_v)


def append_to_kgram_index(
    df: DataFrame, path: str, text_col: str = "text"
) -> None:
    """Idempotently append a batch's NOVEL k-gram hashes to a persisted
    index: distinct batch hashes anti-joined against the index (so a
    crashed-and-replayed append never duplicates), k from the index's own
    metadata. Per-batch cost is O(batch tokens) + one anti-join against
    the hash set — corpus text is never touched."""
    spark = df.sparkSession
    path = index_root(spark, path)
    meta = read_pinned(spark, f"{path}/meta").collect()[0]
    new_h = (
        widen_narrow_input(df)
        .select(
            F.explode(
                window_hashes(tokens(F.col(text_col)), meta.k)
            ).alias("h")
        )
        .distinct()
        .join(read_pinned(spark, f"{path}/hashes"), "h", "left_anti")
        # materialize ONCE: an isEmpty probe plus the write would run the
        # whole tokenize+explode+anti-join twice, and the write must not
        # re-list the hashes dir it is appending to mid-job anyway
        .localCheckpoint(eager=True)
    )
    if not new_h.isEmpty():
        new_h.write.mode("append").parquet(f"{path}/hashes")


def duplicate_spans_against_index(
    spark,
    new_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental duplicate spans: a NEW batch probes the persisted
    corpus k-gram index. A batch window is duplicated iff its k-gram
    exists in the corpus index OR occurs >= 2 times within the batch —
    exactly the windows :func:`duplicate_spans` over corpus UNION batch
    would flag for the batch docs (the equivalence a pytest pins), so the
    batch's span report matches the full recompute while touching only
    O(batch tokens + matched hashes): corpus text is never re-read, and
    the batch-internal count-over-window sorts batch-bounded partitions
    only. The index side of the mark join is one row per hash; AQE
    handles a batch-hot hash by skew-splitting the join, and a
    boilerplate-heavy BATCH can additionally pre-cap via the same
    detector :func:`duplicate_spans` uses (probe batches are
    ingest-sized, so the uncapped window is the right default here)."""
    path = index_root(spark, path)
    meta = read_pinned(spark, f"{path}/meta").collect()[0]
    k = meta.k
    wins = widen_narrow_input(new_df).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            window_hashes(tokens(F.col(text_col)), k)
        ).alias("idx", "h"),
    ).select("doc_id", (F.col("idx") + 1).alias("pos"), "h")
    idx = read_pinned(spark, f"{path}/hashes").withColumn("__in", F.lit(True))
    marked = wins.join(idx, "h", "left")
    hits = marked.withColumn(
        "n", F.count("*").over(Window.partitionBy("h"))
    ).filter(F.col("__in").isNotNull() | (F.col("n") > 1))
    return _merge_islands(hits, k)


def duplicate_span_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 8
) -> DataFrame:
    """Per-document roll-up of :func:`duplicate_spans`: how much of each
    document is corpus-duplicated at k-gram granularity. Returns
    (doc_id, n_dup_spans, dup_tokens, n_tokens, dup_frac) for EVERY
    document (zero rows for clean ones) — the gate a curation pipeline
    thresholds on ("drop documents >X% duplicated", Lee et al. §4).
    ``dup_frac`` divides exact longs, so values are engine-portable."""
    spans = duplicate_spans(df, id_col, text_col, k)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum("span_tokens").cast("long").alias("dup_tokens"),
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        "n_tokens",
        F.try_divide(
            F.coalesce("dup_tokens", F.lit(0)), F.col("n_tokens")
        ).alias("dup_frac"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Surgical span-level dedup (Lee et al. 2021 §4's REMOVE action):
    excise every maximal duplicated span from each document instead of
    dropping the document — boilerplate assemblages lose their duplicated
    regions, the novel remainder survives. Output per input doc:
    ``(id, n_tokens, n_removed_tokens, cleaned_text)`` — docs with no
    duplicated spans pass through VERBATIM in their original case:
    detection runs on the lowercased token stream (every dedup operator's
    contract), but reconstruction splits the ORIGINAL text — safe because
    ``lower()`` never moves a space, so token positions line up.

    Scale shape: :func:`duplicate_spans` does the heavy lifting (one
    explode, one hash groupBy, gaps-and-islands); the removal itself is
    ROW-LOCAL — spans collect per doc (a doc's island list is small by
    construction), join back on the id, and a nested higher-order filter
    keeps tokens outside every island. No extra shuffle beyond the
    per-doc span collect.
    """
    spans = duplicate_spans(df, id_col, text_col, k=k).withColumnRenamed(
        "doc_id", id_col  # duplicate_spans emits 'doc_id'
    )
    isl = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").cast("long").alias("s"),
                (F.col("span_start") + F.col("span_tokens") - 1)
                .cast("long")
                .alias("e"),
            )
        ).alias("__isl")
    )
    from aws_data_pipeline_spark.operators import widen_narrow_input

    # ORIGINAL-case tokens: positions match the lowercased detection
    # stream because lower() is per-character (no token boundary moves)
    d = widen_narrow_input(df).withColumn("__t", F.split(F.col(text_col), " "))
    j = d.join(isl, id_col, "left").withColumn(
        "__isl",
        F.coalesce(F.col("__isl"), F.array().cast("array<struct<s:bigint,e:bigint>>")),
    )
    # token index i is 0-based; span positions are 1-based (duplicate_spans)
    kept = F.filter(
        F.col("__t"),
        lambda x, i: ~F.exists(
            F.col("__isl"), lambda sp: ((i + 1) >= sp.s) & ((i + 1) <= sp.e)
        ),
    )
    return j.select(
        F.col(id_col),
        F.size("__t").cast("int").alias("n_tokens"),
        (F.size("__t") - F.size(kept)).cast("int").alias("n_removed_tokens"),
        F.concat_ws(" ", kept).alias("cleaned_text"),
    )
