"""Embedding similarity search (north-star surface).

- exact cosine: JVM-side zip_with + sequential fold in double precision —
  deterministic, no UDF.
- brute-force top-k: broadcast the (small) query set against the corpus;
  the corpus never shuffles. This is the correctness baseline.
- LSH-bucketed ANN: random-hyperplane sign buckets (seeded, deterministic);
  candidates only within the query's bucket — the 100 TB path, where the
  corpus is pre-bucketed once and each query probes one bucket.
"""

from __future__ import annotations

import math
from collections import Counter
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_data_pipeline_spark.operators import arrow_frame, indexes, lit_array
from aws_data_pipeline_spark.sources.parquet import (
    artifact_memo,
    finish_index_build,
    read_pinned,
    index_active_version,
    index_has,
    index_next_root,
    index_root,
    qualified_path,
)


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left fold — the same accumulation order as a plain loop,
    so it bit-matches any engine that sums left-to-right in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    """NULL when either vector has zero norm — a zero vector (an empty
    document embedded to zeros is common in real corpora) is similar to
    nothing, and under Spark 4 ANSI mode a plain ``/`` would abort the
    WHOLE job with DIVIDE_BY_ZERO on the first such row. NULL falls out
    of every ``sim >= t`` filter (three-valued logic) and sorts last in
    descending rankings, which is exactly the wanted semantics. For
    non-degenerate inputs the value is bit-identical to the plain
    division (same fold order)."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _topk_by_sim(scored: DataFrame, k: int, keep: Sequence[str] = ()) -> DataFrame:
    """Per-query top-k cut over a (query_id, neighbor_id, sim) frame:
    row_number over (sim desc, neighbor_id asc — the deterministic
    tie-break every search path must share, or their recall comparisons
    in tests would diverge on ties). ONE definition for every search
    here: the exact, IVF and LSH searches cut with it directly, and the
    quantized and IVF-composed searches cut both their candidate sliver
    and their final top-k with it (:func:`_refine`). ``keep`` carries
    extra columns through the cut."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", *keep)
    )


def _id_vec(
    df: DataFrame, id_col: str, vec_col: str, ids: str = "query_id", vecs: str = "qv"
) -> DataFrame:
    """The (id, vector as array<double>) projection every search starts
    from: ``(query_id, qv)`` for the query side by default, ``("neighbor_id",
    "cv")`` for the exact corpus side."""
    return df.select(F.col(id_col).alias(ids), as_double(F.col(vec_col)).alias(vecs))


def _pairs(q: DataFrame, cand: DataFrame) -> DataFrame:
    """The broadcast query side joined to its candidates: every corpus row
    but the query itself for a full scan, or an equi-join on ``query_id``
    when ``cand`` already carries it (the per-query candidates of an
    IVF-composed probe, :func:`_cell_candidates`)."""
    if "query_id" in cand.columns:
        return cand.join(F.broadcast(q), "query_id")
    return (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )


def _in_band(sim: Column, lo: float, hi: float, slack: Column | None = None) -> Column:
    """``lo <= sim < hi``. Exact (no ``slack``): compared on ``round(sim,
    9)`` — raw doubles differ in final ulps across engines, so a sim within
    an ulp of an edge would flip band membership between Spark and a
    replaying oracle (:func:`hard_negative_topk`'s rule). With ``slack``
    (a per-row Column, :func:`_band_slack_col`): both edges widened on the
    raw approximate sim, so quantization never drops a true band member
    before the exact re-check."""
    if slack is None:
        sim = F.round(sim, 9)
        return (sim >= lo) & (sim < hi)
    return (sim >= F.lit(lo) - slack) & (sim < F.lit(hi) + slack)


def _refine(
    scored: DataFrame,
    vectors: DataFrame | str,
    k: int,
    rerank: int | None,
    band: tuple | None = None,
) -> DataFrame:
    """The FAISS ``Refine`` step shared by the quantized and IVF-composed
    searches and the hard-negative miners: cut each query's top ``rerank``
    candidates by their approximate ``sim`` (None: the approximate ranking
    is final), join their full vectors, re-score them by exact cosine
    against the candidates' ``qv`` and take the top ``k``. ADC keeps
    recall's floor; exact cosine on the candidate sliver restores its
    ceiling. ``vectors`` is the exact side: a (neighbor_id, cv) frame, or
    a resolved index root whose ``vectors`` table is read only when the
    refine runs. ``band`` = (lo, hi, ...) keeps only exact sims in
    ``[lo, hi)`` (:func:`_in_band`) before the final cut."""
    if rerank is None:
        return _topk_by_sim(scored, k)
    if isinstance(vectors, str):
        vectors = read_pinned(scored.sparkSession, f"{vectors}/vectors").select(
            F.col("id").alias("neighbor_id"), F.col("v").alias("cv")
        )
    exact = (
        _topk_by_sim(scored, rerank, keep=("qv",))
        .join(vectors, "neighbor_id")
        .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    )
    if band is not None:
        exact = exact.filter(_in_band(F.col("sim"), band[0], band[1]))
    return _topk_by_sim(exact, k)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast queries × corpus scan.

    One pass over the corpus, per-partition partial top-k via the window
    row_number (AQE coalesces the tiny shuffle). Ties broken by neighbor id
    for determinism. Self-matches excluded.
    """
    q = F.broadcast(_id_vec(queries, id_col, vec_col))
    c = _id_vec(corpus, id_col, vec_col, "neighbor_id", "cv")
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    )
    return _topk_by_sim(scored, k)


def neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """All pairs with cosine >= threshold via an exhaustive theta self-join.

    This is the CORRECTNESS BASELINE / test twin only — the theta join plans
    as BroadcastNestedLoopJoin, a cartesian scale-killer. The registered
    query path is :func:`neardup_pairs_lsh` (banded-LSH equi-join).
    """
    v = df.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn("sim", cosine(F.col("a.v"), F.col("b.v")))
        .filter(F.col("sim") >= threshold)
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
    )


def choose_lsh_params(
    n_rows: int,
    threshold: float,
    target_recall: float = 0.999,
) -> tuple[int, int]:
    """Pick ``(rows_per_band, bands)`` for :func:`neardup_pairs_lsh` at a
    given corpus size — the scale rule from its docstring as code, not
    advice. Two constraints, solved in order:

    - pruning: expected bucket size ``n / 2^r`` must not exceed 10,000
      (per-bucket verification is O(bucket²) in the worst case), so
      ``r = ceil(log2(n / 10_000))``;
    - recall: per-pair recall at the threshold is ``1-(1-p^r)^b`` with
      ``p = 1 - acos(threshold)/pi`` (probability one hyperplane bit
      agrees), so ``b = ceil(ln(1-target) / ln(1-p^r))``.

    Raising ``r`` (deeper codes) always prunes harder and costs recall;
    ``b`` buys the recall back linearly in shuffled rows (n*b). Callers on
    growing corpora re-derive params per run from the corpus count — the
    output is deterministic, so so are the emitted pairs.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    p = 1.0 - math.acos(threshold) / math.pi
    r = max(1, math.ceil(math.log2(max(1.0, n_rows / 10_000))))
    pr = p**r
    if pr >= 1.0 - 1e-12:
        return r, 1
    b = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pr)))
    return r, b


def choose_ivfpq_params(
    n_vectors: int,
    dim: int,
    k: int = 5,
    target_recall: float = 0.9,
    clustered: bool = True,
) -> dict:
    """Derive the composed IVF-PQ search's parameters from corpus size and
    dimensionality — :func:`choose_lsh_params`' no-hand-tuning rule for
    the cell-pruned ADC path, so a 100 TB caller states a recall target
    instead of guessing nprobe (the r8 verdict's ask). Returns a dict of
    ``n_cells, nprobe, m, ks, rerank`` accepted verbatim
    by :func:`build_ivf_index` / :func:`build_pq_index` /
    :func:`ivfpq_topk_indexed`.

    The rules, each anchored to a measured or classical bound:

    - ``n_cells = min(round(sqrt(n)), n // 39)`` — the
      FAISS sizing rule (inverted lists of ~sqrt(n)), clamped so k-means
      keeps its classical ≥39 training points per centroid; floor 1.
    - ``nprobe``: cell recall is what the composed path loses first
      (ANN_COMPARISON.md: IVF-SQ8 at nprobe/cells=0.5 measured 0.74 on
      NEAR-RANDOM vectors — the worst regime, where neighbor mass spreads
      ~linearly across ranked cells). ``clustered=True`` (real embedding
      corpora — the planted-cluster fixture's regime, where a query's
      neighbors co-locate in its top-ranked cells): probe 25% of cells up
      to ``target_recall=0.9`` (the fraction the pinned fixture meets
      with margin,
      tests/test_llm.py::test_choose_ivfpq_params_meets_recall_floor),
      then grow the fraction linearly to ALL cells as target_recall→1
      — a 0.99 target must buy more probes than a 0.5 target even on
      clustered data (cell boundaries still cut some neighborhoods), and
      at 1.0 the only honest cell-recall promise is probing everything;
      floor 2. ``clustered=False``: assume the measured linear spread and
      probe ``ceil(target_recall * n_cells)`` — honest about near-random
      data: high recall there means sweeping most cells. Both branches
      are monotone in ``target_recall`` (property-tested).
    - ``m``: the divisor of ``dim`` closest to subvectors of 8 dims
      (the repo's measured 25×-cut config at dim=64), clamped to [1, dim].
    - ``ks = 16``: 4-bit codebooks, the measured config every lifecycle
      test pins.
    - ``rerank = max(8*k, 40)``: the exact re-rank width that recovered
      ADC's subspace error on the planted fixture (rerank=30 at k=5
      measured ≥0.9; 8k=40 adds margin and matches the benched default).
    """
    if n_vectors <= 0:
        raise ValueError("n_vectors must be positive")
    if dim <= 0:
        raise ValueError("dim must be positive")
    if not 0.0 < target_recall <= 1.0:
        raise ValueError("target_recall must be in (0, 1]")
    n_cells = max(
        1, min(round(math.sqrt(n_vectors)), n_vectors // 39)
    )
    if clustered:
        frac = 0.25 if target_recall <= 0.9 else (
            0.25 + 0.75 * (target_recall - 0.9) / 0.1
        )
        nprobe = min(n_cells, max(2, math.ceil(frac * n_cells)))
    else:
        nprobe = min(n_cells, max(2, math.ceil(target_recall * n_cells)))
    m = max(
        (d for d in range(1, dim + 1) if dim % d == 0),
        key=lambda d: (-abs(dim // d - 8), d),
    )
    return {
        "n_cells": n_cells,
        "nprobe": nprobe,
        "m": m,
        "ks": 16,
        "rerank": max(8 * k, 40),
    }


def _vector_rows(col: str, dim: int, normalize: bool = True):
    """A generator function over pandas batches that yields ``(batch,
    mat)`` per non-empty batch: rows whose ``col`` vector is None or not
    ``dim`` long are dropped (skip, don't crash), ``mat`` stacks the rest
    as float64 and, with ``normalize``, drops zero-norm rows and scales
    the others to unit norm. Shared by the Arrow-batch vector functions;
    a nested function, so it ships to the Python workers with them."""

    def rows(batches):
        import numpy as np

        for pdf in batches:
            vals = pdf[col].to_numpy()
            valid = np.fromiter(
                (x is not None and len(x) == dim for x in vals),
                dtype=bool,
                count=len(vals),
            )
            if not valid.all():
                pdf, vals = pdf[valid], vals[valid]
            if len(pdf) == 0:
                continue
            mat = np.vstack(vals)
            if normalize:
                nrm = np.linalg.norm(mat, axis=1)
                keep = nrm > 0.0
                if not keep.all():
                    pdf, mat, nrm = pdf[keep], mat[keep], nrm[keep]
                if len(pdf) == 0:
                    continue
                mat = mat / nrm[:, None]
            yield pdf, mat

    return rows


def _band_codes(
    v: DataFrame, bands: int, rows_per_band: int, dim: int, seed: int
) -> DataFrame:
    """(id, band, code) sign-bit band codes of a normalized (id, v) frame —
    all ``bands * rows_per_band`` bits from ONE numpy matmul per Arrow
    batch (see neardup_pairs_lsh's scale-shape notes). Hyperplanes are
    seeded and deterministic, so codes computed in different runs (index
    build vs probe) are identical by construction.

    Degenerate vectors (NULL, empty, wrong length — common in real
    corpora) are SKIPPED, not crashed on: they cannot be banded, exact
    verification would NULL their cosine anyway, and one bad row must not
    kill a 100 TB curation run. Mirrors the brute-force baseline's
    NULL-cosine tolerance, so the two paths stay comparison-equal."""
    import numpy as np

    planes = np.asarray(
        _hyperplanes(bands * rows_per_band, dim, seed), dtype="float64"
    )
    id_type = v.schema["id"].dataType.simpleString()
    rows = _vector_rows("v", dim, normalize=False)

    def compute_codes(batches):
        import numpy as np
        import pandas as pd

        proj = planes.T  # (dim, bands*rows_per_band)
        weights = (1 << np.arange(rows_per_band)).astype("int64")
        band_ids = np.arange(bands, dtype="int32")
        for pdf, mat in rows(batches):
            n = len(pdf)
            # bit i of band j comes from plane j*rows_per_band+i — the same
            # layout as the per-plane formulation, so codes are identical
            bits = (mat @ proj) >= 0.0
            codes = bits.reshape(n, bands, rows_per_band).astype("int64") @ weights
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), bands),
                    "band": np.tile(band_ids, n),
                    "code": codes.reshape(-1),
                }
            )

    from aws_data_pipeline_spark.operators import widen_narrow_input

    return widen_narrow_input(v).mapInPandas(
        compute_codes, schema=f"id {id_type}, band int, code long"
    )


def neardup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    verify: str = "bucket",
) -> DataFrame:
    """Cosine-threshold pairs via banded random-hyperplane LSH + exact verify.

    Candidate generation: 64 independent sign-bit codes (bands) of 4
    hyperplanes each over 64-dim vectors; two vectors become a candidate iff
    they agree on ALL bits of at least one band — an EQUI-join on
    (band, code), never a cross product. Each candidate is then verified
    with exact cosine, so emitted pairs are exact-precision; recall per pair
    is 1-(1-p^r)^b with p = 1-theta/pi. At the hardest case — a pair sitting
    exactly at threshold sim 0.45, theta=63.3deg, p=0.6486 — that is
    1-(1-0.6486^4)^64 ~= 0.999996 (b=32 would give only ~0.998, a 500x
    thinner miss margin; the matmul below makes the extra bands nearly
    free). At genuine near-dup thresholds (sim>=0.9, p~0.9) recall is 1 to
    ~12 decimal places while the band code still prunes hard. All
    hyperplanes are seeded and deterministic, so re-runs emit identical
    pairs.

    Scale shape: all 64*4 sign bits come from ONE
    vectorized numpy matmul per Arrow batch — ``(n, dim) @ (dim, b*r)`` —
    inside ``mapInPandas`` (a per-plane Catalyst HOF projection blows up
    codegen: 128 F.aggregate calls over 64-literal arrays cost 21 s at
    sf0.1; the matmul is <1 s). Candidates are then verified INSIDE each
    (band, code) bucket by a pairwise numpy matmul: below-threshold
    candidates die in the matmul instead of becoming shuffle rows. (At a
    loose threshold like 0.45, p_random=0.5 is barely below
    p_threshold=0.65, so a self-equi-join on (band, code) would
    materialize nearly all n^2 candidate pairs — ~12M shuffle rows at
    sf0.1 — before the verify filter; bucket-local verify keeps the
    shuffled data at n*bands rows and emits only qualifying pairs.)

    The bucket pass is ``repartition(band, code)`` + ONE ``mapInPandas``
    that groups in-process — not ``groupBy().applyInPandas`` — because
    with 2^4 codes per band the groups are many and tiny, and
    per-group Python dispatch dominates (measured 3x the whole query).
    Hash-repartitioning guarantees every (band, code) group lands whole in
    one partition; the in-function ``pd.concat`` holds one partition,
    which is the normal partition-fits-in-executor sizing rule. The few
    numpy-passed pairs re-verify JVM-side with the sequential-fold
    ``cosine`` (the numpy prefilter keeps a 1e-6 slack so summation-order
    rounding can never drop a boundary pair), so emitted pairs are exactly
    the all-pairs result restricted to band-colliding candidates.
    tests/test_llm.py asserts exact equality with the all-pairs baseline
    on the test corpora.

    Per-band bucket sizes are ~n/2^4; at 100 TB persist the index with
    ``(rows_per_band, bands)`` derived from the corpus count by
    :func:`choose_lsh_params` (:func:`build_embedding_lsh_index` — bounds
    per-bucket pairwise cost, then buys the recall back with more bands),
    and tighten ``threshold`` toward real near-dup similarity so the
    bands actually prune.

    ``verify`` picks where candidates die, and the choice is
    threshold-dependent (measured here: the bucket path shuffles ~6 MB at
    sf0.01 — vectors replicated once per band — vs ~KBs of (id, band,
    code) rows for the pair path):
    - ``"bucket"`` (default): vectors ride the (band, code) repartition —
      b vector copies shuffled per row — and sub-threshold candidates die
      in a numpy matmul without ever becoming shuffle rows. Right for
      LOOSE thresholds, where code collisions are dense and a candidate
      self-join would materialize ~n² pairs.
    - ``"pairs"``: only 24-byte (id, band, code) rows shuffle; candidates
      come from a code equi-join, dedup, then ONE vector fetch per side of
      each distinct candidate pair. Right for TIGHT thresholds (real
      near-dup dedup, >=0.8), where collisions are sparse: vector shuffle
      drops from b copies per row to one per candidate-pair side.
    Both verify with the same exact JVM cosine, so outputs are identical
    (asserted in tests).
    """
    v = df.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    id_type = v.schema["id"].dataType.simpleString()
    banded = _band_codes(v, 64, 4, 64, 42)

    # numpy sims differ from the sequential JVM fold only by summation-order
    # rounding (~1e-15 relative); the slack guarantees the prefilter is a
    # superset of the exact >= threshold set.
    slack = 1e-6

    def partition_pairs(batches):
        import numpy as np
        import pandas as pd

        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        out1, out2 = [], []
        for _, g in pdf.groupby(["band", "code"], sort=False):
            n = len(g)
            if n < 2:
                continue
            mat = np.vstack(g["v"].to_numpy())
            ids = g["id"].to_numpy()
            norms = np.sqrt((mat * mat).sum(axis=1))
            sims = (mat @ mat.T) / np.outer(norms, norms)
            iu, ju = np.triu_indices(n, k=1)
            keep = sims[iu, ju] >= threshold - slack
            if keep.any():
                a, b = ids[iu[keep]], ids[ju[keep]]
                out1.append(np.minimum(a, b))
                out2.append(np.maximum(a, b))
        if out1:
            yield pd.DataFrame(
                {"id1": np.concatenate(out1), "id2": np.concatenate(out2)}
            )

    if verify == "bucket":
        cand = (
            banded.join(v, "id")
            .repartition(F.col("band"), F.col("code"))
            .mapInPandas(partition_pairs, schema=f"id1 {id_type}, id2 {id_type}")
            .distinct()
        )
    elif verify == "pairs":
        a, b = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.code") == F.col("b.code"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
            .distinct()
        )
    else:
        raise ValueError(f"unknown verify mode: {verify!r}")
    v1 = v.select(F.col("id").alias("id1"), F.col("v").alias("v1"))
    v2 = v.select(F.col("id").alias("id2"), F.col("v").alias("v2"))
    return (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("sim", cosine(F.col("v1"), F.col("v2")))
        .filter(F.col("sim") >= threshold)
        .select("id1", "id2")
    )


def semantic_dedup_flags(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """SemDeDup-style semantic deduplication marks (Abbas et al. 2023,
    arXiv:2303.09540, public): a row is a semantic duplicate iff some
    LOWER-id row sits within cosine ``threshold`` of it; the lowest such
    neighbor is reported as ``canonical_id`` (the row itself when unique).

    This is the greedy mark-by-lowest-id pass: the canonical neighbor may
    itself be marked when near-dup relations chain (a—b—c with cos(a,c)
    below threshold still removes both b and c). Deduplication that keeps
    exactly one representative per TRANSITIVE group is the
    connected-components operator (``dedup.cluster_pairs``) over the same
    pair set; production SemDeDup uses the greedy pass because it needs no
    iteration — one candidate join, one groupBy min.

    Scale shape: candidate pairs come from :func:`neardup_pairs_lsh`
    (banded hyperplane equi-join + exact verify — never a cross product),
    then ONE groupBy-min on the higher id and a left join back to the
    corpus. Cost is the pair generator's; the mark pass adds a single
    |pairs|-row shuffle.
    """
    pairs = neardup_pairs_lsh(df, id_col=id_col, vec_col=vec_col, threshold=threshold)
    lowest = pairs.groupBy(F.col("id2").alias(id_col)).agg(
        F.min("id1").alias("__lowest_neighbor")
    )
    return df.join(lowest, id_col, "left").withColumns(
        {
            "is_semdup": F.col("__lowest_neighbor").isNotNull(),
            "canonical_id": F.coalesce(F.col("__lowest_neighbor"), F.col(id_col)),
        }
    ).drop("__lowest_neighbor")


def embedding_decontamination(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag training rows whose
    vector sits within cosine ``threshold`` of ANY benchmark/eval vector —
    the semantic sibling of the n-gram overlap check
    (``text.decontaminate``), catching paraphrased contamination that
    shares no 8-gram.

    Scale shape mirrors the n-gram version: the benchmark side is an eval
    suite — tiny next to a 100 TB corpus — so it BROADCASTS; every train
    vector scores against it map-side (a |train|x|bench| comparison that
    never shuffles), and the only shuffles are the distinct + left join on
    the train id. Output carries the boolean flag only — similarity
    VALUES stay internal, so the result is engine-portable without float
    re-verification.
    """
    t = train.select(
        F.col(id_col).alias("__tid"), as_double(F.col(vec_col)).alias("tv")
    )
    b = bench.select(as_double(F.col(vec_col)).alias("bv"))
    hits = (
        t.crossJoin(F.broadcast(b))
        .filter(cosine(F.col("tv"), F.col("bv")) >= threshold)
        .select("__tid")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        train.join(hits, train[id_col] == hits.__tid, "left")
        .withColumn("contaminated", F.coalesce(F.col("__hit"), F.lit(False)))
        .drop("__tid", "__hit")
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes (Box-Muller over a
    fixed LCG — stable across numpy versions since it uses none)."""
    state = seed & 0x7FFFFFFF

    def rnd() -> float:
        nonlocal state
        state = (1103515245 * state + 12345) % (1 << 31)
        return state / float(1 << 31)

    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            u1, u2 = max(rnd(), 1e-12), rnd()
            row.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.pi * u2))
        planes.append(row)
    return planes


def lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    out_col: str = "bucket",
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string of plane dot products.

    2^n_planes buckets; cosine-similar vectors collide with probability
    (1 - theta/pi)^n_planes. Bucketing is a map-side projection — the corpus
    is bucketed in one scan and can be written partitioned by bucket.

    The hyperplanes span 64 dimensions; the embedding length is
    RUNTIME-ASSERTED per row: zip_with pads a mismatched plane with NULLs,
    every dot product goes NULL, every sign bit reads 0, and the whole
    corpus silently collapses into bucket 0 — turning the equi-join
    pre-filter into the full cross product this function exists to avoid.
    Failing loudly is the only acceptable behavior for that
    misconfiguration.
    """
    dim = 64
    planes = _hyperplanes(n_planes, dim, 42)
    v = as_double(F.col(vec_col))
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = lit_array(p, "double")
        bit = F.when(dot(v, plane) >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        bucket = bucket + bit * F.lit(1 << i)
    # NULL embedding -> NULL bucket (the row joins nothing downstream,
    # mirroring cosine's NULL tolerance); a present-but-wrong-length one
    # raises instead of silently collapsing into bucket 0
    guarded = (
        F.when(F.col(vec_col).isNull(), F.lit(None).cast("long"))
        .when(F.size(F.col(vec_col)) == dim, bucket)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"lsh_bucket: dim={dim} but embedding has length "),
                    F.size(F.col(vec_col)).cast("string"),
                )
            )
        )
    )
    return df.withColumn(out_col, guarded)


# Driver budget of the k-means fit: the collected training sample and one
# assignment chunk (rows × k × dim doubles) each stay under this many bytes.
_TRAIN_BYTES = 64 << 20


def _train_sample(
    corpus: DataFrame, vec_col: str, max_train: int, seed: int, who: str
):
    """The k-means training sample of ``corpus[vec_col]`` as a float64
    matrix, deterministic and independent of the input's partition layout.

    - Thinning: when the corpus holds more than ``max_train`` vectors
      (further capped at ``_TRAIN_BYTES`` of doubles), keep the rows whose
      seeded xxhash64 of the vector content lands under ``max_train / n``
      of the hash range. ``DataFrame.sample`` would depend on the layout.
    - Order: rows are sorted by value. Collect order follows the partition
      layout, and k-means++ picks positional indices; duplicate rows are
      identical, so their relative order cannot matter.
    - Ragged corpora (wrong-length rows, the hazard ``_band_codes``
      guards) train on the modal length instead of crashing.

    Two Spark jobs: the count and the collect."""
    import numpy as np

    vecs = corpus.select(as_double(F.col(vec_col)).alias("cv")).where(
        F.col("cv").isNotNull()
    )
    # observed over a no-op write: one shuffle-free job, where a count()
    # aggregate is two under AQE
    obs = Observation()
    vecs.observe(
        obs, F.count(F.lit(1)).alias("n"), F.max(F.size("cv")).alias("dim")
    ).write.format("noop").mode("overwrite").save()
    n, dim = obs.get["n"], obs.get["dim"]
    if n == 0:
        raise ValueError(f"{who}: empty corpus")
    max_train = min(max_train, max(1, _TRAIN_BYTES // (8 * max(dim, 1))))
    if n > max_train:
        thresh = int(max_train / n * (1 << 32))
        vecs = vecs.where(
            F.pmod(F.xxhash64(F.col("cv"), F.lit(seed)), F.lit(1 << 32))
            < F.lit(thresh)
        )
    vals = vecs.toPandas()["cv"].tolist()
    counts = Counter(len(x) for x in vals)
    modal = max(counts, key=lambda d: (counts[d], d))
    mat = np.array([x for x in vals if len(x) == modal], dtype="float64")
    return mat[np.lexsort(mat.T[::-1])]


def _sq_dists(x, c):
    """Squared euclidean distances ``(len(x), len(c))``, elementwise: a
    BLAS matmul's summation order follows its thread count, so the fit
    would no longer be bit-identical across hosts."""
    return ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)


def _kmeans(mat, k: int, seed):
    """Seeded k-means++ / Lloyd fit of ``min(k, distinct rows)`` centroids
    to the rows of ``mat`` (squared euclidean, first-min ties, as
    :func:`nearest_cell`). Bit-deterministic given the rows and their
    order. ``seed`` is an int or a numpy ``Generator`` (PQ draws all its
    subspaces from one stream). Assignment runs in row chunks, so driver
    memory stays O(chunk × k × dim) within ``_TRAIN_BYTES``."""
    import numpy as np

    rng = np.random.default_rng(seed)
    k = min(k, len(np.unique(mat, axis=0)))
    # k-means++ seeding: the first center (and any drawn once every row is
    # a center) uniformly, the rest proportional to squared distance
    d2 = np.full(len(mat), np.inf)
    picks: list[int] = []
    for _ in range(k):
        tot = d2.sum()
        if 0.0 < tot < np.inf:
            # clamp: float cumsum can end < 1.0, and searchsorted would
            # then return len(mat) for an unlucky draw
            pick = np.searchsorted(np.cumsum(d2 / tot), rng.random())
            picks.append(min(pick, len(mat) - 1))
        else:
            picks.append(rng.integers(len(mat)))
        d2 = np.minimum(d2, _sq_dists(mat, mat[picks[-1:]])[:, 0])
    c = mat[picks]
    step = max(1, _TRAIN_BYTES // (8 * k * mat.shape[1]))
    for _ in range(20):
        assign = np.concatenate(
            [
                _sq_dists(mat[i : i + step], c).argmin(axis=1)
                for i in range(0, len(mat), step)
            ]
        )
        newc = np.vstack(
            [
                mat[assign == i].mean(axis=0) if (assign == i).any() else c[i]
                for i in range(k)
            ]
        )
        done, c = np.allclose(newc, c), newc
        if done:
            break
    return c


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
) -> list[list[float]]:
    """Train the IVF coarse quantizer: :func:`_kmeans` of ``n_cells``
    centroids over the raw double vectors — the fit PQ's codebooks use —
    on :func:`_train_sample`'s sample of at most 256 vectors per cell (the
    FAISS rule: centroid quality saturates there, so at 100 TB the fit
    never sees the full corpus). A corpus with fewer distinct vectors than
    ``n_cells`` gets one centroid per distinct vector; an empty one
    raises. Returns the centroid list — a driver-sized artifact (n_cells ×
    dim floats) that callers persist (``build_ivf_index``) so the training
    pass is paid ONCE per corpus, not per query batch.

    Deterministic and layout-independent: the same vectors, however
    partitioned, give byte-identical centroids, so a persisted index can
    be re-derived."""
    mat = _train_sample(corpus, vec_col, 256 * n_cells, seed, "train_ivf_centroids")
    return _kmeans(mat, n_cells, seed).tolist()


def nearest_cell(v: Column, centroids: list[list[float]]) -> Column:
    """Cell id of the nearest centroid (squared euclidean, first-min ties) —
    a pure JVM expression over literal centroid arrays, so corpus assignment
    is one map-side codegen pass: no ML model dispatch, no shuffle."""
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    v,
                    lit_array(ctr, "double"),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for ctr in centroids
        ]
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _rank_cells(q: DataFrame, cent: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, qv, cell) for each query's ``nprobe`` nearest cells: a
    (query_id, qv) frame against the broadcast (cell, centroid) table,
    ranked by centroid cosine with ties to the lower cell."""
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cent_sim").desc(), F.col("cell").asc()
    )
    return (
        q.crossJoin(F.broadcast(cent))
        .withColumn("cent_sim", cosine(F.col("qv"), F.col("centroid")))
        .withColumn("cell_rank", F.row_number().over(wq))
        .filter(F.col("cell_rank") <= nprobe)
        .select("query_id", "qv", "cell")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer + cell-probed search.

    Index build: use the supplied ``centroids`` (the train-once scale path —
    see :func:`train_ivf_centroids`; callers cache them per corpus) or train
    inline as a convenience; then assign every corpus vector to its nearest
    centroid in one map-side codegen pass — or skip assignment entirely by
    passing a prebuilt ``assigned`` frame (columns neighbor_id, cv, cell —
    e.g. a persisted one; that IS the inverted file, resident). Search:
    each query probes its ``nprobe`` nearest centroids and ranks by exact
    cosine within those cells only — corpus work per query drops from O(N)
    to O(N * nprobe / n_cells). For repeated query batches over a static
    corpus on disk, use :func:`build_ivf_index` / :func:`ivf_topk_indexed`
    (probed-cell partition pruning over the persisted assignment).

    vs LSH (ann_topk_lsh): IVF adapts to the data distribution (centroids
    follow density; hyperplanes don't), at the price of a training pass.
    pytest measures recall vs brute_force_topk.
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, id_col, vec_col, n_cells)
    if assigned is None:
        c = _id_vec(corpus, id_col, vec_col, "neighbor_id", "cv")
        assigned = c.withColumn("cell", nearest_cell(F.col("cv"), centroids))

    cent = arrow_frame(
        corpus.sparkSession,
        list(enumerate(centroids)),
        "cell int, centroid array<double>",
    )
    probed = _rank_cells(_id_vec(queries, id_col, vec_col), cent, nprobe)
    scored = (
        F.broadcast(probed)
        .join(assigned.select("neighbor_id", "cv", "cell"), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    )
    return _topk_by_sim(scored, k)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    payload_cols: Sequence[str] = (),
) -> None:
    """Persist an IVF index: corpus assigned to k-means cells, written
    partitioned by cell, plus the centroid table. ``payload_cols`` stores
    filter attributes in the cell partitions (the SQ8/PQ payload
    pattern), so :func:`ivf_topk_indexed` can pre-filter its cell-pruned
    scan with ``where=``; appends and retrains carry the payload.

    Build once, query many: the training pass and the full-corpus assignment
    happen here; every later query batch reads ONLY its probed cell
    directories (partition pruning on ``cell=``) — at 100 TB a 1024-cell
    index turns each query batch into a scan of nprobe/1024 of the corpus.

    Rebuild atomicity: every build writes a fresh version directory and
    flips the pointer last, so concurrent probes serve the old index (or
    none) until the single-file commit (see sources.parquet's versioned
    index store).
    """
    spark = corpus.sparkSession
    root, new_v = index_next_root(spark, path)
    centroids = train_ivf_centroids(corpus, id_col, vec_col, n_cells, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
        *payload_cols,
    )
    assigned = c.withColumn("cell", nearest_cell(F.col("cv"), centroids))
    # STATIC overwrite, overriding the session's dynamic default: a
    # rebuild must replace the WHOLE corpus tree — under dynamic mode a
    # cell that receives no rows this build (shrunk corpus, fewer cells)
    # would keep the previous build's directory, and probes would return
    # neighbors that no longer exist
    assigned.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("cell").parquet(f"{root}/corpus")
    arrow_frame(
        spark, list(enumerate(centroids)), "cell int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{root}/centroids")
    # build-time per-cell histogram — the baseline ivf_index_drift compares
    # the append-maintained corpus against to signal quantizer retrain.
    # Counted from the WRITTEN corpus (partition column only, no data
    # columns), so the stats match the files exactly.
    (
        read_pinned(spark, f"{root}/corpus")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("built_n"))
        .write.mode("overwrite")
        .parquet(f"{root}/build_stats")
    )
    finish_index_build(spark, path, new_v)


def read_ivf_centroids(spark, root: str) -> list[list[float]]:
    """The centroid list of a RESOLVED IVF root, in cell order — the
    quantizer :func:`nearest_cell` assigns with."""
    rows = read_pinned(spark, f"{root}/centroids").collect()
    rows.sort(key=lambda r: r.cell)
    return [[float(x) for x in r.centroid] for r in rows]


def ivf_topk_indexed(
    spark,
    queries: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    where: Column | str | None = None,
) -> DataFrame:
    """Search a persisted IVF index: rank centroids per query, read ONLY the
    probed cell partitions (literal ``cell IN (...)`` filter -> partition
    pruning at the parquet source), exact cosine within them. ``where``
    pre-filters the cell-pruned scan on payload columns (a
    ``payload_cols`` build — raises with build guidance otherwise), so
    the result is the exact per-cell top-k of the matching subset.

    The probed-cell set is collected to the driver — it is at most
    ``nprobe * |query batch|`` small integers, and turning it into a literal
    predicate is precisely what lets the scan skip every other partition.
    Both reads resolve the index's ACTIVE version root once, so a
    concurrent retrain/compaction never serves this probe a half-written
    state (the centroids and corpus seen here always belong to one
    committed build)."""
    index_path = index_root(spark, index_path)
    q = _id_vec(queries, id_col, vec_col)
    # shared probe (r14): one collect yields the probed (query, qv, cell)
    # frame AND the distinct-cell list. The previous inline form paid a
    # separate AQE distinct+collect for the cells (4 driver jobs) and
    # then RE-EXECUTED the whole ranking pipeline inside the
    # F.broadcast(probed) build; the local frame broadcasts without
    # recomputation. Ranking semantics are _probe_cells' own (same
    # window, same tie-break) — this path simply stopped duplicating it.
    probed, cells, _ = _probe_cells(
        spark, q, index_path, nprobe, carry_qv=True
    )
    assigned = read_pinned(spark, f"{index_path}/corpus")
    if where is not None:
        pred = F.expr(where) if isinstance(where, str) else where
        payload = [
            c for c in assigned.columns if c not in ("neighbor_id", "cv", "cell")
        ]
        if not payload:
            raise ValueError(
                "filtered IVF search: the index at {!r} stores no payload "
                "columns — build it with build_ivf_index(..., "
                "payload_cols=[...]) so the filter can prune the cell "
                "scan".format(index_path)
            )
        assigned = assigned.filter(pred)
    assigned = assigned.filter(F.col("cell").isin(cells)).select(
        "neighbor_id", "cv", "cell"
    )
    scored = (
        F.broadcast(probed)
        .join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    )
    return _topk_by_sim(scored, k)


def ann_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking within the query's LSH bucket
    and every Hamming-1 bucket (flip each sign bit) — the standard
    multi-probe recall boost: the query fans out to n_planes+1 buckets
    while the corpus stays bucketed once. The join stays equi on
    bucket — no cross product. pytest measures recall vs brute_force_topk.
    """
    qb = lsh_bucket(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "qv",
        n_planes,
    )
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << i)).cast("long")
            for i in range(n_planes)
        ],
    )
    qb = qb.withColumn("bucket", F.explode(probes))
    cb = lsh_bucket(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        "cv",
        n_planes,
    )
    scored = (
        F.broadcast(qb)
        .join(cb, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine(as_double(F.col("qv")), as_double(F.col("cv"))))
    )
    return _topk_by_sim(scored, k)


def build_embedding_lsh_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 64,
    rows_per_band: int = 4,
    dim: int = 64,
) -> None:
    """Persist a corpus's hyperplane-LSH index — the embedding codec of
    :mod:`operators.indexes`, as the text MinHash-LSH index is the text
    one: ``path/vectors`` (id, v — the exact
    cosine verification side), ``path/bands`` (id, band, code — the
    candidate equi-join side), ``path/meta`` (parameters; a probe under
    different parameters must fail loudly, not silently miss). The
    hyperplanes are seeded, so a probe in ANY later session regenerates
    bit-identical codes from the meta alone — nothing model-like is
    stored. Build once per corpus version; per-batch semantic dedup then
    never touches corpus embeddings except the matched candidates.
    Every build writes a fresh version and flips the pointer last
    (:func:`indexes.build`) — probes never see a half-written state."""
    indexes.build(
        _LSH, df, path, id_col, vec_col, (),
        bands=bands, rows_per_band=rows_per_band, dim=dim, seed=42,
    )


def embedding_neardup_against_index(
    spark,
    new_df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """Incremental semantic near-dup: a new batch probes a persisted
    embedding index — candidates are strictly NEW x CORPUS from the
    (band, code) equi-join (history's internal pairs were settled at
    curation time), verified with the exact JVM cosine. Per-batch cost is
    O(batch x bands + matched candidates); corpus vectors are read only
    for candidate ids. Returns (new_id, corpus_id, sim) at or above
    ``threshold``. The ``verify="pairs"`` shape is the right one here
    regardless of threshold: cross-join candidate volume is bounded by
    the BATCH side, so code-collision density cannot approach n² the way
    a full self-join at a loose threshold does."""
    path = index_root(spark, path)
    meta = indexes.read_meta(_LSH, spark, path)
    nv = new_df.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    new_banded = _band_codes(nv, meta.bands, meta.rows_per_band, meta.dim, meta.seed)
    cand = (
        new_banded.alias("a")
        .join(
            read_pinned(spark, f"{path}/bands").alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.code") == F.col("b.code")),
        )
        .select(F.col("a.id").alias("new_id"), F.col("b.id").alias("corpus_id"))
        .distinct()
    )
    corpus_v = read_pinned(spark, f"{path}/vectors").select(
        F.col("id").alias("corpus_id"), F.col("v").alias("v2")
    )
    return (
        cand.join(nv.select(F.col("id").alias("new_id"), F.col("v").alias("v1")), "new_id")
        .join(corpus_v, "corpus_id")
        .withColumn("sim", cosine(F.col("v1"), F.col("v2")))
        .filter(F.col("sim") >= threshold)
        .select("new_id", "corpus_id", "sim")
    )


def append_to_embedding_lsh_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Idempotently append vectors to a persisted embedding-LSH index
    (:func:`build_embedding_lsh_index`) under the index's OWN recorded
    parameters, so a growing corpus never forces a full rebuild.

    Crash backfill and idempotency: :func:`indexes.append` (the seeded
    hyperplanes make re-derived codes bit-identical by construction).
    Per-batch cost is O(batch × bands) plus the two id anti-joins;
    corpus vectors are never re-banded."""
    indexes.append(_LSH, df, path, id_col, vec_col)


def append_to_ivf_index(
    spark,
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append a batch to a persisted IVF index by assigning its vectors to
    the EXISTING centroids — no retrain, so every previously returned
    neighbor keeps its cell and probe identity is preserved. Returns the
    number of novel vectors appended.

    Scale shape: the idempotency anti-join reads ONLY the cell partitions
    this batch lands in (literal ``cell IN (...)`` → partition pruning),
    so a batch touching 4 of 1024 cells scans 4/1024 of the corpus ids,
    not the corpus. The quantizer degrades as the data distribution
    drifts from the one it was trained on — :func:`ivf_index_drift`
    reports per-cell growth against the build-time histogram so the
    owner can schedule a retrain (which IS a full rebuild, by design:
    moving centroids re-cells every vector)."""
    path = index_root(spark, path)
    cents = read_ivf_centroids(spark, path)
    payload = [
        c
        for c in read_pinned(spark, f"{path}/corpus").columns
        if c not in ("neighbor_id", "cv", "cell")
    ]
    missing_payload = [c for c in payload if c not in df.columns]
    if missing_payload:
        raise ValueError(
            f"append_to_ivf_index: the index stores payload columns "
            f"{payload} but the appended frame lacks {missing_payload}"
        )
    nv = df.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
        *payload,
    )
    assigned = nv.withColumn("cell", nearest_cell(F.col("cv"), cents))
    assigned = assigned.localCheckpoint(eager=True)  # assign once, probe twice
    cells = sorted(
        {r.cell for r in assigned.select("cell").distinct().collect()}
    )
    existing = (
        read_pinned(spark, f"{path}/corpus")
        .filter(F.col("cell").isin(cells))
        .select("neighbor_id")
    )
    novel = assigned.join(existing, "neighbor_id", "left_anti").localCheckpoint(
        eager=True
    )
    n = novel.count()
    if n:
        novel.write.mode("append").partitionBy("cell").parquet(f"{path}/corpus")
    return n


def ivf_index_drift(spark, path: str) -> DataFrame:
    """Per-cell growth of a persisted IVF index since its last (re)build:
    ``(cell, built_n, current_n, appended_n, growth)`` — the retrain
    signal for the append path. Reads only the partition column of the
    corpus (column-pruned count) plus the tiny build_stats table; cells
    created empty at build time report built_n = 0 and growth = NULL."""
    path = index_root(spark, path)
    built = read_pinned(spark, f"{path}/build_stats")
    cur = (
        read_pinned(spark, f"{path}/corpus")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("current_n"))
    )
    return (
        built.join(cur, "cell", "full_outer")
        .select(
            "cell",
            F.coalesce("built_n", F.lit(0)).alias("built_n"),
            F.coalesce("current_n", F.lit(0)).alias("current_n"),
            (F.coalesce("current_n", F.lit(0)) - F.coalesce("built_n", F.lit(0))).alias(
                "appended_n"
            ),
            (
                F.coalesce("current_n", F.lit(0)).cast("double")
                / F.when(F.col("built_n") > 0, F.col("built_n"))
            ).alias("growth"),
        )
        .orderBy("cell")
    )


def ivf_retrain_due(spark, path: str, max_total_growth: float = 1.5) -> bool:
    """True when the appended volume warrants retraining the quantizer:
    the whole index grew past ``max_total_growth``× its built size, or
    any single cell past 3× (a ballooning cell means
    the centroid no longer summarizes its region — probes of that cell
    degrade toward a linear scan). Driver-side cost: n_cells rows."""
    rows = ivf_index_drift(spark, path).collect()
    built = sum(r.built_n for r in rows)
    cur = sum(r.current_n for r in rows)
    if built == 0:
        return cur > 0
    if cur / built > max_total_growth:
        return True
    return any(
        r.growth is not None and r.growth > 3.0 for r in rows
    )


def compact_embedding_indexes(
    spark,
    lsh_index_path: str | None = None,
    ivf_index_path: str | None = None,
    pq_index_path: str | None = None,
    sq8_index_path: str | None = None,
) -> dict[str, int]:
    """Periodic maintenance for the append-maintained embedding indexes —
    the embedding side of ``streaming.corpus.compact_corpus_indexes``
    (both run :func:`indexes.compact`): every appended batch adds one
    small parquet file per sub-table, and probe latency eventually drowns
    in file open/seek. Clusters each
    sub-table on its probe key (``bands`` on (band, code) — the candidate
    equi-join; ``vectors`` on id — the verification lookup; the IVF
    corpus keeps its ``cell=`` partitioning, salted-compacted within) so
    row-group min/max ranges turn selective probes into skips. Probe
    identity is guaranteed: compaction rewrites rows, never drops or
    re-codes them (pinned in tests/test_llm.py).

    Concurrency contract, stated precisely: the versioned swap makes
    this PROBE-safe (readers during the compaction serve the old layout,
    which is kept for one further generation so even scans that resolved
    pre-flip finish; a crash mid-compaction leaves the old version
    active) but NOT concurrent-APPEND-safe — an append that resolved the
    old root mid-compaction would land rows in a superseded generation
    and they would never reach the active index. Maintenance and appends
    share one owner (the ingest loop runs appends in-batch and
    retrain/compaction only after the availableNow run drains); never
    schedule this concurrently with an ingest into the same index."""
    from aws_data_pipeline_spark.sources.parquet import compact_index

    written: dict[str, int] = {}
    for codec, path in ((_LSH, lsh_index_path), (_PQ, pq_index_path),
                        (_SQ8, sq8_index_path)):
        if path is not None:
            written.update(indexes.compact(codec, spark, path))
    if ivf_index_path is not None:
        written["ivf_corpus"] = compact_index(
            spark, ivf_index_path, {"corpus": {"partition_by": ("cell",)}},
            ("centroids", "build_stats"),
        )["corpus"]
    return written


def retrain_ivf_index(spark, path: str) -> dict[str, int]:
    """Retrain a persisted IVF index's quantizer and rebuild it in place —
    the endpoint of the append lifecycle: ``build_ivf_index`` →
    ``append_to_ivf_index``×N → ``ivf_retrain_due`` fires → retrain.

    Trains on the index's OWN materialized vectors (``path/corpus`` holds
    them), so at 100 TB the retrain never rescans the source corpus — its
    cost is one corpus-vector materialization, one k-means over a sample of
    at most 256 vectors per cell (:func:`train_ivf_centroids`), and one
    reassignment write. The cell count scales the built cell count
    proportionally with realized corpus growth (cells ∝ corpus size keeps
    per-cell probe cost constant as the index grows). The rebuild rewrites
    ``corpus``/``centroids``/``build_stats``, resetting the drift baseline,
    so ``ivf_retrain_due`` is False immediately after.

    Contract honesty: retrain deliberately does NOT preserve probe
    identity — moving centroids re-cells vectors (that is the point; see
    ``append_to_ivf_index``). Exactness is unchanged: a full probe
    (nprobe = n_cells) equals brute force before and after.

    Concurrency-safe: the rebuild writes a fresh version directory and
    commits it with one marker-file create (``build_ivf_index``), so
    probes during the retrain serve the OLD index until the flip and the
    new one after — no truncation window. A crash mid-retrain leaves the
    old version intact and still active; re-running the retrain writes a
    new candidate.
    """
    drift = ivf_index_drift(spark, path).collect()
    built = sum(r.built_n for r in drift)
    current = sum(r.current_n for r in drift)
    if current == 0:
        raise ValueError(f"retrain_ivf_index: no vectors in index at {path}")
    built_cells = len(drift)
    grown = built_cells if built == 0 else -(-built_cells * current // built)
    n_cells = max(built_cells, int(grown))
    # the rebuild writes a NEW version dir, so reading the active root
    # lazily would be safe — but the post-commit cleanup deletes these
    # files, so materialize anyway before the build consumes them twice
    stored = read_pinned(spark, f"{index_root(spark, path)}/corpus")
    payload = [c for c in stored.columns if c not in ("neighbor_id", "cv", "cell")]
    vecs = (
        stored.select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("cv").alias("embedding"),
            *payload,
        )
        .localCheckpoint(eager=True)
    )
    build_ivf_index(vecs, path, n_cells=n_cells, payload_cols=payload)
    return {"n_vectors": current, "n_cells": n_cells}


# -- Product quantization (PQ) ---------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    seed: int = 42,
    max_train: int = 16384,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split the vector into ``m`` contiguous subspaces
    and fit ``ks`` centroids per subspace (Jegou et al. 2011) — the
    compression stage of IVF-PQ, the standard 100 TB embedding-search
    layout. Returns ``m × ks × (dim/m)`` floats — a driver-sized artifact
    (8·16·8 doubles here) callers persist alongside the corpus codes.
    The sample is unit-normalized first, as :func:`pq_encode` normalizes
    what it encodes: codebooks fitted in raw space quantize unit-normalized
    vectors badly.

    Training is one :func:`_kmeans` per subspace, all drawing from one
    seeded RNG, over :func:`_train_sample`'s sample — the fit and sample
    :func:`train_ivf_centroids` uses. Codebook fitting is inherently
    sample-based (FAISS trains on ~100k vectors regardless of corpus
    size), the collect is capped at ``max_train`` rows (16k × 64 floats ≈
    8 MB), and the codebooks are bit-deterministic and independent of the
    input's partition layout, so a persisted codebook can be re-derived
    for audit.
    """
    import numpy as np

    mat = _train_sample(corpus, vec_col, max_train, seed, "train_pq_codebooks")
    nrm = np.linalg.norm(mat, axis=1)
    mat = mat[nrm > 0.0] / nrm[nrm > 0.0, None]
    if len(mat) == 0:
        raise ValueError("train_pq_codebooks: all vectors zero-norm")
    dim = mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rng = np.random.default_rng(seed)
    books: list[list[list[float]]] = []
    for j in range(m):
        c = _kmeans(mat[:, j * sub : (j + 1) * sub], ks, rng)
        if len(c) < ks:  # degenerate tiny corpora: pad by repeating
            c = np.vstack([c] + [c[-1:]] * (ks - len(c)))
        books.append(c.tolist())
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every corpus vector as ``m`` subspace code ids →
    ``(id, codes array<int>)`` — the 32× payload compression that lets an
    ANN scan read 8 bytes per vector instead of 256. One numpy distance +
    argmin per Arrow batch (the 100 TB hot path — same mapInPandas shape
    as ``_band_codes``); degenerate vectors (NULL / wrong length) are
    skipped, mirroring the LSH path's tolerance. Each vector is scaled to
    unit norm first so ADC inner products approximate cosine; zero vectors
    are dropped (their cosine is NULL in the exact paths anyway)."""
    import numpy as np

    m = len(codebooks)
    books = [np.asarray(b, dtype="float64") for b in codebooks]
    sub = books[0].shape[1]
    dim = m * sub
    id_type = corpus.schema[id_col].dataType.simpleString()
    v = corpus.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    rows = _vector_rows("v", dim)

    def encode(batches):
        import numpy as np
        import pandas as pd

        for pdf, mat in rows(batches):
            codes = np.empty((len(mat), m), dtype="int32")
            for j in range(m):
                x = mat[:, j * sub : (j + 1) * sub]
                # ||x-c||^2 argmin == (||c||^2 - 2 x.c) argmin
                d = (books[j] ** 2).sum(axis=1)[None, :] - 2.0 * (x @ books[j].T)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "codes": list(codes)})

    from aws_data_pipeline_spark.operators import widen_narrow_input

    return widen_narrow_input(v).mapInPandas(
        encode, schema=f"id {id_type}, codes array<int>"
    )


def _lut_builder(codebooks: list[list[list[float]]]):
    """The mapInPandas function over (query_id, qv) batches that yields
    (query_id, qv, lut): the normalized query vector and its m×ks LUT of
    subspace inner products, built as ONE numpy matmul per batch (a
    literal-expression LUT costs seconds of Catalyst analysis — measured
    in round 7 and rejected). Zero-norm / ragged queries are dropped."""
    import numpy as np

    m = len(codebooks)
    sub = len(codebooks[0][0])
    books = [np.asarray(b, dtype="float64") for b in codebooks]
    rows = _vector_rows("qv", m * sub)

    def build_lut(batches):
        import numpy as np
        import pandas as pd

        for pdf, mat in rows(batches):
            # LUT[j*ks + c] = <q_j, codebook_j[c]> — one matmul per subspace
            lut = np.concatenate(
                [mat[:, j * sub : (j + 1) * sub] @ books[j].T for j in range(m)],
                axis=1,
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "qv": list(mat),
                    "lut": list(lut),
                }
            )

    return build_lut


def _pq_query_luts(
    q: DataFrame, codebooks: list[list[list[float]]], id_type: str
) -> DataFrame:
    """(query_id, qv, lut) for a (query_id, qv) frame, one
    :func:`_lut_builder` Arrow batch per partition — the frame-side query
    LUT of :func:`_pq_scored`."""
    return q.mapInPandas(
        _lut_builder(codebooks),
        schema=f"query_id {id_type}, qv array<double>, lut array<double>",
    )


def _pq_query_luts_local(
    spark, q_rows, codebooks: list[list[list[float]]], id_type: str
):
    """:func:`_pq_query_luts` for an ALREADY-COLLECTED bounded query
    batch (the (query_id, qv) pairs :func:`_probe_cells` returns): the
    same :func:`_lut_builder` function runs on the driver over one pandas
    batch, and the result is re-created as a local frame. The broadcast
    consumer then ships driver rows instead of re-running the query scan
    plus a single-task Arrow worker round-trip per probe (guide §4: the
    composed probes had already paid the collect, so the Python boundary
    bought nothing)."""
    import pandas as pd

    batch = pd.DataFrame(
        {"query_id": [r[0] for r in q_rows], "qv": [r[1] for r in q_rows]}
    )
    out = [
        (qid, v.tolist(), lut.tolist())
        for part in _lut_builder(codebooks)([batch])
        for qid, v, lut in zip(part["query_id"].tolist(), part["qv"], part["lut"])
    ]
    return arrow_frame(
        spark,
        out,
        f"query_id {id_type}, qv array<double>, lut array<double>",
    )


def _pq_adc_sim(m: int, ks: int):
    """The ADC scoring expression over (lut, codes) columns: m array
    lookups folded JVM-side inside whole-stage codegen."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("lut"),
            (j * ks + F.element_at(F.col("codes"), j + 1) + 1).cast("int"),
        ),
    )


def _pq_scored(
    q: DataFrame, cand: DataFrame, books: list[list[list[float]]], q_rows=None
) -> DataFrame:
    """ADC ``sim`` of each query against its candidate (neighbor_id,
    codes) rows. The query's LUT and normalized ``qv`` (the re-rank side)
    come from one Arrow batch per partition of the (query_id, qv) frame
    ``q``, or, for a composed probe that already collected ``q_rows``,
    from the same numpy ops on the driver (:func:`_pq_query_luts_local`)."""
    id_type = q.schema["query_id"].dataType.simpleString()
    if q_rows is None:
        qlut = _pq_query_luts(q, books, id_type)
    else:
        qlut = _pq_query_luts_local(q.sparkSession, q_rows, books, id_type)
    return _pairs(qlut, cand).withColumn(
        "sim", _pq_adc_sim(len(books), len(books[0]))
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    corpus_codes: DataFrame | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """PQ ANN via asymmetric distance computation (ADC): rank corpus codes
    by the query's per-subspace lookup table, optionally exact-re-rank the
    top ``rerank`` candidates. Output schema matches ``brute_force_topk``
    (query_id, neighbor_id, sim, rank).

    Scale shape: the corpus side touches ONLY the 8-byte code rows
    (``corpus_codes`` — persist it once per corpus; pass it to skip
    re-encoding), scored JVM-side as ``m`` array lookups per row inside
    whole-stage codegen; the query side precomputes its ``m × ks`` LUT of
    subspace inner products as ONE numpy matmul per Arrow batch (a
    literal-expression LUT — m·ks nested HOF columns — costs seconds of
    Catalyst analysis per execution; measured 5.1 s → sub-second after
    moving it to Arrow). The optional re-rank joins full vectors for
    the top-``rerank`` candidates only (:func:`_refine`, the FAISS refine
    step). IVF composition is :func:`ivfpq_topk_indexed`. Approximate by
    design: recall vs brute_force_topk is pinned in pytest, not a value
    oracle.
    """
    if corpus_codes is None:
        corpus_codes = pq_encode(corpus, codebooks, id_col, vec_col)
    cand = corpus_codes.select(F.col("id").alias("neighbor_id"), "codes")
    scored = _pq_scored(_id_vec(queries, id_col, vec_col), cand, codebooks)
    return _refine(
        scored, _id_vec(corpus, id_col, vec_col, "neighbor_id", "cv"), k, rerank
    )


def build_pq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    seed: int = 42,
    payload_cols: Sequence[str] = (),
) -> None:
    """Persist a PQ index: ``path/vectors`` (id, v — the exact re-rank
    side), ``path/codes`` (id, codes — the 8-byte ADC scan side),
    ``path/codebooks`` (j, c, centroid), ``path/meta`` (params +
    build-time corpus count for retrain-due accounting). Unlike the LSH
    hyperplanes (seeded, re-derivable from meta alone), PQ codebooks are
    DATA-FITTED — they must be stored, and append-time encoding must use
    the stored books or codes would be incomparable across batches.
    Crash and rebuild contract: :func:`indexes.build` (every build flips a
    fresh version, so no new-codes-under-old-codebooks state is ever
    visible).

    ``payload_cols`` stores filter attributes beside both sub-tables
    (build_sq8_index's payload pattern), so the composed filtered
    searches can prune PQ-coded scans the same way they prune SQ8 ones;
    appends and retrains carry the payload through, unfiltered probes
    never read it."""
    indexes.build(
        _PQ, corpus, path, id_col, vec_col, payload_cols,
        m=m, ks=ks, seed=seed, max_train=16384,
    )


def read_pq_codebooks(spark, path: str) -> list[list[list[float]]]:
    """The stored codebooks as the nested-list driver artifact every PQ
    entry point takes — one small read (m·ks rows)."""
    return _pq_codebooks_at(spark, index_root(spark, path))


def _pq_codebooks_at(spark, path: str) -> list[list[list[float]]]:
    """Codebooks from an ALREADY-RESOLVED root — appends read their
    artifacts and write their data through ONE resolution, so a retrain
    committing mid-append can never pair old codebooks with the new
    version's tables. Memoized per (application, resolved root): the
    codebooks of a committed version are immutable ("fixed on append" —
    retrains land in a NEW root), so the two artifact collects repeat
    nothing per probe (r14, guide §2.6 fixed overhead; lifetime and
    eviction rules in :func:`artifact_memo`)."""

    def _build() -> list[list[list[float]]]:
        meta = read_pinned(spark, f"{path}/meta").collect()[0]
        rows = read_pinned(spark, f"{path}/codebooks").collect()
        books: list[list[list[float]]] = [
            [None] * meta.ks for _ in range(meta.m)  # type: ignore[list-item]
        ]
        for r in rows:
            books[r.j][r.c] = [float(x) for x in r.centroid]
        if any(c is None for b in books for c in b):
            raise ValueError(
                f"pq index at {path}: incomplete codebooks table"
            )
        return books

    return artifact_memo(spark, f"{path}/codebooks", _build)


def append_to_pq_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Idempotently append vectors to a persisted PQ index under its
    STORED codebooks (fixed on append, like IVF centroids — drift is
    retrained away, not absorbed); crash backfill and idempotency:
    :func:`indexes.append`. Per-batch cost is one encode of the
    missing rows + two id anti-joins. Zero-norm /
    degenerate vectors land in ``vectors`` (the exactness side tolerates
    them — NULL cosine) but are dropped by the encoder, so they read as
    "pending" on a re-delivery of the SAME batch and are re-dropped — a
    bounded no-op, not accumulation: the pending set is batch-scoped."""
    indexes.append(_PQ, df, path, id_col, vec_col)


def pq_retrain_due(spark, path: str, growth_factor: float = 2.0) -> bool:
    """True when the index has grown past ``growth_factor`` × its
    build-time size — codebooks fitted on the old distribution quantize
    the grown corpus increasingly badly (the PQ analogue of IVF cell
    drift; PQ has no per-cell counts, so realized growth is the signal).
    Cost: one footer-metadata count + the meta row."""
    return indexes.grown(_PQ, spark, index_root(spark, path), growth_factor)


def retrain_pq_index(spark, path: str) -> dict[str, int]:
    """Retrain the codebooks on the index's OWN vectors and re-encode —
    the append lifecycle's endpoint (build → append×N →
    pq_retrain_due fires → retrain), never rescanning the source corpus.
    Deliberately NOT code-preserving (new books re-quantize everything —
    that is the point); exact re-rank results are unchanged since
    ``vectors`` carries the same rows forward.

    Concurrency-safe: see :func:`indexes.retrain` — a crash mid-retrain
    can never leave new codes visible under old stored codebooks."""
    n, meta = indexes.retrain(_PQ, spark, path, max_train=16384)
    return {"n_vectors": n, "m": meta.m, "ks": meta.ks}


def pq_topk_indexed(
    spark,
    queries: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank: int | None = 40,
    where: Column | str | None = None,
) -> DataFrame:
    """Top-k via the PERSISTED PQ index — the on-disk 100 TB shape: the
    ADC scan reads ONLY ``path/codes`` (8 bytes/vector); ``path/vectors``
    is touched just for the re-rank candidates. Identical rows to the
    resident :func:`pq_topk` under the same codebooks by construction.
    The active root resolves ONCE, so every sub-table read belongs to one
    committed build even while a retrain/compaction runs. ``where`` is
    :func:`sq8_topk_indexed`'s payload pre-filter, over the 32×-compressed
    codes."""
    return _topk_indexed(
        _PQ, spark, queries, path, id_col, vec_col, k, rerank, where
    )


# --------------------------------------------------------------------------
# SQ8: scalar (per-dimension affine) quantization — the fourth ANN family.
# Train = per-dim min/max over the corpus (one map-side-combinable agg;
# no k-means, no seed); encode = 1 small int per dimension; search =
# exact query vs DEQUANTIZED corpus (FAISS SQ8's asymmetric mode). Unlike
# PQ the reconstruction is a closed-form IEEE expression over the stored
# stats, so the whole search path is oracle-able value-for-value: every
# engine that mirrors the same basic ops gets bit-identical reconstructed
# vectors (min/max, -, /255, +0.5, floor, clamp are all exactly-rounded
# deterministic double ops — no RNG, no iterative training).
# --------------------------------------------------------------------------


def sq8_train_stats(
    corpus: DataFrame,
    vec_col: str = "embedding",
) -> tuple[list[float], list[float]]:
    """Per-dimension ``(min, scale=(max-min)/255)`` over the corpus — the
    whole SQ8 "codebook" (2 doubles per dimension, vs PQ's m*ks*sub).

    Scale shape: posexplode → groupBy(pos) min/max is map-side
    combinable, so the shuffle is O(dim × partitions) rows no matter the
    corpus size; the collected result is dim rows (the same
    small-by-construction class as the IVF centroid collect)."""
    rows = (
        corpus.select(F.posexplode(as_double(F.col(vec_col))).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    )
    rows.sort(key=lambda r: r.pos)
    mins = [float(r.mn) for r in rows]
    scales = [(float(r.mx) - float(r.mn)) / 255.0 for r in rows]
    return mins, scales


def _sq8_params(mins: list[float], scales: list[float]) -> tuple[Column, Column]:
    return lit_array(mins, "double"), lit_array(scales, "double")


def sq8_encode(
    df: DataFrame,
    mins: list[float],
    scales: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """(id, codes[, extra...]) with ``codes[d] = clamp(floor((x_d -
    min_d)/scale_d + 0.5), 0, 255)`` as smallint — 1 byte of information
    per dimension (parquet bit-packs the narrow range), a 4-8× scan-payload
    cut vs the raw float vectors. A constant dimension (scale 0) encodes as
    0 and reconstructs to its min. ``extra_cols`` carries payload columns
    (filter attributes) through to the codes rows — the vector-DB trick
    that lets a filtered search prune the compressed scan without joining
    back to the source table. Pure codegen: two literal stat arrays + one
    indexed transform, no Python in the path."""
    mn, sc = _sq8_params(mins, scales)
    codes = F.transform(
        as_double(F.col(vec_col)),
        lambda x, i: F.when(F.element_at(sc, i + 1) == 0.0, F.lit(0))
        .otherwise(
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (x - F.element_at(mn, i + 1)) / F.element_at(sc, i + 1)
                        + F.lit(0.5)
                    ),
                ),
            )
        )
        .cast("smallint"),
    )
    return df.select(
        F.col(id_col).alias("id"), codes.alias("codes"), *extra_cols
    )


def sq8_reconstruct(codes: Column, mins: list[float], scales: list[float]) -> Column:
    """Dequantize a codes array back to ``min_d + code_d * scale_d``
    (array<double>) — closed-form, exactly reproducible anywhere."""
    mn, sc = _sq8_params(mins, scales)
    return F.transform(
        codes,
        lambda c, i: F.element_at(mn, i + 1)
        + c.cast("double") * F.element_at(sc, i + 1),
    )


def sq8_error_norm(scales: list[float]) -> float:
    """The driver-side half of the DERIVED ADC band slack:
    ``E = ||scales||_2 / 2``. Each reconstructed coordinate sits within
    ``scale_d/2`` of the true in-range value (round-to-nearest
    quantization), so the reconstruction error vector obeys
    ``||e|| <= E``; the cosine of a fixed query against the
    reconstruction then deviates from the true cosine by at most
    ``2||e|| / max(||r||, ||v||) <= 2E / ||r||`` (the unit-normalization
    perturbation bound ``||a/||a|| - b/||b|||| <= 2||a-b||/max(||a||,
    ||b||)``), which the hard-negative miners apply PER ROW using the
    reconstructed norm already in their plans. This replaces the old
    hand-tuned ``band_slack=0.05`` constant, which a wide-range corpus
    (one outlier dimension inflating its scale) silently exceeds —
    tests/test_llm.py plants exactly that corpus. Out-of-range APPENDED
    vectors saturate (append_to_sq8_index) and can exceed the bound until
    sq8_retrain_due triggers a retrain — the same caveat every SQ8 search
    here documents."""
    return 0.5 * math.sqrt(sum(s * s for s in scales))


def _band_slack_col(band_slack: float | None, scales: list[float]) -> Column:
    """The per-row ADC band slack as a Column: the caller's fixed constant
    if given, else the derived ``2E/||r||`` bound from
    :func:`sq8_error_norm` (``rn`` must be the reconstructed-norm column;
    rows with ``rn = 0`` fall back to the vacuous slack 2.0 — their
    ``asim`` is null via try_divide and drops from the band anyway)."""
    if band_slack is not None:
        return F.lit(float(band_slack))
    err = sq8_error_norm(scales)
    return F.coalesce(
        F.try_divide(F.lit(2.0 * err), F.col("rn")), F.lit(2.0)
    )


def _sq8_scored(
    q: DataFrame,
    cand: DataFrame,
    stats: tuple[list[float], list[float]],
    q_rows=None,
    band: tuple | None = None,
) -> DataFrame:
    """SQ8's asymmetric cosine ``sim``: the exact query ``qv`` (norm
    ``qn``) against each candidate's DEQUANTIZED codes (``rv``, norm
    ``rn``) under ``stats`` = (mins, scales), computed on the candidate
    side before the join; try_divide turns a zero norm into a NULL sim.
    ``q_rows`` re-creates the query frame locally from a composed probe's
    collected rows, so the broadcast build does not re-run the query scan.
    ``band`` = (lo, hi, band_slack) keeps only sims inside the
    slack-widened band (:func:`_band_slack_col`): the miners' approximate
    stage."""
    mins, scales = stats
    if q_rows is not None:
        q = arrow_frame(q.sparkSession, q_rows, q.schema)
    rv = cand.withColumn(
        "rv", sq8_reconstruct(F.col("codes"), mins, scales)
    ).withColumn("rn", norm(F.col("rv")))
    scored = _pairs(q.withColumn("qn", norm(F.col("qv"))), rv).withColumn(
        "sim", F.try_divide(dot(F.col("qv"), F.col("rv")), F.col("qn") * F.col("rn"))
    )
    if band is None:
        return scored
    slack = _band_slack_col(band[2], scales)
    return scored.filter(_in_band(F.col("sim"), band[0], band[1], slack))


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    mins: list[float] | None = None,
    scales: list[float] | None = None,
    corpus_codes: DataFrame | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """SQ8 ANN: rank the corpus by exact-query-vs-dequantized-corpus
    cosine (FAISS's asymmetric SQ8 search), optionally exact-re-rank the
    top ``rerank`` on full vectors. Output schema matches
    ``brute_force_topk`` (query_id, neighbor_id, rank).

    Scale shape: the corpus side touches ONLY the code rows (pass
    ``corpus_codes`` built once via :func:`sq8_encode` — 4-8× less scan
    payload than the float vectors); dequantize + cosine run inside
    whole-stage codegen against two literal stat arrays, queries are
    broadcast with their norms precomputed. Quantization error is bounded
    per dimension by scale/2, so recall@k is near-1 on real corpora
    (pinned in pytest); the optional re-rank restores the exact ceiling
    on the candidate sliver, as in pq_topk."""
    if mins is None or scales is None:
        mins, scales = sq8_train_stats(corpus, vec_col)
    if corpus_codes is None:
        corpus_codes = sq8_encode(corpus, mins, scales, id_col, vec_col)
    cand = corpus_codes.select(F.col("id").alias("neighbor_id"), "codes")
    scored = _sq8_scored(_id_vec(queries, id_col, vec_col), cand, (mins, scales))
    return _refine(
        scored, _id_vec(corpus, id_col, vec_col, "neighbor_id", "cv"), k, rerank
    )


def build_sq8_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    payload_cols: Sequence[str] = (),
) -> None:
    """Persist an SQ8 index: ``path/vectors`` (id, v — the exact re-rank
    side), ``path/codes`` (id, codes — the smallint scan side),
    ``path/stats`` (pos, mn, sc — the per-dimension quantizer), ``meta``
    (build-time count for retrain-due accounting). Like PQ codebooks the
    stats are DATA-FITTED and must be stored: append-time encoding uses
    the stored ranges or codes would be incomparable across batches.

    ``payload_cols`` stores filter attributes alongside BOTH sub-tables
    (the vector-DB payload pattern — FAISS IDSelector / filtered-HNSW
    territory): ``sq8_topk_indexed(..., where=)`` then prunes the
    compressed codes scan with an ordinary parquet-pushed predicate
    instead of joining back to the source table. Appends and retrains carry the
    payload through (schema discovered from the stored vectors), and the
    unfiltered probes are unaffected — they select (id, codes) / (id, v)
    explicitly, so parquet column pruning never reads the payload.
    Crash and rebuild contract: :func:`indexes.build`."""
    indexes.build(_SQ8, corpus, path, id_col, vec_col, payload_cols)


def read_sq8_stats(spark, path: str) -> tuple[list[float], list[float]]:
    """The stored per-dimension quantizer as the (mins, scales) driver
    artifact every SQ8 entry point takes — one small read (dim rows)."""
    return _sq8_stats_at(spark, index_root(spark, path))


def _sq8_stats_at(spark, path: str) -> tuple[list[float], list[float]]:
    """Stats from an ALREADY-RESOLVED root (the _pq_codebooks_at rule).
    Memoized per (application, resolved root) like the codebooks: stats
    are fixed on append and retrains land in a new root, so the per-probe
    stats collect was pure repeated fixed overhead (r14, guide §2.6)."""

    def _build() -> tuple[list[float], list[float]]:
        rows = read_pinned(spark, f"{path}/stats").collect()
        rows.sort(key=lambda r: r.pos)
        return [float(r.mn) for r in rows], [float(r.sc) for r in rows]

    return artifact_memo(spark, f"{path}/stats", _build)


def append_to_sq8_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Idempotently append vectors under the STORED stats (fixed on
    append, like PQ codebooks): out-of-range values saturate to code
    0/255 — bounded per-dim error until :func:`sq8_retrain_due` notices
    the range drift and the owner retrains. A payload-carrying index
    (built with ``payload_cols``) requires the same columns on the
    appended frame — discovered from the stored vectors schema, so the
    caller never restates them. Crash backfill and idempotency:
    :func:`indexes.append`."""
    indexes.append(_SQ8, df, path, id_col, vec_col)


def sq8_range_drift(spark, path: str) -> DataFrame:
    """Per-dimension drift of the indexed vectors beyond the stored
    quantizer range: (pos, mn, sc, obs_mn, obs_mx, drift) where drift is
    the largest overshoot of either edge as a fraction of the stored
    span. Appends can only EXPAND the observed range (build rows are a
    subset of ``vectors``), so drift > 0 means post-build vectors
    saturate — the SQ8 analogue of IVF cell-count drift, measurable in
    one map-side-combinable pass over the vectors table."""
    path = index_root(spark, path)
    stats = read_pinned(spark, f"{path}/stats")
    obs = (
        read_pinned(spark, f"{path}/vectors")
        .select(F.posexplode(F.col("v")).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("obs_mn"), F.max("x").alias("obs_mx"))
    )
    span = F.col("sc") * F.lit(255.0)
    over = F.greatest(
        F.col("mn") - F.col("obs_mn"),
        F.col("obs_mx") - (F.col("mn") + span),
        F.lit(0.0),
    )
    # a build-time-CONSTANT dimension (span 0) has no scale to express
    # overshoot in: ANY departure from the stored point is unbounded
    # reconstruction error, so report infinite drift rather than
    # silently clamping to 0 and never tripping the retrain trigger
    return stats.join(obs, "pos").withColumn(
        "drift",
        F.when(span > 0, over / span).otherwise(
            F.when(over > 0, F.lit(float("inf"))).otherwise(F.lit(0.0))
        ),
    )


def sq8_retrain_due(
    spark,
    path: str,
    growth_factor: float = 2.0,
    max_range_drift: float = 0.25,
) -> bool:
    """True when the index grew past ``growth_factor`` × its build-time
    size (the PQ trigger — cheap: one metadata count) OR any dimension's
    observed range overshoots the stored quantizer range by more than
    ``max_range_drift`` of its span (saturating appends quantize badly
    long before 2× growth if the distribution shifted). The growth probe
    runs first so the drift scan is skipped when growth already decides.
    The 0.25 default is calibrated above ordinary heavy-tail extension:
    an 80/20 build/append split of the SAME distribution measures ~0.19
    max overshoot on the synthetic corpus — new extremes of an unshifted
    tail, not a shift; genuine range breaks (the lifecycle test's planted
    outlier sits at ~0.78) clear 0.25 with margin."""
    if indexes.grown(_SQ8, spark, index_root(spark, path), growth_factor):
        return True
    worst = sq8_range_drift(spark, path).agg(F.max("drift")).collect()[0][0]
    return worst is not None and worst > max_range_drift


def retrain_sq8_index(spark, path: str) -> dict[str, int]:
    """Refit the per-dimension ranges on the index's OWN vectors and
    re-encode — the append lifecycle's endpoint, never rescanning the
    source corpus. Payload columns (a ``payload_cols`` build) ride the
    vectors table through the rebuild. Versioned atomic swap (probes
    mid-retrain serve the old pair; crash leaves it active)."""
    return {"n_vectors": indexes.retrain(_SQ8, spark, path)[0]}


# --------------------------------------------------------------------------
# The embedding families' codecs. The lifecycle they share with the text
# MinHash-LSH index (build, crash-safe append, growth trigger, retrain,
# delete, compaction) is operators/indexes.py; the indexed top-k probe
# below is the embedding families' own.
# --------------------------------------------------------------------------

def _topk_indexed(
    codec: indexes.Codec,
    spark,
    queries: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    k: int,
    rerank: int | None,
    where: Column | str | None = None,
) -> DataFrame:
    """Top-k through a persisted index: the scan reads ONLY the code
    table, ``vectors`` only for the re-rank candidates, and the rows equal
    the resident search's under the same artifacts by construction. The
    active root resolves ONCE, so every sub-table read belongs to one
    committed build even while a retrain/compaction runs. ``where``
    pre-filters the code rows on their payload columns (parquet-pushed)
    BEFORE ranking, so the result is the exact top-k of the matching
    subset; it needs a ``payload_cols`` build."""
    root = index_root(spark, path)
    art = codec.artifact(spark, root)
    codes = read_pinned(spark, f"{root}/{codec.code_sub}")
    if where is not None:
        pred = F.expr(where) if isinstance(where, str) else where
        if not [c for c in codes.columns if c not in ("id", "codes")]:
            raise ValueError(
                f"filtered {codec.name}_topk_indexed: the index at {path!r} "
                f"stores no payload columns — build it with build_{codec.name}"
                "_index(..., payload_cols=[...]) so the filter can prune the "
                "codes scan"
            )
        codes = codes.filter(pred).select("id", "codes")
    corpus = read_pinned(spark, f"{root}/vectors").select(
        F.col("id").alias("vec_id"), F.col("v").alias("embedding")
    )
    return codec.search(
        queries.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        corpus, art, codes, k, rerank,
    )


def _pq_encode_rows(v: DataFrame, books, payload: Sequence[str]) -> DataFrame:
    codes = pq_encode(v, books, id_col="id", vec_col="v")
    # the payload joins back by id, keeping the Arrow UDF schema untouched
    return codes.join(v.select("id", *payload), "id") if payload else codes


def _write_pq_codebooks(spark, root: str, books) -> None:
    arrow_frame(
        spark,
        [(j, c, cent) for j, book in enumerate(books) for c, cent in enumerate(book)],
        "j int, c int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{root}/codebooks")


def _write_sq8_stats(spark, root: str, stats) -> None:
    mins, scales = stats
    arrow_frame(
        spark,
        list(zip(range(len(mins)), mins, scales)),
        "pos int, mn double, sc double",
    ).write.mode("overwrite").parquet(f"{root}/stats")


def _stored_vectors(
    rows: DataFrame, id_col: str, vec_col: str, payload: Sequence[str], _params
) -> DataFrame:
    """The embedding families' primary projection: ``vectors`` (id, v,
    payload...), the exact re-rank and verification side."""
    return rows.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"), *payload
    )


# the probes' clustering: ``bands`` on (band, code), the candidate
# equi-join; PQ/SQ8 codes on id — their scan is a full sweep, but re-rank
# and append anti-joins probe by id; ``vectors`` on id, the re-rank lookup
_LSH = indexes.Codec(
    name="embedding_lsh",
    primary_sub="vectors",
    primary_cols=("id", "v"),
    primary=_stored_vectors,
    code_sub="bands",
    artifact_subs=(),
    meta="bands int, rows_per_band int, dim int, seed int",
    cluster={"vectors": ("id",), "bands": ("band", "code")},
    report="",
    # seeded hyperplanes: the codes re-derive from the meta alone
    encode=lambda v, m, payload: _band_codes(
        v, m.bands, m.rows_per_band, m.dim, m.seed
    ),
)
_PQ = indexes.Codec(
    name="pq",
    primary_sub="vectors",
    primary_cols=("id", "v"),
    primary=_stored_vectors,
    code_sub="codes",
    artifact_subs=("codebooks",),
    meta="m int, ks int, seed int, n_built long",
    cluster={"codes": ("id",), "vectors": ("id",)},
    report="pq_",
    fit=lambda stored, m, ks, seed, max_train: train_pq_codebooks(
        stored, vec_col="v", m=m, ks=ks, seed=seed, max_train=max_train
    ),
    write_artifacts=_write_pq_codebooks,
    load=_pq_codebooks_at,
    encode=_pq_encode_rows,
    search=lambda q, corpus, books, codes, k, rerank: pq_topk(
        q, corpus, books, k=k, corpus_codes=codes, rerank=rerank
    ),
)
_SQ8 = indexes.Codec(
    name="sq8",
    primary_sub="vectors",
    primary_cols=("id", "v"),
    primary=_stored_vectors,
    code_sub="codes",
    artifact_subs=("stats",),
    meta="n_built long",
    cluster={"codes": ("id",), "vectors": ("id",)},
    report="sq8_",
    fit=lambda stored: sq8_train_stats(stored, vec_col="v"),
    write_artifacts=_write_sq8_stats,
    load=_sq8_stats_at,
    encode=lambda v, stats, payload: sq8_encode(
        v, *stats, id_col="id", vec_col="v", extra_cols=payload
    ),
    search=lambda q, corpus, stats, codes, k, rerank: sq8_topk(
        q, corpus, k=k, mins=stats[0], scales=stats[1], corpus_codes=codes,
        rerank=rerank,
    ),
)


def sq8_topk_indexed(
    spark,
    queries: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank: int | None = 40,
    where: Column | str | None = None,
) -> DataFrame:
    """Top-k via the PERSISTED SQ8 index — the scan touches ONLY
    ``path/codes`` (the measured 3.7× payload cut); ``path/vectors`` is
    read just for the re-rank candidates. Identical rows to the resident
    :func:`sq8_topk` under the same stats by construction. The active
    root resolves ONCE, so every sub-table read belongs to one committed
    build even while a retrain/compaction runs.

    ``where`` is the vector-DB "filtered search" (FAISS IDSelector, the
    payload filter every serving stack needs): per query, the top-k among
    ONLY the corpus vectors satisfying the predicate over the payload
    columns the index was built with (``build_sq8_index(...,
    payload_cols=...)``). It PRE-filters: the predicate prunes the codes
    scan BEFORE ranking, so the result is exactly the top-k of the
    matching subset, where post-filtering a top-k of the full corpus
    returns fewer than k, or nothing when the filter is selective. The
    payload lives in the codes rows, so the filter is an ordinary
    parquet-pushed predicate on the compressed scan (PushedFilters,
    asserted in tests), never a join back to the source table."""
    return _topk_indexed(
        _SQ8, spark, queries, path, id_col, vec_col, k, rerank, where
    )


def _probe_cells(
    spark, q: DataFrame, ivf_root: str, nprobe: int, carry_qv: bool = False
):
    """(probed, cells, q_rows) for a (query_id, qv) frame against a
    resolved IVF root: ``probed`` is the per-query top-``nprobe``
    (query_id, cell) frame, ``cells`` the distinct probed-cell list for
    static partition pruning, ``q_rows`` the collected (query_id, qv)
    pairs in first-seen order — so consumers that need the query vectors
    downstream (LUT build, dequantized scoring, exact re-rank) re-create
    them as LOCAL frames instead of re-executing and re-broadcasting the
    query scan (one fewer broadcast-build job each, r14). Shared by every
    IVF-composed search (IVF-PQ, IVF-SQ8) so the inverted-list semantics
    cannot drift.

    The ranking runs ONE job: ``q.coalesce(1)`` makes the pre-window
    partitioning SinglePartition, which already satisfies the window's
    ClusteredDistribution(query_id) — no Exchange, so AQE has no shuffle
    stage to materialize (this was 3 driver jobs per probe: the
    pre-exchange stage, the shuffle materialization, the final collect —
    r14 job attribution). Single-partition ranking is in-contract:
    ``probed`` is n_queries × nprobe rows, bounded by the same contract
    that lets every downstream consumer ``F.broadcast(probed)`` into the
    candidate join (and the centroid side is a broadcast already), so the
    ranking input is the FAISS coarse-quantizer class — the small
    all-in-memory matmul every IVF serving stack runs on one node.
    Per-row expressions and the (cent_sim desc, cell asc) total order are
    unchanged, so the probed set is bit-identical to the exchanged plan's."""
    sel = _rank_cells(
        q.coalesce(1), read_pinned(spark, f"{ivf_root}/centroids"), nprobe
    )
    rows = sel.collect()
    # (query_id, qv, cell) with ``carry_qv`` — the shape ivf_topk_indexed
    # broadcasts into its full-vector in-cell scoring join
    cols = ("query_id", "qv", "cell") if carry_qv else ("query_id", "cell")
    probed = arrow_frame(
        spark,
        [tuple(r[c] for c in cols) for r in rows],
        T.StructType([sel.schema[c] for c in cols]),
    )
    cells = sorted({r["cell"] for r in rows})
    seen: set = set()
    q_rows = []
    for r in rows:
        if r["query_id"] not in seen:
            seen.add(r["query_id"])
            q_rows.append((r["query_id"], r["qv"]))
    return probed, cells, q_rows


def _cell_candidates(
    spark, probed: DataFrame, cells, coarse_root: str, codes_root: str,
    cc_root: str | None,
    where: Column | str | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, codes) candidates restricted PER QUERY to
    its probed cells — the FAISS inverted-list candidate stage shared by
    every IVF-composed search here (IVF-PQ, IVF-SQ8, the cell-pruned
    hard-negative miner): one definition so the paths cannot drift.
    With ``cc_root`` it reads the materialized cell-codes posting —
    static PartitionFilters on the probed ``cell=`` partitions of the
    compressed codes (``cells`` is exactly the probed set, so the scan
    reads no cell that no query probes; the broadcast ``probed`` side is
    a local frame, from which Spark plans no runtime DPP), no per-id
    hash join; without, the two-index
    path — cell-pruned (neighbor_id, cell) from the coarse corpus, codes
    hash-joined on id.

    ``where`` composes ATTRIBUTE PRE-FILTERING with the cell pruning
    (the full 100 TB filtered-search shape: PartitionFilters on ``cell=``
    × parquet-pushed payload predicate on the compressed codes): it
    evaluates over the payload columns the codes index was built with
    (``build_sq8_index/build_pq_index(payload_cols=...)`` — carried into
    the cell-codes posting by ``build_ivfpq_cell_codes`` automatically),
    and candidates are restricted BEFORE ranking, never post-filtered.
    A predicate against a payload-less index raises with build guidance."""
    pred = F.expr(where) if isinstance(where, str) else where

    def _require_payload(df: DataFrame, root: str) -> None:
        extra = [c for c in df.columns if c not in ("id", "codes", "cell")]
        if pred is not None and not extra:
            raise ValueError(
                f"filtered composed search: the codes at {root!r} store no "
                "payload columns — build the codes index with "
                "payload_cols=[...] (and rebuild the cell-codes layout) "
                "so the filter can prune the scan"
            )

    if cc_root is not None:
        posting = read_pinned(spark, f"{cc_root}/codes")
        _require_payload(posting, cc_root)
        posting = posting.filter(F.col("cell").isin(cells))
        if pred is not None:
            posting = posting.filter(pred)
        return (
            F.broadcast(probed)
            .join(posting.withColumnRenamed("id", "neighbor_id"), "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", "codes")
        )
    cand = (
        F.broadcast(probed)
        .join(
            read_pinned(spark, f"{coarse_root}/corpus")
            .filter(F.col("cell").isin(cells))
            .select("neighbor_id", "cell"),
            "cell",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    codes = read_pinned(spark, f"{codes_root}/codes")
    _require_payload(codes, codes_root)
    if pred is not None:
        codes = codes.filter(pred)
    return cand.join(
        codes.select("id", "codes").withColumnRenamed("id", "neighbor_id"),
        "neighbor_id",
    )


def _composed_candidates(
    codec: indexes.Codec,
    spark,
    queries: DataFrame,
    ivf_index_path: str,
    codes_index_path: str,
    id_col: str,
    vec_col: str,
    nprobe: int,
    cell_codes_path: str | None,
    cell_codes_verified: bool = False,
    where: Column | str | None = None,
):
    """The coarse stage every IVF-composed search shares (IVF-PQ, IVF-SQ8
    and the IVF-SQ8 hard-negative miner), written once so their
    inverted-list semantics cannot drift:

    - both roots resolve ONCE, so the probe serves one committed build of
      each index;
    - the cell-codes staleness gate (:func:`_cell_codes_stale`, the
      qualified-root + source-count contract) runs BEFORE the eager probe
      pays compute and raises loudly on a superseded layout;
      ``cell_codes_verified`` skips it, for a caller that has already
      verified the layout against these same resolved roots in this
      application and keys that verification on corpus state (the
      registry's _composed_roots cache);
    - the codec artifact (PQ codebooks / SQ8 stats) loads from the same
      resolved codes root (memoized per root, :func:`artifact_memo`);
    - :func:`_probe_cells` ranks the cells and :func:`_cell_candidates`
      restricts candidates PER QUERY to them, ``where`` pre-filtering on
      the codes' payload columns.

    Returns (codes root, artifact, (query_id, qv) frame, its collected
    rows, (query_id, neighbor_id, codes) candidates)."""
    ivf_root = index_root(spark, ivf_index_path)
    root = index_root(spark, codes_index_path)
    cc_root = None
    if cell_codes_path is not None:
        cc_root = index_root(spark, cell_codes_path)
        if not cell_codes_verified:
            reason = _cell_codes_stale(spark, cc_root, ivf_root, root)
            if reason is not None:
                raise ValueError(
                    f"ivf{codec.name} cell-codes layout is STALE ({reason}) — "
                    f"rebuild with build_ivfpq_cell_codes(ivf, {codec.name}, path)"
                )
    artifact = codec.artifact(spark, root)
    q = _id_vec(queries, id_col, vec_col)
    probed, cells, q_rows = _probe_cells(spark, q, ivf_root, nprobe)
    cand = _cell_candidates(spark, probed, cells, ivf_root, root, cc_root, where)
    return root, artifact, q, q_rows, cand


def ivfpq_topk_indexed(
    spark,
    queries: DataFrame,
    ivf_index_path: str,
    pq_index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    rerank: int | None = 40,
    cell_codes_path: str | None = None,
    cell_codes_verified: bool = False,
    where: Column | str | None = None,
) -> DataFrame:
    """FAISS IVF-PQ composed over the two persisted indexes as a
    first-class search (previously only a test recipe): rank centroids
    per query, take each query's ``nprobe`` cells, read ONLY those cell
    partitions of the IVF corpus — ids and cell alone, the vectors stay
    untouched — ADC-score just those candidates through the PQ codes
    under the stored codebooks, and exact-re-rank the top ``rerank``
    from the PQ vectors table. Candidate restriction is PER QUERY (the
    probed (query, cell) frame joins the cell-pruned corpus on cell), so
    a vector outside a query's own probed cells can never reach its
    ranking — the semantics the FAISS inverted-list layout gives.

    Scale shape: centroid ranking is a broadcast of n_cells rows; the
    corpus read carries PartitionFilters on the probed ``cell=`` set and
    prunes to two columns; ADC scoring joins the candidate ids against
    the 25×-compressed codes table (hash join on id — the codes scan is
    bounded by the already-compressed table); the exact re-rank touches
    full vectors for ``rerank`` rows per query only. Both roots resolve
    ONCE, so the probe serves one committed build of each index.
    Requires the two indexes to cover the same corpus (the ingest loop
    maintains both from the same batch stream).

    ``cell_codes_path`` (optional): a materialized
    :func:`build_ivfpq_cell_codes` layout — PQ codes partitioned by IVF
    cell, the literal FAISS inverted-list-with-codes file shape. With it
    the probe reads ONLY the probed ``cell=`` partitions of the codes
    (PartitionFilters on the 25×-compressed table — nprobe/cells of the
    already-small scan) and skips the IVF corpus read and the id hash
    join entirely: one broadcast join from (query, cell) straight onto
    the per-cell posting lists. Fails loudly when the layout was built
    from roots other than the CURRENT committed roots of the two source
    indexes (an append/retrain superseded it) — rebuild and retry;
    results are row-identical to the two-index path either way.

    Warm-path escape hatch (default OFF — the cold probe stays the
    honest, self-contained serving call): ``cell_codes_verified`` (see
    :func:`_composed_candidates`). ``where`` pre-filters candidates on
    the codes' payload columns BEFORE ADC ranking
    (:func:`_cell_candidates`)."""
    root, books, q, q_rows, cand = _composed_candidates(
        _PQ, spark, queries, ivf_index_path, pq_index_path, id_col, vec_col,
        nprobe, cell_codes_path, cell_codes_verified, where,
    )
    return _refine(_pq_scored(q, cand, books, q_rows), root, k, rerank)


def build_ivfpq_cell_codes(
    spark, ivf_index_path: str, pq_index_path: str, path: str
) -> dict[str, int]:
    """Materialize the FAISS inverted-list-with-codes layout: a codes
    table re-written hive-partitioned by IVF cell, so the composed search
    reads nprobe/cells of the compressed codes with PartitionFilters and
    needs neither the IVF corpus read nor the per-id hash join.

    Codes-GENERIC despite the parameter name: any index whose active root
    holds ``codes`` as (id, codes) rows composes — pass a PQ index for
    :func:`ivfpq_topk_indexed` (25× payload cut) or an SQ8 index for
    :func:`ivfsq8_topk_indexed` (near-exact in-cell ranking at ~4×).

    DERIVED data, not a third index: ``meta`` records the two source
    roots it was built from (stored QUALIFIED, so relative/absolute/
    trailing-slash spellings of one location compare equal) AND the two
    source row counts — retrains flip a root, but APPENDS land in the
    same root, so the counts are what catch an appended-after-build
    source. The probe refuses a stale layout loudly, and the maintenance
    story is rebuild-on-supersede (cheap — one join over the compressed
    codes) rather than a third append lifecycle that could drift out of
    sync with its sources. Rebuilds land through the shared
    versioned-swap protocol (candidate dir + single marker-file commit),
    so probes mid-rebuild serve the previous generation and an
    uncommitted build is invisible."""
    ivf_root = index_root(spark, ivf_index_path)
    pq_root = index_root(spark, pq_index_path)
    root, new_v = index_next_root(spark, path)
    codes = read_pinned(spark, f"{pq_root}/codes")
    cells = read_pinned(spark, f"{ivf_root}/corpus").select(
        F.col("neighbor_id").alias("id"), "cell"
    )
    # snapshot the source counts BEFORE the posting write, from the SAME
    # DataFrames the posting join consumes (their file listings were
    # pinned at read creation): counting the live roots after the write
    # would let an append landing in that window be recorded in meta yet
    # absent from the posting — _cell_codes_stale would then report the
    # layout current while it silently misses rows
    n_ivf, n_pq = cells.count(), codes.count()
    posting = codes.join(cells, "id")
    # STATIC overwrite for the same reason as the IVF corpus tree: a
    # rebuild must replace every cell directory, including ones that
    # receive no rows this time
    posting.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("cell").parquet(f"{root}/codes")
    n = read_pinned(spark, f"{root}/codes").count()
    arrow_frame(
        spark,
        [
            (
                qualified_path(spark, ivf_root),
                qualified_path(spark, pq_root),
                n_ivf,
                n_pq,
            )
        ],
        "ivf_root string, pq_root string, n_ivf long, n_pq long",
    ).write.mode("overwrite").parquet(f"{root}/meta")
    finish_index_build(spark, path, new_v)
    return {"n_codes": n}


def _cell_codes_stale(spark, cc_root: str, ivf_root: str, pq_root: str) -> str | None:
    """Reason string when the cell-codes layout at ``cc_root`` no longer
    reflects the CURRENT state of its two source indexes, else None.
    Shared by the probe (loud failure) and
    :func:`ivfpq_cell_codes_current` (the owner's rebuild trigger), so
    the two can never disagree. Two checks: qualified root equality
    (catches retrains/compactions — they flip version roots) and source
    row counts vs the counts stored at build time (catches APPENDS, which
    write into the same root without a flip). The counts are
    parquet-footer metadata reads — no data scan."""
    meta = read_pinned(spark, f"{cc_root}/meta").collect()[0]
    q_ivf = qualified_path(spark, ivf_root)
    q_pq = qualified_path(spark, pq_root)
    if meta.ivf_root != q_ivf or meta.pq_root != q_pq:
        return (
            f"built from roots {meta.ivf_root!r}/{meta.pq_root!r}, current "
            f"are {q_ivf!r}/{q_pq!r} — a retrain/compaction superseded a "
            "source index"
        )
    n_ivf = read_pinned(spark, f"{ivf_root}/corpus").count()
    n_pq = read_pinned(spark, f"{pq_root}/codes").count()
    if n_ivf != meta.n_ivf or n_pq != meta.n_pq:
        return (
            f"source row counts moved since the build (ivf corpus "
            f"{meta.n_ivf} -> {n_ivf}, pq codes {meta.n_pq} -> {n_pq}) — "
            "an append landed after the layout was materialized"
        )
    return None


def ivfpq_cell_codes_current(
    spark, path: str, ivf_index_path: str, pq_index_path: str
) -> bool:
    """True when the materialized cell-codes layout at ``path`` reflects
    the CURRENT state of both source indexes — the owner's rebuild
    trigger (the ``*_retrain_due`` analogue for derived layouts). Shares
    :func:`_cell_codes_stale` with the probe: qualified root equality
    catches retrains, stored-vs-live source row counts catch appends. A
    path with no committed layout is not current. Metadata-only (meta
    row + pointer listings + parquet footer counts)."""
    return index_has(spark, path, "meta") and (
        _cell_codes_stale(
            spark,
            index_root(spark, path),
            index_root(spark, ivf_index_path),
            index_root(spark, pq_index_path),
        )
        is None
    )


def refresh_ivf_cell_codes(
    spark, path: str, ivf_index_path: str, codes_index_path: str
) -> bool:
    """Keep the cell-codes layout at ``path`` current: rebuild it from
    the IVF index and the codes index (PQ or SQ8) unless
    :func:`ivfpq_cell_codes_current` reports it current. True when it
    rebuilt. A no-op while either source has no committed version (there
    is nothing to derive from yet). The one maintenance decision for
    this derived layout: the ingest loop's post-run slot, the erasure
    and the registry's composed probes all call it, so a no-op refresh
    costs only the metadata currency check everywhere."""
    if index_active_version(spark, ivf_index_path) is None or (
        index_active_version(spark, codes_index_path) is None
    ):
        return False
    if ivfpq_cell_codes_current(spark, path, ivf_index_path, codes_index_path):
        return False
    build_ivfpq_cell_codes(spark, ivf_index_path, codes_index_path, path)
    return True

def ivfsq8_topk_indexed(
    spark,
    queries: DataFrame,
    ivf_index_path: str,
    sq8_index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    rerank: int | None = 40,
    cell_codes_path: str | None = None,
    cell_codes_verified: bool = False,
    where: Column | str | None = None,
) -> DataFrame:
    """FAISS IVF+SQ8 composed over the two persisted indexes — the
    standard billion-scale serving config (FAISS's ``IVF<n>,SQ8``): cell
    pruning bounds the scan to nprobe/cells of the corpus, SQ8's per-dim
    error ≤ scale/2 keeps ranking near-exact WITHIN the probed cells, so
    recall tracks the IVF probe itself with a ~4× smaller byte sweep than
    raw vectors — where IVF-PQ trades more recall for a deeper (25×)
    payload cut. The coarse stage, the staleness gate, the warm-path
    escape hatch and ``where`` are :func:`_composed_candidates`' (the
    :func:`build_ivfpq_cell_codes` layout is codes-generic: both PQ and
    SQ8 store ``codes`` as (id, codes)); the re-rank reads the SQ8
    vectors table."""
    root, stats, q, q_rows, cand = _composed_candidates(
        _SQ8, spark, queries, ivf_index_path, sq8_index_path, id_col, vec_col,
        nprobe, cell_codes_path, cell_codes_verified, where,
    )
    return _refine(_sq8_scored(q, cand, stats, q_rows), root, k, rerank)


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    lo: float = 0.25,
    hi: float = 0.45,
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/Contriever
    recipe): per query, the top-k corpus vectors whose cosine lies in
    ``[lo, hi)`` — similar enough that the model must work to separate
    them, below the near-duplicate/positive threshold so no true positive
    leaks into the negative set (set ``hi`` to the corpus's dedup
    threshold; pairs at or above it are :func:`neardup_pairs_lsh`'s
    business, not a training negative).

    Same shape and conventions as :func:`brute_force_topk` (broadcast
    queries × corpus scan, per-query window top-k, ranks only in the
    output — similarity values differ in final ulps across engines): this
    is the exact, oracle-able baseline; at 100 TB mine from ANN
    candidates instead (any ``*_topk_indexed`` family with k large enough
    to reach past the positives, then this band filter) — the same
    exact-vs-indexed pairing every similarity query here follows.

    The band FILTER compares the cosine ROUNDED to 9 digits (tfidf's
    engine-stability rule): raw doubles differ in final ulps across
    engines, so a sim within an ulp of ``lo``/``hi`` would flip band
    membership — and therefore ranks — between Spark and a replaying
    oracle. Rounding moves the decision to a grid independent of the
    band constants; oracles must apply the same ``round(sim, 9)``."""
    c = _id_vec(corpus, id_col, vec_col, "neighbor_id", "cv")
    scored = _pairs(_id_vec(queries, id_col, vec_col), c).withColumn(
        "sim", cosine(F.col("qv"), F.col("cv"))
    )
    return _topk_by_sim(scored.filter(_in_band(F.col("sim"), lo, hi)), k)


def hard_negative_topk_indexed(
    spark,
    queries: DataFrame,
    sq8_index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    lo: float = 0.25,
    hi: float = 0.45,
    band_slack: float | None = None,
) -> DataFrame:
    """Hard-negative mining through the persisted SQ8 index — the 100 TB
    path :func:`hard_negative_topk`'s docstring names. Two stages:

    - approximate: the scan touches ONLY the smallint codes (the measured
      3.7× payload cut); asymmetric dequantized cosine is band-filtered
      with the slack widened on BOTH edges (SQ8's per-dim error is
      bounded by scale/2, so a true band member's ADC sim sits within a
      corpus-dependent slack of its exact value — the slack is what keeps
      edge-of-band negatives from being silently lost to quantization).
      ``band_slack=None`` (default) DERIVES the slack per row from the
      stored scales: ``2 * sq8_error_norm(scales) / ||r||``, the rigorous
      cosine-perturbation bound — a fixed constant cannot promise this
      (one wide-range dimension inflates the scales past any constant;
      tests/test_llm.py plants such a corpus where 0.05 loses true band
      members). Pass a float to pin a fixed slack instead. Candidates are
      then capped at the top 200 per query so the exact side stays
      bounded no matter how wide the (slacked) band is in the corpus;
    - exact: full vectors are read for those ≤200 rows per query
      only, the band re-applied on round(cosine, 9)
      (:func:`hard_negative_topk`'s engine-stability rule), ranked with
      the shared deterministic tie-break.

    Equals the brute-force miner whenever 200 rows cover the slacked
    band (pinned on the planted fixture in tests/test_llm.py); at 100 TB
    compose the approximate stage with IVF cell pruning exactly as
    :func:`ivfsq8_topk_indexed` does for top-k search."""
    root = index_root(spark, sq8_index_path)
    stats = _sq8_stats_at(spark, root)
    cand = read_pinned(spark, f"{root}/codes").select(
        F.col("id").alias("neighbor_id"), "codes"
    )
    band = (lo, hi, band_slack)
    scored = _sq8_scored(_id_vec(queries, id_col, vec_col), cand, stats, band=band)
    return _refine(scored, root, k, 200, band)


def hard_negative_topk_ivfsq8(
    spark,
    queries: DataFrame,
    ivf_index_path: str,
    sq8_index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    lo: float = 0.25,
    hi: float = 0.45,
    nprobe: int = 4,
    scan_k: int = 200,
    cell_codes_path: str | None = None,
) -> DataFrame:
    """Hard-negative mining fully composed with the IVF inverted lists —
    the sweep a 100 TB contrastive-data job actually runs: candidates come
    from :func:`_cell_candidates` (the SAME cell-pruned stage every
    IVF-composed search here uses — PartitionFilters + DPP on the probed
    ``cell=`` partitions of the compressed SQ8 codes when a cell-codes
    layout is given), ADC sims band-filter with slack-widened edges (the
    rigorous per-row bound derived from the stored scales —
    :func:`sq8_error_norm`) and cap at ``scan_k`` per query, full vectors
    verify the band exactly (round(sim, 9)). Mining recall is bounded by
    cell recall like any IVF search — band members in unprobed cells are
    unreachable by design (raise ``nprobe`` to trade scan for coverage; the
    exact miner :func:`hard_negative_topk` and the full-scan
    :func:`hard_negative_topk_indexed` are the recall ceilings, pinned
    relative to this in tests/test_llm.py)."""
    root, stats, q, q_rows, cand = _composed_candidates(
        _SQ8, spark, queries, ivf_index_path, sq8_index_path, id_col, vec_col,
        nprobe, cell_codes_path,
    )
    band = (lo, hi, None)
    return _refine(_sq8_scored(q, cand, stats, q_rows, band), root, k, scan_k, band)


# --------------------------------------------------------------------------
# Deletion — the lifecycle verb the build/append/retrain trio lacked.
# GDPR-style erasure ("forget these vectors") must reach EVERY persisted
# artifact that stores the vector or anything derived from it: the raw
# vectors tables, compressed codes, LSH band rows, IVF cell postings, and
# any derived cell-codes layout. Two shapes, matching the store designs:
#   - anti-join rewrite into a fresh VERSION for the codec families
#     (SQ8/PQ/LSH, :func:`indexes.delete`) — the retrain swap protocol,
#     so probes mid-delete serve the old generation and a crash leaves it
#     active; quantizer stats/codebooks/meta are COPIED, not refit
#     (survivor codes are unchanged — deletion must not re-rank anyone);
#   - partition-pruned copy-on-write for the IVF postings (hive-
#     partitioned by cell): only the cells that CONTAIN doomed ids are
#     rewritten — delete_from_zone's contract, O(touched cells) at 100 TB.
# All deletes are idempotent (anti-joins of absent ids are no-ops) and
# return the number of rows actually removed so callers can audit.
# --------------------------------------------------------------------------


def delete_from_sq8_index(
    spark, path: str, ids: DataFrame, id_col: str = "vec_id"
) -> int:
    """Erase vectors from a persisted SQ8 index (vectors + codes rows;
    stats/meta carried — the stored quantizer is FIXED on delete exactly
    as it is on append, so survivor codes and every probe ranking are
    unchanged). Versioned atomic swap; idempotent; returns rows removed."""
    return indexes.delete(_SQ8, spark, path, ids, id_col)


def delete_from_pq_index(
    spark, path: str, ids: DataFrame, id_col: str = "vec_id"
) -> int:
    """Erase vectors from a persisted PQ index (vectors + codes; stored
    codebooks/meta carried — survivor codes unchanged). Versioned swap;
    idempotent; returns rows removed."""
    return indexes.delete(_PQ, spark, path, ids, id_col)


def delete_from_embedding_lsh_index(
    spark, path: str, ids: DataFrame, id_col: str = "vec_id"
) -> int:
    """Erase vectors from a persisted hyperplane-LSH index (vectors + all
    band rows; meta carried — the seeded hyperplanes are id-independent).
    Versioned swap; idempotent; returns vector rows removed."""
    return indexes.delete(_LSH, spark, path, ids, id_col)


def delete_from_ivf_index(
    spark, path: str, ids: DataFrame, id_col: str = "vec_id"
) -> int:
    """Erase vectors from a persisted IVF index — the partition-pruned
    shape: one ids-only column scan locates the cells holding doomed ids
    (bounded: |ids| rows out), then ONLY those ``cell=`` partitions are
    rewritten copy-on-write (``delete_from_zone`` — emptied cells'
    directories dropped explicitly, so a probe can never resurface a
    fully-erased cell). Centroids and the build histogram are untouched:
    deletion shrinks cells, and :func:`ivf_index_drift` measures GROWTH
    against the build baseline, so the retrain trigger stays meaningful.
    In-place and idempotent like the appends (a crash mid-rewrite re-runs
    to the same state); returns rows removed."""
    from aws_data_pipeline_spark.sources.parquet import delete_from_zone

    root = index_root(spark, path)
    doomed = ids.select(F.col(id_col).alias("__del_id")).distinct()  # AQE sizes the join
    located = (
        read_pinned(spark, f"{root}/corpus")
        .select("neighbor_id", "cell")  # ids-only read: column pruning
        .join(doomed, F.col("neighbor_id") == F.col("__del_id"), "left_semi")
        .localCheckpoint(eager=True)  # rewrite target is also this scan's src
    )
    n_deleted = located.count()
    if n_deleted == 0:
        return 0
    delete_from_zone(
        spark,
        f"{root}/corpus",
        located,
        key_cols=["neighbor_id"],
        partition_cols=["cell"],
    )
    return n_deleted


# --------------------------------------------------------------------------
# MMR — Maximal Marginal Relevance diversified re-ranking (Carbonell &
# Goldstein 1998), the serving-side complement of the ANN families: a
# retrieval stack that returns the k NEAREST neighbors of a query often
# returns k paraphrases of one passage; MMR re-ranks a bounded candidate
# set so each pick balances query relevance against redundancy with what
# is already picked. greedy: pick argmax over remaining candidates of
#   lambda * sim(q, d)  -  (1 - lambda) * max over selected s of sim(d, s)
# --------------------------------------------------------------------------


def mmr_rerank(
    spark,
    queries: DataFrame,
    candidates: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    lambda_: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversified top-k: greedy MMR over each query's candidate set.

    ``candidates`` is any ANN family's output — (query_id, neighbor_id[,
    rank]) with ranks deeper than the final ``k`` (the usual recipe: ANN
    at ``scan_k`` ≈ 3-10×k, MMR down to k) — so this composes behind
    :func:`brute_force_topk` or every ``*_topk_indexed``, filtered or
    not, unchanged. Output: (query_id, neighbor_id,
    mmr_rank) with mmr_rank 1..k in pick order.

    Scale shape: vectors join in by id (broadcast queries, candidate-
    sliver semi-join on the corpus — never a corpus scan beyond the id
    join), then ONE ``applyInPandas`` over query_id groups runs the
    greedy loop — each group is the bounded candidate set (scan_k rows),
    the documented Python-unavoidable case (a data-dependent sequential
    argmax k deep), Arrow-batched, embarrassingly parallel across
    queries. Cosines snap to 9 dp before comparisons with id-ascending
    tie-breaks, so results are partitioning- and engine-independent;
    ``lambda_ = 1`` reduces exactly to similarity ranking (pytest-pinned).
    """
    import numpy as np
    import pandas as pd

    q = F.broadcast(_id_vec(queries, id_col, vec_col))
    cv = _id_vec(corpus, id_col, vec_col, "neighbor_id", "cv")
    cand = (
        candidates.select("query_id", "neighbor_id")
        .join(cv, "neighbor_id")  # candidate sliver only
        .join(q, "query_id")
    )
    lam = float(lambda_)
    kk = int(k)

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["neighbor_id"].to_numpy()
        order = np.argsort(ids)  # id-ascending base order for tie-breaks
        ids = ids[order]
        m = np.stack(pdf["cv"].to_numpy()[order])
        qv = np.asarray(pdf["qv"].iloc[0])
        mn = np.linalg.norm(m, axis=1) * np.linalg.norm(qv)
        qsim = np.round(np.divide(m @ qv, mn, out=np.zeros(len(ids)), where=mn != 0), 9)
        nrm = np.linalg.norm(m, axis=1)
        denom = np.outer(nrm, nrm)
        psim = np.round(
            np.divide(m @ m.T, denom, out=np.zeros_like(denom), where=denom != 0), 9
        )
        selected: list[int] = []
        red = np.full(len(ids), -np.inf)  # max sim to the selected set
        remaining = np.ones(len(ids), dtype=bool)
        while remaining.any() and len(selected) < kk:
            score = np.where(
                np.isinf(red), lam * qsim, lam * qsim - (1 - lam) * red
            )
            score = np.where(remaining, np.round(score, 9), -np.inf)
            j = int(np.argmax(score))  # argmax takes the FIRST max: min id
            selected.append(j)
            remaining[j] = False
            red = np.maximum(red, psim[:, j])
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "neighbor_id": ids[selected],
                "mmr_rank": np.arange(1, len(selected) + 1, dtype=np.int32),
            }
        )

    return cand.groupBy("query_id").applyInPandas(
        pick, schema="query_id long, neighbor_id long, mmr_rank int"
    )


def retrieval_metrics(
    results: DataFrame,
    truth: DataFrame,
    k: int,
) -> DataFrame:
    """Retrieval-quality metrics per query — the evaluation harness for
    any ANN family against an exact baseline: ``results`` and ``truth``
    are both (query_id, neighbor_id, rank) frames (any ``*_topk`` output
    here), and the output is one row per query —
    (query_id, hits, recall_at_k, mrr) where ``hits`` counts result
    neighbors present in the truth top-``k``, ``recall_at_k`` =
    hits / min(k, |truth_k|), and ``mrr`` is the reciprocal of the best
    (lowest) result rank holding a true top-``k`` neighbor (0.0 when
    none do — the convention that keeps the column total-ordered).

    ``ndcg`` is the binary-gain NDCG@k: DCG sums ``1/log2(rank+1)`` over
    hit positions, IDCG over the ideal prefix ``1..min(k, |truth_k|)``.

    Determinism (oracle contract): counts are exact; recall is one
    int/int division; mrr is 1/rank of an exact integer; each NDCG
    discount snaps to 9-dp UNITS (``round(1e9/log2(p+1))`` as int) and
    the two sums run in exact integer arithmetic, so no float-sum order
    ever enters the output — every emitted value is a single
    exactly-rounded IEEE op over exact integers, and the frame
    value-hashes cross-engine. Scale shape: one equi-join on
    (query_id, neighbor_id) + one grouped aggregate — evaluation costs
    no more than the search it grades."""

    def _units(p: Column) -> Column:
        return F.round(F.lit(1e9) / F.log2(p.cast("double") + F.lit(1.0))).cast(
            "long"
        )

    t = truth.filter(F.col("rank") <= k).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    tsize = t.groupBy("query_id").agg(F.count("*").alias("__tk"))
    r = results.filter(F.col("rank") <= k).select(
        "query_id", "neighbor_id", "rank"
    )
    joined = (
        r.join(t, ["query_id", "neighbor_id"], "left")
        .na.fill({"__hit": 0})
        .groupBy("query_id")
        .agg(
            F.sum("__hit").cast("long").alias("hits"),
            F.min(F.when(F.col("__hit") == 1, F.col("rank"))).alias("__best"),
            F.sum(
                F.when(F.col("__hit") == 1, _units(F.col("rank"))).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("__dcg_u"),
        )
    )
    ideal = F.aggregate(
        F.sequence(F.lit(1), F.least(F.lit(k), F.col("__tk"))),
        F.lit(0).cast("long"),
        lambda acc, p: acc + _units(p),
    )
    return (
        joined.join(tsize, "query_id")
        .select(
            "query_id",
            "hits",
            (
                F.col("hits").cast("double")
                / F.least(F.lit(k), F.col("__tk")).cast("double")
            ).alias("recall_at_k"),
            F.coalesce(
                F.lit(1.0) / F.col("__best").cast("double"), F.lit(0.0)
            ).alias("mrr"),
            (
                F.col("__dcg_u").cast("double") / ideal.cast("double")
            ).alias("ndcg"),
        )
    )
