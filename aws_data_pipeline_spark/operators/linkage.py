"""Cross-table fuzzy linkage (record linkage / provenance attribution).

The dedup estate answers "which rows of THIS table are near-copies of
each other"; linkage answers the cross-table question a training-data
pipeline keeps hitting: WHICH corpus document did this snippet come from
(eval-set provenance, quote attribution, takedown-request matching), or
which record in table B is the same entity as this record in table A.
Same blocking discipline as every candidate generator here — candidates
come from an inverted-index EQUI-join on shared shingles, never an
all-pairs comparison — but asymmetric: the two sides are different
frames with different id spaces, and the output is the best corpus
match(es) per query row rather than a symmetric pair list.

Scale shape: explode both sides to (id, xxhash64(shingle)) — 8-byte
hashes in the shuffle, not shingle strings — one equi-join on the
shingle hash for intersections, per-side distinct-shingle counts from
narrow projections, one top-k window per query id. The hot-shingle cap
(same semantics as ``dedup.jaccard_pairs``: over-cap shingles leave BOTH
the intersection and the union universe, so capped scores stay honest
Jaccards over the kept universe) bounds the worst posting list, so a
boilerplate shingle shared by a million corpus docs costs one anti-join
row instead of an O(n) pair expansion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators import widen_narrow_input
from aws_data_pipeline_spark.operators.text import shingles, tokens


def _side_index(
    df: DataFrame, id_col: str, text_col: str, k: int, out_id: str
) -> DataFrame:
    """(out_id, shingle-hash) inverted index, one row per distinct shingle
    per row, under a caller-named id."""
    return (
        widen_narrow_input(df)
        .withColumn("__t", tokens(F.col(text_col)))
        .select(
            F.col(id_col).alias(out_id),
            F.explode(shingles(F.col("__t"), k)).alias("__sh"),
        )
        .select(out_id, F.xxhash64("__sh").alias("__sh"))
    )


def fuzzy_link(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    text_col: str = "text",
    k: int = 3,
    top: int = 1,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Best-matching corpus rows per query row by exact k-token-shingle
    Jaccard, candidates from the shared-shingle inverted index.

    Returns (query_id, corpus_id, rank, jaccard): for each query row, the
    ``top`` corpus rows sharing a kept shingle, ranked by Jaccard
    descending with the corpus id as tie-break. The Jaccard is exact over
    the KEPT shingle universe: a shingle held by more than ``max_bucket``
    corpus rows is boilerplate (it carries no linkage signal, exactly the
    dedup.jaccard_pairs stance) and is excluded from both sides'
    intersection AND union counts — so capped scores remain true Jaccards
    of the reduced universe rather than deflated ones. Query rows with no
    shared kept shingle are absent from the output (no match evidence,
    not a zero-score match). The score itself is one int/int division —
    exactly rounded IEEE, so ranks are reproducible cross-engine without
    snapping (the ngram_jaccard_pairs precedent).

    Self-linkage note: when ``queries`` is derived from ``corpus`` (a
    snippet excerpted from a document), the source document shares every
    snippet shingle it contains and ranks at or near the top — provenance
    attribution is this operator applied to (snippets, corpus).
    """
    jac = _scored_pairs(queries, corpus, query_id, corpus_id, text_col,
                        k, max_bucket)
    w = Window.partitionBy("__qid").orderBy(
        F.col("jaccard").desc(), F.col("__cid").asc()
    )
    return (
        jac.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "rank",
            "jaccard",
        )
    )


def _scored_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    text_col: str,
    k: int,
    max_bucket: int | None,
) -> DataFrame:
    """(__qid, __cid, jaccard) for every candidate pair sharing a kept
    shingle — the shared core of :func:`fuzzy_link` (per-query top-k) and
    :func:`mutual_best_match` (one-to-one), which rank the SAME symmetric
    scores in one and two directions respectively."""
    # the exploded indexes are deliberately NOT cached despite multiple
    # consumers: an index is ~k tokens per input token — materializing it
    # costs more than recomputing the tokenize+explode inside each
    # consumer's codegen stage (interleaved same-session A/B at sf0.1,
    # 4 reps: cached 2.9-3.3 s vs uncached 2.4-3.2 s, uncached ahead
    # every rep). dedup.jaccard_pairs caches its POST-aggregation
    # buckets, which are small; the only analogous small frame here is
    # the hot-postings cap below.
    q_idx = _side_index(queries, query_id, text_col, k, "__qid")
    c_idx = _side_index(corpus, corpus_id, text_col, k, "__cid")
    if max_bucket is not None:
        # cached: the hot frame is tiny (over-cap postings only) but its
        # derivation groups the FULL corpus index — uncached, the two
        # anti-joins each replay that grouping, and the plan tree
        # replicates it four times end-to-end (the jaccard_pairs bucket
        # cache applied to the asymmetric case; the raw exploded indexes
        # stay uncached per the measurement below)
        hot = (
            c_idx.groupBy("__sh")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("__sh")
            .cache()
        )
        # the hot frame is the handful of over-cap postings — AQE sizes
        # these anti-joins (broadcast in practice); both universes shrink
        # by the same shingles, keeping the Jaccard honest
        c_idx = c_idx.join(hot, "__sh", "left_anti")
        q_idx = q_idx.join(hot, "__sh", "left_anti")
    nq = q_idx.groupBy("__qid").agg(F.count("*").alias("__nq"))
    nc = c_idx.groupBy("__cid").agg(F.count("*").alias("__nc"))
    inter = (
        q_idx.join(c_idx, "__sh")
        .groupBy("__qid", "__cid")
        .agg(F.count("*").alias("__i"))
    )
    return inter.join(nq, "__qid").join(nc, "__cid").select(
        "__qid",
        "__cid",
        (
            F.col("__i")
            / (F.col("__nq") + F.col("__nc") - F.col("__i")).cast("double")
        ).alias("jaccard"),
    )


def mutual_best_match(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    text_col: str = "text",
    k: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """ONE-TO-ONE entity resolution: the pairs where each side is the
    other's single best match — A's top corpus row is B AND B's top query
    row is A (ties broken by the opposite id, both directions). The
    symmetric-Jaccard pair frame is computed ONCE; the two directions are
    two windows over it, so mutuality costs one extra shuffle, not a
    second linkage pass.

    Mutual-best is the standard high-precision decision rule for record
    linkage (each output row consumes both its endpoints, so the result
    is a partial matching by construction — no greedy global assignment
    loop, no iteration): rows that are merely *somebody's* best but not
    mutually so (a duplicate-rich corpus where three queries all point at
    one record) drop out instead of producing many-to-one merges.
    Unmatched rows on either side are absent — no-match is no evidence,
    the fuzzy_link stance. Output: (query_id, corpus_id, jaccard).
    """
    jac = _scored_pairs(
        queries, corpus, query_id, corpus_id, text_col, k, max_bucket
    )
    wq = Window.partitionBy("__qid").orderBy(
        F.col("jaccard").desc(), F.col("__cid").asc()
    )
    wc = Window.partitionBy("__cid").orderBy(
        F.col("jaccard").desc(), F.col("__qid").asc()
    )
    return (
        jac.withColumn("__rq", F.row_number().over(wq))
        .withColumn("__rc", F.row_number().over(wc))
        .filter((F.col("__rq") == 1) & (F.col("__rc") == 1))
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "jaccard",
        )
    )


def golden_records(
    df: DataFrame,
    entity_col: str,
    id_col: str,
    rules: dict[str, tuple[str, "F.Column"]],
) -> DataFrame:
    """Survivorship: collapse each entity's record cluster to ONE golden
    record, attribute by attribute — the step after matching
    (:func:`mutual_best_match` / near-dup clustering) in every MDM
    pipeline: linkage says which records are the same real-world thing,
    survivorship says which VALUES the merged thing keeps.

    ``rules`` maps an output column to ``(value_col, criterion)``: the
    surviving value is the one from the record MAXIMIZING the criterion
    column expression, ties broken deterministically toward the LOWEST
    ``id_col`` (so re-running on any partitioning reproduces the same
    golden record — the registry's determinism contract). Each rule is
    one ``max(struct(criterion, -id, value))`` aggregate: all rules fold
    in a SINGLE grouped pass over the records (no per-rule window, no
    join chain — at 100 TB the record frame shuffles once, period).
    Output: ``entity_col``, ``n_records``, one column per rule.
    """
    aggs = [F.count("*").alias("n_records")]
    for out, (value, crit) in rules.items():
        aggs.append(
            F.max(
                F.struct(
                    crit.alias("c"),
                    (-F.col(id_col)).alias("t"),
                    F.col(value).alias("v"),
                )
            )["v"].alias(out)
        )
    return df.groupBy(entity_col).agg(*aggs)
