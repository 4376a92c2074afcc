"""LLM training-data curation pipeline: the north-star operators composed
end-to-end (documents -> [optional markup strip] -> quality gate
[+ optional Gopher hard rules] ->
language gate -> exact dedup -> fuzzy dedup [+ optional duplicated-span
gate, + optional SemDeDup over an embeddings frame] -> [optional T=2
mixture resampling] -> deterministic
split [optionally cluster-keyed over the related-document graph, so
related-but-not-duplicate docs never straddle train/test] -> curated
zone).

This is the medallion pattern applied to corpus prep: raw documents are the
bronze, the curated/split zone is the silver a trainer consumes. Order of
stages is the 100 TB order: cheap row-local filters (quality, language)
first so the expensive pairwise stages (dedup) see the smallest candidate
set; exact dedup before fuzzy so the fuzzy stage never wastes candidates on
bit-identical copies.

Every stage is a pure DataFrame->DataFrame function from operators/ — the
pipeline only sequences them, so the same stages serve a foreachBatch
incremental variant unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators import dedup, sampling, similarity, text

# fuzzy dedup: MinHash over 5-shingles, near-duplicate at Jaccard >= 0.8
# (banding derived from the threshold by dedup.choose_minhash_params)
_JACCARD_K = 5
_JACCARD_THRESHOLD = 0.8
_SPLIT_WEIGHTS = {"train": 0.98, "val": 0.01, "test": 0.01}
_SPLIT_SEED = "curation-v1"


@dataclass
class CurationConfig:
    # opt-in stage 0 (the true front of the chain): strip HTML/XML markup
    # from `text` before anything scores or hashes it — a crawl corpus
    # whose quality/length/dedup signals are computed over tag soup gates
    # and dedups the MARKUP, not the content. Rewrites text (and refreshes
    # n_chars). False = stage disabled (the test corpora are already plain).
    strip_markup: bool = False
    min_quality: float = 0.5
    # opt-in hard-rule gate (text.gopher_quality_flags) layered on the
    # continuous score gate — off by default so existing chains are unchanged
    use_gopher_rules: bool = False
    # shingle/split hash family: "xxhash64" (JVM-side, the hot path) or
    # "md5" (engine-portable — lets an external oracle replay the WHOLE
    # pipeline including fuzzy-dedup candidates and split membership)
    hash_fn: str = "xxhash64"
    # opt-in SemDeDup stage: needs an embeddings frame passed to curate();
    # None = stage disabled
    semantic_threshold: float | None = None
    embedding_id_col: str = "vec_id"
    embedding_col: str = "embedding"
    # opt-in mixture resampling stage between dedup and split: execute the
    # T=2 temperature mix by deterministic hash acceptance (downweights the
    # dominant (source, lang) slice); None = stage disabled
    mixture_seed: str | None = None
    # opt-in duplicated-span gate (Lee et al. 2021 §4): after dedup, drop
    # documents whose corpus-duplicated token fraction exceeds this cap.
    # Near-dup dedup keeps ONE copy of each duplicate class; this stage
    # is what removes a document that is MOSTLY assembled from k-grams
    # duplicated across the corpus without being a near-dup of any single
    # other document. None = stage disabled.
    max_dup_span_frac: float | None = None
    span_k: int = 8
    # opt-in SURGICAL span action (Lee et al. 2021 §4's remove, vs the
    # gate's drop): instead of (or after) dropping span-heavy documents,
    # excise the duplicated spans from every surviving document and keep
    # the novel remainder — text is REWRITTEN (and n_chars refreshed).
    # Composes with the gate: gate first drops mostly-duplicated docs,
    # then scrubbing cleans what remains. False = stage disabled.
    scrub_dup_spans: bool = False
    # opt-in leakage-guard split: key the train/val/test hash on RELATED-
    # document clusters at this Jaccard threshold instead of per-document.
    # Set BELOW the 0.8 dedup threshold: duplicates above it are already collapsed
    # to one survivor by dedup, so the residual leakage risk is the
    # related-but-not-duplicate band (e.g. 0.5-0.8) — paraphrases and
    # overlapping revisions that would contaminate eval if they straddled
    # splits. None = plain per-document hash split.
    leakage_threshold: float | None = None


def curate(
    docs: DataFrame,
    cfg: CurationConfig | None = None,
    embeddings: DataFrame | None = None,
) -> DataFrame:
    """Run the full curation chain; returns the curated frame with
    ``quality_score`` and ``split`` columns, duplicates removed.

    Dedup policy: survivors are the min doc_id of each duplicate class —
    exact classes come from the content digest; fuzzy classes are the
    CONNECTED COMPONENTS of the MinHash-LSH verified pair graph at Jaccard
    0.8 (transitive closure; each cluster keeps its min doc_id). The split
    is 0.98/0.01/0.01 train/val/test. Deterministic end-to-end: same input
    -> same survivors -> same split assignment, regardless of partitioning.
    """
    cfg = cfg or CurationConfig()

    # 0. optional markup strip FIRST: every downstream signal (quality
    # score, language id, shingles, digests) must see content, not tags.
    # Row-local regexp chain — rides the scan, no shuffle.
    if cfg.strip_markup:
        docs = (
            text.strip_markup(docs, text_col="text", out_col="__clean")
            .withColumn("text", F.col("__clean"))
            .withColumn("n_chars", F.length("text"))
            .drop("__clean")
        )

    # 1-2. row-local gates (no shuffle; predicates push into the scan)
    scored = text.quality_score(docs)
    kept = scored.filter(F.col("quality_score") >= cfg.min_quality)
    if cfg.use_gopher_rules:
        # hard-rule gate rides the same scan (still row-local, no shuffle);
        # the diagnostic columns are dropped — downstream stages only need
        # the surviving rows
        gated = text.gopher_quality_flags(kept)
        kept = gated.filter(F.col("passes_gopher")).select(*kept.columns)

    # 3. exact dedup: keep the canonical (min-id) doc per digest
    exact = dedup.exact_dedup(kept, "doc_id")
    kept = exact.filter(~F.col("is_duplicate")).drop(
        "text_hash", "canonical_doc_id", "is_duplicate"
    )

    # 4. fuzzy dedup: connected components over the verified near-dup pairs,
    # keep only each cluster's canonical (component-min doc_id). Transitive:
    # pairs (1,5),(2,5) collapse 1~2~5 into ONE survivor — the
    # drop-every-doc2 policy would wrongly keep both 1 and 2.
    num_perm, bands = dedup.choose_minhash_params(_JACCARD_THRESHOLD)
    pairs = dedup.minhash_lsh_pairs(
        kept,
        "doc_id",
        k=_JACCARD_K,
        num_perm=num_perm,
        bands=bands,
        threshold=_JACCARD_THRESHOLD,
        hash_fn=cfg.hash_fn,
    )
    labels = dedup.connected_components(pairs)
    losers = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    # no broadcast hint: the loser set is O(near-duplicates in the corpus),
    # unbounded at 100 TB — AQE picks broadcast only while it actually fits
    kept = kept.join(losers, "doc_id", "left_anti")

    # 4a. optional duplicated-span gate over the post-dedup survivors:
    # per-doc corpus-duplicated token fraction via duplicate_span_stats,
    # docs above the cap dropped. Runs AFTER fuzzy dedup so surviving
    # canonical copies define "duplicated" — a unique doc quoting them
    # heavily is the thing this gate exists to catch.
    if cfg.max_dup_span_frac is not None:
        stats = dedup.duplicate_span_stats(kept, "doc_id", k=cfg.span_k)
        heavy = stats.filter(
            F.col("dup_frac") > cfg.max_dup_span_frac
        ).select("doc_id")
        kept = kept.join(heavy, "doc_id", "left_anti")

    # 4a'. optional surgical scrub: rewrite survivors with their
    # duplicated spans excised (spans re-detected over the CURRENT
    # survivor set — post-gate, so scrubbing never resurrects a dropped
    # doc's spans as "duplicated")
    if cfg.scrub_dup_spans:
        cleaned = dedup.remove_duplicate_spans(
            kept, "doc_id", k=cfg.span_k
        ).select("doc_id", F.col("cleaned_text"))
        kept = (
            kept.join(cleaned, "doc_id")
            .withColumn("text", F.col("cleaned_text"))
            .withColumn("n_chars", F.length("text"))
            .drop("cleaned_text")
        )

    # 4b. optional SemDeDup stage: greedy lowest-id semantic-duplicate marks
    # over the embedding space of the SURVIVORS ONLY — the semi-join prune
    # comes first so (a) already-removed docs can't mark a survivor and
    # (b) the LSH pair generator sees the post-dedup corpus, not the raw one
    if cfg.semantic_threshold is not None and embeddings is None:
        # a configured stage that silently no-ops would ship semantic
        # near-dups the config explicitly asked to remove — fail loudly
        raise ValueError(
            "semantic_threshold is set but no embeddings frame was passed"
        )
    if cfg.semantic_threshold is not None and embeddings is not None:
        surv_vecs = embeddings.join(
            kept.select(F.col("doc_id").alias(cfg.embedding_id_col)),
            cfg.embedding_id_col,
            "left_semi",
        )
        marks = similarity.semantic_dedup_flags(
            surv_vecs,
            id_col=cfg.embedding_id_col,
            vec_col=cfg.embedding_col,
            threshold=cfg.semantic_threshold,
        )
        sem_losers = marks.filter(F.col("is_semdup")).select(
            F.col(cfg.embedding_id_col).alias("doc_id")
        )
        kept = kept.join(sem_losers, "doc_id", "left_anti")

    # 4c. optional mixture resampling: realize the T=2 temperature weights
    # over the SURVIVING corpus (post-dedup, so duplicate mass can't skew
    # the slice token counts the weights derive from)
    if cfg.mixture_seed is not None:
        chosen = sampling.mixture_resample(
            kept, seed=cfg.mixture_seed, hash_fn=cfg.hash_fn
        ).select("doc_id")
        kept = kept.join(chosen, "doc_id", "left_semi")

    # 5. deterministic split assignment — per-document hash, or cluster-
    # keyed over the related-document graph when the leakage guard is on
    if cfg.leakage_threshold is not None:
        # banding re-derived for the LOWER threshold: reusing the 0.8-
        # threshold curve at 0.5 would catch the related band this stage
        # exists for with ~20% recall, silently
        rel_perm, rel_bands = dedup.choose_minhash_params(cfg.leakage_threshold)
        rel_pairs = dedup.minhash_lsh_pairs(
            kept,
            "doc_id",
            k=_JACCARD_K,
            num_perm=rel_perm,
            bands=rel_bands,
            threshold=cfg.leakage_threshold,
            hash_fn=cfg.hash_fn,
        )
        assigned = sampling.leakage_safe_split(
            kept,
            rel_pairs,
            _SPLIT_WEIGHTS,
            seed=_SPLIT_SEED,
            hash_fn=cfg.hash_fn,
        )
        return kept.join(
            assigned.select("doc_id", "split"), "doc_id"
        )
    return sampling.hash_split(
        kept, "doc_id", _SPLIT_WEIGHTS, seed=_SPLIT_SEED, hash_fn=cfg.hash_fn
    )


def write_curated(df: DataFrame, path: str) -> None:
    """Curated zone layout: partitioned by split so trainers read
    ``.../split=train/`` with partition pruning and nothing else.

    STATIC overwrite, overriding the session's dynamic default: a re-run
    must replace the WHOLE curated tree — under dynamic mode a run whose
    corpus hash-lands nothing in some split (an empty test split is
    likely at 0.98/0.01/0.01 on a small corpus) would leave the PREVIOUS
    corpus's directory for that split in place, and trainers would read a
    train set from one corpus version against a test set from another —
    silent train/test contamination."""
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("split").parquet(path)
