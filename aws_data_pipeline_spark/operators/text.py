"""Text-analysis operators for LLM-data pipelines (north-star surface).

All JVM-side Column expressions (split/filter/transform/aggregate higher-order
functions) — zero Python in the hot path, so these run at parquet-scan speed
on 100 TB of documents.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators import lit_array, widen_narrow_input

# Small per-language stopword profiles for the language-ID heuristic.
# (Real profiles would be larger; the mechanism — per-language token-match
# scoring + argmax — is what the operator demonstrates.)
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is", "fast", "slow"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "fr": ("le", "la", "et", "est", "un", "une", "pas", "avec"),
    "es": ("el", "la", "y", "es", "un", "una", "no", "con"),
}

STOPWORDS = LANG_PROFILES["en"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization, lowercased."""
    return F.split(F.lower(text), " ")


def shingles(toks: Column, k: int = 5) -> Column:
    """Positional k-token shingles joined with spaces; distinct set.

    ``transform(sequence(...))`` over the token array — no explode until the
    caller wants one row per shingle, so the scan stays narrow.
    """
    raw = F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
    )
    return F.when(F.size(toks) >= k, F.array_distinct(raw)).otherwise(
        F.array().cast("array<string>")
    )


def window_hashes(toks: Column, k: int) -> Column:
    """xxhash64 of every length-k token window of ``toks``, IN POSITION
    ORDER (repeats kept); empty when there are fewer than k tokens. Span
    detection needs every occurrence and its position; set similarity
    takes the distinct values (:func:`hashed_shingles`)."""
    raw = F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: F.xxhash64(F.slice(toks, i + 1, k)),
    )
    return F.when(F.size(toks) >= k, raw).otherwise(F.array().cast("array<bigint>"))


def hashed_shingles(toks: Column, k: int = 5) -> Column:
    """Distinct xxhash64 fingerprints of the k-token shingles — the scale
    variant of :func:`shingles`: no joined-string materialization, fixed
    8-byte values for shuffles/joins/broadcasts."""
    return F.array_distinct(window_hashes(toks, k))


def stopword_count(toks: Column, words: tuple[str, ...] = STOPWORDS) -> Column:
    lit_arr = lit_array(words, "string")
    return F.size(F.filter(toks, lambda x: F.array_contains(lit_arr, x)))


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, and a BPE-ish
    subtoken count (alpha runs / digit runs / single symbols)."""
    t = tokens(F.col(text_col))
    subtok = F.regexp_extract_all(
        F.col(text_col), F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), 0
    )
    return df.withColumns(
        {
            "n_tokens": F.size(t),
            "n_distinct_tokens": F.size(F.array_distinct(t)),
            "n_subtokens": F.size(subtok),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document-quality scoring: length, stopword ratio, mean token
    length, alpha ratio -> [0,1] composite. Deterministic double arithmetic
    (identical expression tree on the oracle side)."""
    t = tokens(F.col(text_col))
    n_chars = F.length(F.col(text_col))
    n_toks = F.size(t)
    # lowercase BEFORE stripping non-alpha (the tokens()/stopword side
    # already lowercases): without it, upper/mixed-case documents counted
    # zero alpha chars and scored as symbol soup
    alpha_chars = F.length(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]", "")
    )
    sw = stopword_count(t)
    # try_divide guards NULL text (size(NULL)=NULL under ANSI) against a
    # whole-job DIVIDE_BY_ZERO. NOTE the empty-STRING document is NOT the
    # null path: split('', ' ') yields [''], so text='' counts as one
    # empty token (n_tokens=1, ratios 0.0, near-zero score) — scored as
    # worthless rather than excluded, which every quality gate treats the
    # same way; stated here because the single-space split is the pinned
    # cross-engine tokenization spec
    mean_tok_len = F.try_divide(alpha_chars, n_toks)
    return df.withColumns(
        {
            "n_tokens": n_toks,
            "stopword_ratio": F.try_divide(sw, n_toks),
            "alpha_ratio": F.try_divide(alpha_chars, n_chars),
            "mean_token_len": mean_tok_len,
            "quality_score": (
                F.least(F.lit(1.0), n_toks / F.lit(100.0)) * 0.4
                + F.try_divide(sw, n_toks) * 0.3
                + F.least(F.lit(1.0), mean_tok_len / F.lit(8.0)) * 0.3
            ),
        }
    )


GOPHER_STOPWORD_TYPES = ("the", "a", "and", "of", "to")


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style rule-based document quality gates (Rae et al. 2021,
    "Scaling Language Models" §A1.1, public), adapted to single-line text:
    per-document boolean flags plus the AND-composite ``passes_gopher``.
    Complements :func:`quality_score` (a continuous composite) with the
    hard-rule filter family production corpus curation actually ships.

    Rules (each an independent column, so downstream can re-weigh), at
    the published thresholds:
    - ``flag_word_count``: whitespace word count within [30, 100,000];
    - ``flag_mean_word_len``: mean word length within [3, 10] — kills
      both symbol soup (short) and unsegmented junk (long);
    - ``flag_stopwords``: at least 2 DISTINCT common stopwords present
      (Gopher's "2 of 5 common words" natural-language evidence rule);
    - ``flag_repetition``: distinct-word fraction at least 0.3 (the
      single-line stand-in for Gopher's duplicate-line fractions);
    - ``flag_symbol_ratio``: non-[a-z0-9 space] character fraction at
      most 0.1 (ellipsis/hash-ratio family).

    Scale shape: pure JVM Column expressions over one scan — no shuffle,
    no UDF; ratios are exact-int divisions (bit-identical IEEE doubles in
    any engine), so the flags are engine-portable and oracle-hashable.
    """
    t = tokens(F.col(text_col))
    n_words = F.size(t)
    n_chars = F.length(F.col(text_col))
    lower = F.lower(F.col(text_col))
    symbol_chars = n_chars - F.length(F.regexp_replace(lower, "[^a-z0-9 ]", ""))
    sum_word_len = F.aggregate(
        t, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    mean_word_len = F.try_divide(sum_word_len, n_words)
    # distinct tokens first, so the existing membership counter counts
    # stopword TYPES (Gopher's rule), not occurrences
    n_stop_types = stopword_count(F.array_distinct(t), GOPHER_STOPWORD_TYPES)
    unique_ratio = F.try_divide(F.size(F.array_distinct(t)), n_words)
    symbol_ratio = F.try_divide(symbol_chars, n_chars)
    flags = {
        "flag_word_count": (n_words >= 30) & (n_words <= 100_000),
        "flag_mean_word_len": (mean_word_len >= 3.0) & (mean_word_len <= 10.0),
        "flag_stopwords": n_stop_types >= 2,
        "flag_repetition": unique_ratio >= 0.3,
        "flag_symbol_ratio": symbol_ratio <= 0.1,
    }
    out = df.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": mean_word_len,
            "n_stopword_types": n_stop_types,
            "unique_word_ratio": unique_ratio,
            "symbol_ratio": symbol_ratio,
            **flags,
        }
    )
    passes = flags["flag_word_count"]
    for name in list(flags)[1:]:
        passes = passes & flags[name]
    return out.withColumn("passes_gopher", passes)


def tfidf_top_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Per-document top-k characteristic terms by TF-IDF
    (tf * ln(n_docs / df)) — SURVEY §7 step 6's text-analysis item.

    Shape: one shuffle for per-doc term frequencies, one for document
    frequencies (the vocab-sized df table joins back on token — broadcast
    while it fits, shuffle join beyond), the corpus count rides in as a
    broadcast one-row aggregate (no driver action), then a per-doc window
    top-k. Output carries RANKS only, ordered on tfidf rounded to 9 digits
    (ln is not correctly rounded, so raw doubles can differ in final ulps
    across engines) with the exact integer pair (tf desc, df asc) then the
    token breaking remaining ties. The rounding shrinks the cross-engine
    divergence window from "any ulp gap" to "an ulp gap straddling an
    exact x.5e-9 rounding boundary" — vanishingly rare but not impossible
    (engines also round differently AT the boundary); a fully
    engine-independent ordering would need an exact integer comparison
    key, which tf*ln(N/df) does not admit.
    """
    from pyspark.sql import Window

    toks = widen_narrow_input(df).select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = df.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("tfidf"), 9).desc(),
        F.col("tf").desc(),
        F.col("df").asc(),
        F.col("token").asc(),
    )
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf", F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "rank")
    )


def quality_median_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    approx: bool = False,
) -> DataFrame:
    """Corpus-relative quality gate: keep documents whose quality score is at
    or above the corpus median — the relative-threshold curation step that
    absolute cutoffs can't express (half of ANY corpus survives, regardless
    of its score distribution).

    Shape: the scored frame is consumed TWICE (the median aggregate's
    action plus the filter pass), so it is persisted for the duration —
    without the cache both passes would rescan the source and re-derive
    every score expression. The single median row broadcasts back as the
    filter threshold — the corpus itself never shuffles. ``approx=True``
    swaps the exact ``percentile`` aggregate for ``approx_percentile``
    (t-digest): exact percentile buffers per-group values and is the
    documented small-SF / oracle-parity path, the sketch is the 100 TB
    path. Per-doc output rows (no float aggregation), so results are
    order-independent. (The persist is deliberately not unpersisted here:
    the returned frame still reads it; Spark evicts LRU — same trade as
    unigram_logprob's token frame.)
    """
    scored = quality_score(df, text_col).persist()
    fn = "approx_percentile" if approx else "percentile"
    med = scored.agg(F.expr(f"{fn}(quality_score, 0.5)").alias("med_score"))
    return (
        scored.crossJoin(F.broadcast(med))
        .filter(F.col("quality_score") >= F.col("med_score"))
        .select(id_col, "quality_score")
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/stopword-profile language ID: score each language by profile
    token matches, argmax with a deterministic tie-break on language code.

    (The synthetic corpus draws from one vocabulary for every ``lang`` label,
    so this demonstrates the mechanism, not label recovery.)
    """
    t = tokens(F.col(text_col))
    scored = F.array(
        *[
            F.struct(
                stopword_count(t, words).alias("score"),
                F.lit(code).alias("code"),
            )
            for code, words in sorted(LANG_PROFILES.items())
        ]
    )
    # argmax: entries with the max score, alphabetically first code on ties
    max_score = F.array_max(F.transform(scored, lambda s: s["score"]))
    best_code = F.array_min(
        F.transform(
            F.filter(scored, lambda s: s["score"] == max_score),
            lambda s: s["code"],
        )
    )
    return df.withColumns({"lang_score": max_score, "predicted_lang": best_code})


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 over the sorted distinct token set —
    order-insensitive, whitespace-normalized document identity."""
    t = tokens(F.col(text_col))
    return df.withColumn(
        "fingerprint",
        F.md5(F.array_join(F.array_sort(F.array_distinct(t)), "|")),
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any n-token
    gram with a held-out benchmark/eval set (the GPT-3/Dolma-style
    contamination check; the reference pipeline has no text ops at all).

    Scale posture: the benchmark side is an eval suite — tiny relative to a
    100 TB corpus — so its distinct n-gram set is collected map-side and
    BROADCAST; the training corpus explodes its (per-doc distinct) n-grams
    once, probes the broadcast hash set, and aggregates hits per doc. No
    corpus-sized shuffle except the per-doc hit count.
    """
    # explode_outer keeps docs shorter than n tokens (null gram -> no match
    # -> zero hits), so ONE groupBy on the doc id is the only shuffle; the
    # broadcast left join marks benchmark grams at the probe. Grams are
    # xxhash64 of the token slice — no per-gram string materialization, and
    # 8-byte join/shuffle keys instead of ~50-byte strings (a 64-bit
    # collision between a corpus gram and a DIFFERENT benchmark gram is
    # ~1e-8 at billions of grams — the standard trade in decontamination
    # pipelines). Token arrays materialize in their own projection: a split()
    # referenced inside the HOF lambda re-evaluates per element (O(L^2)).
    t = F.col("__t")
    train_grams = (
        widen_narrow_input(train)
        .withColumn("__t", tokens(F.col(text_col)))
        .select(F.col(id_col), F.explode_outer(hashed_shingles(t, n)).alias("ng"))
    )
    bench_grams = (
        bench.withColumn("__t", tokens(F.col(text_col)))
        .select(F.explode(hashed_shingles(t, n)).alias("ng"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    hits = F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
    return (
        train_grams.join(F.broadcast(bench_grams), "ng", "left")
        .groupBy(id_col)
        .agg(
            hits.cast("long").alias("n_shared_ngrams"),
            (hits > 0).alias("contaminated"),
        )
    )


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality signals, all in one narrow pass:
    duplicate-token fraction (1 - distinct/total) and top-bigram fraction
    (count of the most frequent bigram / total bigrams). Everything is
    higher-order Column functions over the token array — per-row, no
    shuffle, no UDF, so it runs at scan speed on 100 TB.
    """
    # Token array materializes in its own projection — a split() referenced
    # inside the bigram HOF lambda would re-evaluate per element (O(L^2)).
    df = df.withColumn("__t", tokens(F.col(text_col)))
    t = F.col("__t")
    bigrams = F.expr(
        "transform(sequence(1, greatest(size(__t) - 1, 0)),"
        " i -> concat_ws(' ', slice(__t, i, 2)))"
    )
    # Most-frequent-bigram count without exploding: sort the bigram list and
    # fold a (prev, run, best) state over it — O(L log L) per doc, so it
    # stays safe for pathologically long documents (the naive
    # count-each-distinct scan is O(L^2)).
    top_bigram_count = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    n_tok = F.size(t)
    return df.select(
        id_col,
        n_tok.cast("long").alias("n_tokens"),
        F.when(n_tok > 0, 1.0 - F.size(F.array_distinct(t)).cast("double") / n_tok)
        .otherwise(F.lit(0.0))
        .alias("dup_token_fraction"),
        F.when(
            n_tok > 1,
            top_bigram_count.cast("double") / (n_tok - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_fraction"),
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Perplexity-style fluency scoring (the CCNet filter family): score
    every document by its average negative log-probability under a unigram
    LM fitted on the corpus itself (add-1 smoothing over the observed
    vocabulary). High ``avg_neg_logprob`` = rare-token-heavy documents —
    the perplexity tail a production pipeline inspects or drops. (CCNet
    fits the LM on a trusted external corpus; the estimator here is
    corpus-self, and swapping the count table for an external one is the
    same plan.)

    Determinism: token counts and totals are exact ints, the smoothed
    probability is one correctly-rounded division, and each token's
    -ln(p) rounds to exact 9-dp integer units so the per-doc sum is
    order-independent; the two final divisions (unit rescale, then token
    normalize) are mirrored verbatim in the oracle.

    Rows with NULL text produce no tokens and are absent from the output
    (the DuckDB twin's unnest agrees) — score joins must left-join and
    decide a policy for unscored docs.

    Scale shape: one token explode feeds both the count table (vocab-sized
    aggregate) and the per-doc fold; the logprob table joins back on the
    token with no broadcast hint — vocab is data-dependent (AQE
    broadcasts while it fits, shuffle-joins beyond), the tfidf df-table
    rule. Shuffles carry (token, count) and (doc, unit-sum) rows only.
    """
    # feeds the count table AND the per-doc fold; MEMORY_AND_DISK with LRU
    # eviction, same per-call trade as shingle_sets (one materialized token
    # column vs two tokenization passes)
    toks = widen_narrow_input(df).select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).persist()
    cnt = toks.groupBy("tok").agg(F.count("*").alias("c"))
    tot = cnt.agg(
        F.sum("c").alias("n_corpus"), F.count("*").alias("v_vocab")
    )
    lp = cnt.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(
            -F.log((F.col("c") + F.lit(1)) / (F.col("n_corpus") + F.col("v_vocab")))
            * F.lit(1e9)
        )
        .cast("long")
        .alias("u"),
    )
    return (
        toks.join(lp, "tok")
        .groupBy(F.col("doc").alias(id_col))
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.sum("u").cast("double") / F.lit(1e9) / F.count("*")
            ).alias("avg_neg_logprob"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated bigram LM fluency scoring — the n-gram step up from
    :func:`unigram_logprob` (the CCNet family uses a 5-gram KenLM; the
    estimator mechanics are identical at any order):

        p(w2 | w1) = 0.75 * c(w1,w2)/c_left(w1)
                     + 0.25 * (c(w2)+1)/(N+V)

    ML bigram probability interpolated with the add-1 unigram — the
    unigram floor keeps p > 0, and because the fit is corpus-self every
    scored bigram is observed (c >= 1, c_left >= 1), so no unseen-event
    branch exists to diverge on. Documents with < 2 tokens have no
    transitions and are absent from the output.

    Determinism: all counts are exact ints; the probability is two
    correctly-rounded divisions combined with exact-constant multiplies
    and one add — the identical expression tree on the oracle side — and
    each transition's -ln(p) rounds to 9-dp integer units so the per-doc
    sum is order-independent (the unigram_logprob posture).

    Scale shape: one bigram explode feeds the bigram/left-count tables and
    the per-doc fold; probability tables join back on (w1, w2) with no
    broadcast hint (bigram vocab is data-dependent — AQE decides).
    Shuffles carry (w1, w2, count) and (doc, unit-sum) rows only.
    """
    # materialize the token array in its OWN projection before the
    # transform lambda references it: a closure-captured tokens() would
    # re-split the full text per sequence element (O(L^2) per row — the
    # hazard this file documents at repetition_stats/decontaminate)
    t = F.col("__t")
    pair = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("w1"),
                F.element_at(t, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    wide = widen_narrow_input(df)
    # feeds the two count tables AND the per-doc fold (same trade as
    # unigram_logprob's token frame)
    bg = (
        wide.select(
            F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("__t")
        )
        .select("doc", F.explode(pair).alias("b"))
        .select("doc", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .persist()
    )
    uni = wide.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count("*").alias("cu"))
    utot = ucnt.agg(F.sum("cu").alias("n_corpus"), F.count("*").alias("v_vocab"))
    bcnt = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    lcnt = bg.groupBy("w1").agg(F.count("*").alias("cl"))
    p = F.lit(0.75) * (F.col("c") / F.col("cl")) + F.lit(0.25) * (
        (F.col("cu") + F.lit(1)) / (F.col("n_corpus") + F.col("v_vocab"))
    )
    lp = (
        bcnt.join(lcnt, "w1")
        .join(ucnt, F.col("w2") == F.col("tok"))
        .crossJoin(F.broadcast(utot))
        .select(
            "w1",
            "w2",
            F.round(-F.log(p) * F.lit(1e9)).cast("long").alias("u"),
        )
    )
    return (
        bg.join(lp, ["w1", "w2"])
        .groupBy(F.col("doc").alias(id_col))
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                F.sum("u").cast("double") / F.lit(1e9) / F.count("*")
            ).alias("avg_neg_logprob"),
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 relevance (k1 = 1.2, b = 0.75) of every document to a fixed
    term query (Robertson/Sparck Jones; the retrieval scorer behind
    quality-by-retrieval curation and contamination triage — the reference
    pipeline has no text ops at all). Returns one row per document
    containing at least one query term: ``(id, n_matched_terms,
    bm25_score)``.

    Scale shape — the whole scorer is MAP-SIDE over the corpus scan: the
    query is a handful of literal terms, so per-term ``tf`` is
    ``size(filter(tokens, t = term))`` on the token array (no explode, no
    per-token shuffle, stays in whole-stage codegen), ``dl`` is
    ``size(tokens)``, and the only aggregation is ONE one-row corpus-stats
    frame (N, Σdl, per-term df) that rides back in as a broadcast
    cross-join. Two corpus scans total (stats, then score); at 100 TB the
    stats frame is the thing to cache — it is query-independent except for
    the df columns, which are per-term scalars.

    Determinism (driver value-hash contract): ``tf``/``dl``/``df``/``N``
    are exact ints; the one ``ln`` (not correctly rounded across libm
    implementations) is snapped to 9-dp integer units before use; every
    remaining step is a correctly-rounded IEEE basic op mirrored in the
    oracle SQL in the same associativity, and the final per-term score is
    snapped to 6-dp units so the row value is an exact (bigint/1e6)
    rational on both engines.
    """
    if not query_terms or len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be non-empty and distinct")
    d = (
        widen_narrow_input(df)
        .where(F.col(text_col).isNotNull())
        .withColumn("__t", tokens(F.col(text_col)))
    )
    d = d.withColumn("__dl", F.size("__t"))

    def _tf(term: str) -> Column:
        # closure via function arg, and a SINGLE-arg lambda: pyspark
        # dispatches HOF lambdas on arity, so a default-arg closure
        # (lambda x, t=term: ...) silently becomes the (element, index)
        # two-arg form and `t` binds to the bigint index
        return F.size(F.filter(F.col("__t"), lambda x: x == F.lit(term)))

    for i, term in enumerate(query_terms):
        d = d.withColumn(f"__tf{i}", _tf(term))
    stats = d.agg(
        F.count("*").alias("__nd"),
        F.sum("__dl").alias("__tot"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(len(query_terms))
        ],
    )
    s = d.crossJoin(F.broadcast(stats))
    nd = F.col("__nd").cast("double")
    avgdl = F.col("__tot").cast("double") / nd
    dl = F.col("__dl").cast("double")
    units = []
    for i in range(len(query_terms)):
        tf = F.col(f"__tf{i}").cast("double")
        dfi = F.col(f"__df{i}").cast("double")
        # idf snapped to 9-dp units: ln is the one non-correctly-rounded op
        idf_u = F.round(
            F.log((nd - dfi + F.lit(0.5)) / (dfi + F.lit(0.5)) + F.lit(1.0))
            * F.lit(1e9)
        ).cast("long")
        idf = idf_u.cast("double") / F.lit(1e9)
        score = (
            (idf * (tf * F.lit(2.2)))
            / (
                tf
                + F.lit(1.2)
                * (F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * (dl / avgdl))
            )
        ) * F.lit(1e6)
        units.append(
            F.when(F.col(f"__tf{i}") > 0, F.round(score).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias(f"__su{i}")
        )
    matched = None
    for i in range(len(query_terms)):
        m = (F.col(f"__tf{i}") > 0).cast("long")
        matched = m if matched is None else matched + m
    total_u = None
    for u in units:
        total_u = u if total_u is None else total_u + u
    return (
        s.where(matched > 0)
        .select(
            F.col(id_col),
            matched.alias("n_matched_terms"),
            (total_u.cast("double") / F.lit(1e6)).alias("bm25_score"),
        )
    )


# Markup stripping (the C4/CCNet "extract text from HTML" curation stage).
# Order matters twice: script/style/comment BLOCKS go before the generic
# tag pattern (their contents must vanish, not just their tags), and
# &amp; unescapes LAST (else "&amp;lt;" would double-unescape to "<"
# instead of the literal "&lt;" the author wrote).
MARKUP_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]*>", " "),
)
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def strip_markup(df: DataFrame, text_col: str = "text", out_col: str = "clean_text") -> DataFrame:
    """Strip HTML/XML markup from a text column — the web-crawl extraction
    stage every corpus-curation chain starts with (C4's "remove markup"
    step). Entirely a chain of JVM ``regexp_replace``/``replace`` column
    expressions: whole-stage codegen inside the scan, zero shuffle, zero
    Python — the correct 100 TB shape for a per-document rewrite.

    Semantics: script/style/comment blocks removed WITH their contents,
    remaining tags become spaces, the six ubiquitous entities unescape
    (single pass, amp last), whitespace runs collapse to one space, ends
    trimmed. Deliberately regex-grade (not an HTML5 parser): lazy block
    matches and ``<[^>]*>`` are the documented approximation, chosen
    because the identical patterns run on any RE2/Java engine — the DuckDB
    oracle replays them verbatim.
    """
    c: Column = F.col(text_col)
    for pat, repl in MARKUP_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    # explicit class, not \s: Java's \s includes \x0B where RE2's does not,
    # so \s+ would diverge between Spark and the DuckDB oracle on exotic input
    c = F.trim(F.regexp_replace(c, "[ \t\r\n\f]+", " "))
    return df.withColumn(out_col, c)


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization (``form``: NFC/NFD/NFKC/NFKD) — the
    canonicalization every tokenizer assumes: visually-identical strings
    with different codepoint sequences ("e"+U+0301 vs U+00E9) must hash,
    dedup, and tokenize identically, so a crawl corpus normalizes before
    any digest or shingle is computed.

    Spark has no built-in normalizer, so this is the sanctioned Python
    path: an Arrow-batched scalar ``pandas_udf`` (vectorized transfer,
    never row-at-a-time) over ``unicodedata.normalize`` — UAX#15 is
    implementation-independent, so the DuckDB oracle's ``nfc_normalize``
    (utf8proc) reproduces the output byte-for-byte (verified by md5 in the
    registered twin)."""

    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: None if x is None else unicodedata.normalize(form, x)
        )

    return df.withColumn(out_col, _norm(F.col(text_col)))


def strip_accents(
    df: DataFrame, text_col: str = "text", out_col: str = "folded_text"
) -> DataFrame:
    """Accent folding — NFD-decompose and drop combining marks (Unicode
    category Mn), the search/match canonicalization that maps "café",
    "café" (decomposed), and "cafe" to one key while leaving
    non-mark letters (Æ, ø, ł) alone. Pairs with
    :func:`normalize_unicode`: NFC canonicalizes representation, this
    folds a linguistic distinction — run it only where matching should
    ignore accents (query-side keys, dedup fingerprints for noisy OCR),
    never as a blanket corpus rewrite.

    Arrow-batched scalar pandas_udf (the sanctioned Python path — Spark
    has no builtin); the DuckDB oracle's ``strip_accents`` (utf8proc)
    reproduces it byte-for-byte, verified on composed, decomposed,
    multi-mark, and non-decomposable inputs."""

    @F.pandas_udf("string")
    def _fold(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: None
            if x is None
            else "".join(
                c
                for c in unicodedata.normalize("NFD", x)
                if unicodedata.category(c) != "Mn"
            )
        )

    return df.withColumn(out_col, _fold(F.col(text_col)))


def collocation_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Corpus collocations by pointwise mutual information: the token
    pairs that co-occur far more than their marginals predict ("new
    york", "machine learning") — the vocabulary-building / phrase-mining
    primitive (word2vec's phrase pass, Church & Hanks 1990):

        pmi(a,b) = ln( p(ab) / (p(a) p(b)) )
                 = ln( ((c_ab / B) / (c_a / N)) / (c_b / N) )

    with c_* exact corpus counts, N total tokens, B total bigrams.
    ``min_count`` drops the low-frequency pairs PMI notoriously inflates
    (a hapax pair has near-maximal PMI by construction); the output is
    the 50 strongest collocations.

    Determinism (oracle contract): every count is an exact long; the
    probability ratio is four correctly-rounded double divisions in a
    FIXED order (mirrored in the SQL twin), and the one ``ln`` snaps to
    9-dp units — the psi/logprob recipe — with (w1, w2) tie-breaks on
    the rank.

    Scale shape: one bigram explode + two grouped counts (the unigram
    frame joins back on each side — vocabulary-sized equi-joins, AQE
    decides the strategy); the two totals broadcast as a 1-row frame;
    the global top-50 is a distributed TakeOrdered, and ranks are
    assigned over the ≤50-row result (the sanctioned tiny-frame
    window class) — never a data-sized single-partition window.
    """
    t = F.col("__t")
    pair = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("w1"),
                F.element_at(t, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    wide = widen_narrow_input(df)
    toks = wide.select(tokens(F.col(text_col)).alias("__t"))
    bg = toks.select(F.explode(pair).alias("b")).select("b.w1", "b.w2")
    uni = toks.select(F.explode(t).alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").alias("cu"))
    # B = total bigram occurrences = a plain row count of the bigram
    # frame (one map-side-combinable agg) — NOT a second data-sized
    # groupBy of the pair frame summed away afterwards
    tot = ucnt.agg(F.sum("cu").alias("n")).crossJoin(
        bg.agg(F.count("*").alias("b"))
    )
    bcnt = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    # the fixed IEEE sequence, mirrored verbatim in the oracle:
    # ((c/B) / (cu1/N)) / (cu2/N), then the 9-dp ln snap
    ratio = (
        (F.col("c") / F.col("b")) / (F.col("cu1") / F.col("n"))
    ) / (F.col("cu2") / F.col("n"))
    scored = (
        bcnt.filter(F.col("c") >= min_count)
        .join(ucnt.select(F.col("w").alias("w1"), F.col("cu").alias("cu1")), "w1")
        .join(ucnt.select(F.col("w").alias("w2"), F.col("cu").alias("cu2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c").alias("n_ab"),
            (F.round(F.log(ratio) * F.lit(1e9)).cast("long").cast("double")
             / F.lit(1e9)).alias("pmi"),
        )
    )
    from pyspark.sql import Window

    head = scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(50)
    w = Window.orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
    return head.withColumn("rank", F.row_number().over(w).cast("int"))


def tfidf_shingle_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    threshold: float = 0.5,
    df_cap: int | None = 256,
) -> DataFrame:
    """WEIGHTED near-duplicate pairs: cosine similarity over tf-idf
    vectors in k-token-shingle space — the sparse-vector sibling of
    ``ngram_jaccard`` (which weighs every shingle equally) and of the
    dense ``embedding_neardup`` path. A shared RARE shingle moves the
    score far more than a shared boilerplate one, which is exactly the
    near-dup semantics curation wants (DIMSUM / RowMatrix
    columnSimilarities territory, re-expressed as the exact inverted-
    index form). Output: ``(doc_a, doc_b, n_shared, cosine)`` for pairs
    at or above ``threshold``, ids ascending within the pair.

    PRECONDITION: ``id_col`` is unique per input row (one row per
    document, the contract the DuckDB oracle assumes). Term frequencies
    are counted inside each row, so two rows sharing an id are not
    merged: each keeps its own tf vector, which distorts the norms and
    cosines and can emit ``doc_a == doc_b`` pairs. Pre-aggregate
    duplicate ids (e.g. concatenate their texts) before calling.

    Scale shape (the ``jaccard_pairs`` inverted-index idiom): the
    postings index is built ONCE — (doc, xxhash64(shingle), tf) with the
    8-byte hash replacing the ~4-word string in every shuffle — grouped
    by shingle into per-shingle buckets, and ordered pairs expand
    in-place with a nested HOF, so pairs only materialize where a
    shingle is shared (never a cartesian) and the index is never
    self-joined (the naive postings-self-join shape shuffles the index
    twice more and re-runs the tokenize+explode chain per consumer).
    ``df_cap`` drops buckets whose document frequency exceeds it from
    the feature universe FIRST (the minhash hot-shingle precedent):
    pair expansion is then bounded by df_cap² per bucket, and the cosine
    is exact over the KEPT universe on both engines (the cap is part of
    the metric's definition, mirrored in the oracle, not an
    approximation of an uncapped score). The doc-count denominator comes
    from a narrow scan of the input (docs with ≥1 shingle), never from
    the exploded index. Everything before the final division is exact
    integer arithmetic: idf is snapped to 9-dp units (ln is the one
    non-correctly-rounded op), weights are bigint units (tf x idf_u),
    norms and dots accumulate unit products in decimal(38,0) — order-
    independent, so partitioning cannot move the result. The one double
    division + sqrt at the end is snapped to 9 dp for the threshold
    compare and 6 dp in the output (the tfidf boundary caveat applies:
    an ulp gap straddling an exact rounding boundary could flip a pair
    — vanishingly rare, documented, not observed). Shingle identity is
    the 64-bit hash (the oracle-accepted ``jaccard_pairs`` precedent:
    a collision would merge two shingles, probability ~n²/2⁶⁴,
    negligible and never observed against the string-keyed oracle).

    The kept-bucket frame is cached because two consumers read it (pair
    expansion + the norm accumulation); the cache lives until the
    session evicts it — same documented lifetime policy as
    ``jaccard_pairs``.
    """
    toks = tokens(F.col(text_col))
    sh_arr = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # per-doc term frequencies computed IN THE ROW (r14, guide §2.3):
    # a document's shingles all live in its own text cell, so (h, tf)
    # is row-local — sort the hashed-shingle array and run-length
    # encode it with HOFs (run ends = positions where the next element
    # differs; tf = distance to the previous run end), then explode the
    # (h, tf) structs directly. The previous explode-then-
    # groupBy(doc, h) shape shuffled the ENTIRE exploded postings index
    # once just to merge duplicates that were never off-row in the
    # first place — at 100 TB that exchange is a full second pass over
    # the index (plan: the tf Exchange is gone; the Generate now emits
    # one row per DISTINCT shingle instead of one per instance). Hash
    # identity, counts, and the bucket frame are unchanged: xxhash64
    # applies to the same shingle strings, and two shingles colliding
    # into one hash merge their runs here exactly as groupBy(h) merged
    # their counts.
    hs = F.sort_array(F.transform(sh_arr, lambda s: F.xxhash64(s)))
    ends = F.filter(
        F.sequence(F.lit(0), F.size(hs) - 1),
        lambda i: (i == F.size(hs) - 1) | (F.get(hs, i + 1) != F.get(hs, i)),
    )
    rle = F.zip_with(
        ends,
        F.concat(F.array(F.lit(-1)), F.slice(ends, 1, F.size(ends) - 1)),
        lambda e, p: F.struct(
            F.get(hs, e).alias("h"), (e - p).cast("long").alias("tf")
        ),
    )
    tf = (
        widen_narrow_input(df)
        .where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.when(F.size(hs) > 0, rle).otherwise(
                    F.array().cast("array<struct<h:bigint,tf:bigint>>")
                )
            ).alias("p"),
        )
        .select("doc", F.col("p.h").alias("h"), F.col("p.tf").alias("tf"))
    )
    # denominator from a NARROW scan (docs contributing ≥1 shingle) — the
    # exploded index never feeds a count
    n = (
        widen_narrow_input(df)
        .where(F.col(text_col).isNotNull() & (F.size(toks) >= k))
        .agg(F.countDistinct(F.col(id_col)).alias("n_docs"))
    )
    buckets = tf.groupBy("h").agg(
        F.sort_array(F.collect_list(F.struct("doc", "tf"))).alias("ps")
    )
    if df_cap is not None:
        buckets = buckets.where(F.size("ps") <= df_cap)
    # idf in 9-dp integer units (df = bucket width); +1 smoothing sends
    # ubiquitous shingles (df = n_docs) to weight 0 — pruned, no signal
    iu = F.round(
        F.log(
            (F.col("n_docs") + F.lit(1.0)) / (F.size("ps") + F.lit(1.0))
        )
        * F.lit(1e9)
    ).cast("long")
    kept = (
        buckets.crossJoin(F.broadcast(n))
        .withColumn("iu", iu)
        .where(F.col("iu") > 0)
        .select("ps", "iu")
        .cache()
    )
    # unit products in decimal FROM THE MULTIPLY (wu = tf*iu can reach
    # ~1e13, so wu*wu overflows long; decimal(19,0) x decimal(19,0) ->
    # decimal(38,0))
    dec = "decimal(19,0)"
    post = kept.select(F.explode("ps").alias("p"), "iu").select(
        F.col("p.doc").alias("doc"),
        (F.col("p.tf") * F.col("iu")).alias("wu"),
    )
    norms = post.groupBy("doc").agg(
        F.sum(F.col("wu").cast(dec) * F.col("wu").cast(dec)).alias("sq")
    )
    # ordered pairs (ps[i], ps[j]) for i < j within each bucket, carrying
    # the weight product; sort_array ordered by doc, so doc_a < doc_b
    pair_arr = F.flatten(
        F.transform(
            F.slice(F.col("ps"), 1, F.size("ps") - 1),
            lambda p1, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size("ps")),
                lambda p2: F.struct(
                    p1["doc"].alias("doc_a"),
                    p2["doc"].alias("doc_b"),
                    (
                        (p1["tf"] * F.col("iu")).cast(dec)
                        * (p2["tf"] * F.col("iu")).cast(dec)
                    ).alias("prod"),
                ),
            ),
        )
    )
    dots = (
        kept.where(F.size("ps") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .agg(
            F.count("*").alias("n_shared"),
            F.sum("p.prod").alias("dot"),
        )
    )
    na = norms.select(F.col("doc").alias("doc_a"), F.col("sq").alias("sa"))
    nb = norms.select(F.col("doc").alias("doc_b"), F.col("sq").alias("sb"))
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("sa").cast("double") * F.col("sb").cast("double")
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("c9", F.round(cos, 9))
        .where(F.col("c9") >= F.lit(threshold))
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(F.col("c9"), 6).alias("cosine"),
        )
    )
