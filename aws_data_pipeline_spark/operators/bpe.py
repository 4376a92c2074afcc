"""Distributed BPE tokenizer training (Sennrich et al. 2016,
arXiv:1508.07909 — public) over a document corpus.

The classic map-reduce formulation: aggregate the corpus to its WORD-TYPE
table first (the huge compression — pair statistics only depend on word
frequencies, so a 100 TB corpus collapses to a vocabulary-sized frame),
then iterate: count adjacent symbol pairs weighted by word frequency (one
partial-aggregated shuffle over the vocab frame), take the global argmax
(a 1-row collect — the same driver-coordination pattern as connected
components' convergence probe), and apply the merge to every word's
symbol sequence (a map-side fold).

Spec (deterministic, engine-portable — the DuckDB oracle replays it
bit-for-bit):
- words = lowercased whitespace tokens matching ``^[a-z]+$``;
- initial symbols = the word's characters plus a final ``</w>``
  end-of-word marker symbol ("ab" -> "a b </w>");
- each round merges the (count desc, left asc, right asc)-max pair;
- merge application is a single greedy left-to-right non-overlapping
  pass, expressed as a left fold over the symbol list (merge exactly when
  the accumulator's last symbol == left and the next symbol == right) —
  identical mechanics on the Spark side (``F.aggregate``) and the oracle
  side (``list_reduce``), so the learned merge table value-matches across
  engines.

Scale posture: per round, the only shuffle is the pair-count aggregation
over the word-type frame (vocab-sized, not corpus-sized); the argmax
moves ONE row to the driver; the merge apply is map-side. The vocab frame
is localCheckpoint'ed every few rounds to stop the fold lineage deepening
linearly with merge count (same lineage-cut cadence as the iterative
connected-components operator). Encoding joins the corpus against the
merged vocab (word-type join — merges are applied once per word TYPE,
never per token), which Spark broadcasts when the vocab is small.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators import arrow_frame, widen_narrow_input

WORD_RE = "^[a-z]+$"
END_MARK = "</w>"

# lineage-cut cadence for the iteratively rewritten vocab frame
_CHECKPOINT_EVERY = 4


def _corpus_words(df: DataFrame, text_col: str) -> DataFrame:
    toks = F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word")
    return widen_narrow_input(df).select(toks).filter(F.col("word").rlike(WORD_RE))


def word_symbol_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, symbols): the corpus word-type table with initial
    per-character symbol sequences. One shuffle (the word-count groupBy)."""
    return (
        _corpus_words(df, text_col)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .withColumn(
            "symbols",
            F.concat(
                F.regexp_replace(F.col("word"), "(.)", "$1 "), F.lit(END_MARK)
            ),
        )
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency."""
    s = F.split(F.col("symbols"), " ")
    idx = F.sequence(F.lit(1), F.size(s) - 1)
    pairs = F.when(
        F.size(s) >= 2,
        F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(s, i).alias("pair_left"),
                F.element_at(s, i + F.lit(1)).alias("pair_right"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pair_left:string,pair_right:string>>"))
    return (
        vocab.select(F.col("freq"), F.explode(pairs).alias("p"))
        .groupBy("p.pair_left", "p.pair_right")
        .agg(F.sum("freq").alias("pair_count"))
    )


def merge_fold(symbols: Column, left: str, right: str) -> Column:
    """Apply ONE merge to a space-joined symbol string: greedy left-to-right
    non-overlapping, as a left fold (merge exactly when the accumulator's
    trailing symbol is ``left`` and the incoming symbol is ``right``).
    Pure string mechanics — no regex metacharacter hazards, and literally
    the same fold the DuckDB oracle runs via ``list_reduce``."""
    s = F.split(symbols, " ")
    return F.aggregate(
        F.slice(s, 2, F.greatest(F.size(s) - 1, F.lit(0))),
        F.element_at(s, 1),
        lambda acc, x: F.when(
            (F.regexp_extract(acc, "[^ ]+$", 0) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.substring(acc, 1, F.length(acc) - len(left)),
                F.lit(left + right),
            ),
        ).otherwise(F.concat(acc, F.lit(" "), x)),
    )


@dataclass(frozen=True)
class BpeModel:
    """Learned merge list plus the merged word-type table (word, freq,
    symbols) — the corpus-side encode artifact."""

    merges: tuple[tuple[str, str, int], ...]  # (left, right, pair_count)
    vocab: DataFrame

    def merges_df(self) -> DataFrame:
        spark = self.vocab.sparkSession
        rows = [
            (i, left, right, int(c))
            for i, (left, right, c) in enumerate(self.merges)
        ]
        return arrow_frame(
            spark,
            rows,
            "merge_rank INT, pair_left STRING, pair_right STRING, pair_count BIGINT"
        )


def learn_bpe(
    df: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
) -> BpeModel:
    """Train ``n_merges`` BPE merges over the corpus (module docstring has
    the full spec). Stops early only if the vocabulary runs out of
    adjacent pairs entirely. Returns the merge list and the merged
    word-type table for corpus encoding."""
    vocab = word_symbol_table(df, text_col).persist()
    merges: list[tuple[str, str, int]] = []
    to_unpersist = [vocab]
    try:
        for rank in range(n_merges):
            top = (
                _pair_counts(vocab)
                .orderBy(
                    F.col("pair_count").desc(),
                    F.col("pair_left").asc(),
                    F.col("pair_right").asc(),
                )
                .limit(1)
                .collect()
            )
            # the collect above MATERIALIZED the current vocab, so every
            # predecessor frame is now dead state — release it instead of
            # holding ~n_merges cached copies of the word-type table until
            # the finally block (only the newest frame stays live)
            while len(to_unpersist) > 1:
                to_unpersist.pop(0).unpersist()
            if not top:
                break
            left, right, count = (
                top[0].pair_left,
                top[0].pair_right,
                int(top[0].pair_count),
            )
            merges.append((left, right, count))
            vocab = vocab.withColumn(
                "symbols", merge_fold(F.col("symbols"), left, right)
            )
            # cut the fold lineage periodically: without this, round k
            # re-evaluates k chained folds from the persisted base on
            # every pair-count job (O(n_merges^2) fold work overall)
            if (rank + 1) % _CHECKPOINT_EVERY == 0 and rank + 1 < n_merges:
                vocab = vocab.localCheckpoint(eager=True)
            else:
                vocab = vocab.persist()
                to_unpersist.append(vocab)
    finally:
        # identity-based cleanup: the early break can fire in the round
        # right after a localCheckpoint, in which case the returned vocab
        # is the checkpoint (never appended) and a positional [:-1] would
        # leak the last persisted frame
        for frame in to_unpersist:
            if frame is not vocab:
                frame.unpersist()
    return BpeModel(merges=tuple(merges), vocab=vocab)


def encode_word_types(
    words: DataFrame, merges: tuple[tuple[str, str, int], ...]
) -> DataFrame:
    """Encode a (word)-typed frame under the learned merges: build initial
    character symbols, then apply each merge in rank order with the same
    fold the trainer uses, localCheckpoint'ing on the trainer's cadence.
    The round LOOP matters: chaining all folds into one expression
    multiplies the expression tree ~8x per merge (each fold references its
    input several times) — 16 chained merges is an analyzer OOM, not a
    plan. This is the out-of-vocabulary path; known words come from the
    merged vocab table."""
    out = words.withColumn(
        "symbols",
        F.concat(F.regexp_replace(F.col("word"), "(.)", "$1 "), F.lit(END_MARK)),
    )
    for i, (left, right, _) in enumerate(merges):
        out = out.withColumn("symbols", merge_fold(F.col("symbols"), left, right))
        if (i + 1) % _CHECKPOINT_EVERY == 0 and i + 1 < len(merges):
            out = out.localCheckpoint(eager=False)
    return out


def bpe_token_counts(
    df: DataFrame,
    model: BpeModel,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document BPE token counts under the learned merges: explode the
    document's spec-words, join the merged word-type table (merges are
    applied once per word TYPE — the join is the scale move; Spark
    broadcasts the vocab when it fits — unhinted, so a huge vocab
    shuffles instead of OOMing the driver), sum symbol counts. Words absent
    from the training vocab (encoding a DIFFERENT corpus than the one
    trained on) are encoded for real — their distinct types run the same
    merge-fold rounds the trainer uses — not silently dropped. Documents
    with zero spec-words are absent (nothing to encode)."""
    words = widen_narrow_input(df).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"),
    ).filter(F.col("word").rlike(WORD_RE))
    n_sym = F.size(F.split(F.col("symbols"), " "))
    # no forced broadcast: the word-TYPE table is vocabulary-sized —
    # small for this corpus, but tens of GB for a 100 TB one, where a
    # F.broadcast hint would bypass the threshold and OOM the driver;
    # AQE broadcasts exactly when it actually fits
    hits = words.join(
        model.vocab.select("word", n_sym.alias("__n_sym")),
        "word",
        "left",
    )
    oov = hits.filter(F.col("__n_sym").isNull()).select("word").distinct()
    oov_enc = encode_word_types(oov, model.merges).select(
        "word", n_sym.alias("__n_sym_oov")
    )
    # same reasoning: the OOV type set is unbounded on a foreign corpus
    enc = hits.join(oov_enc, "word", "left").withColumn(
        "__n_sym", F.coalesce(F.col("__n_sym"), F.col("__n_sym_oov"))
    )
    return enc.groupBy(id_col).agg(
        F.count("*").alias("n_words"),
        F.sum("__n_sym").alias("n_bpe_tokens"),
    )
