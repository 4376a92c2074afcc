"""Definitional tests for the distributed BPE trainer and the new
chunk/split/resample operators.

The BPE reference below is an independent single-node implementation of
the module spec (Sennrich-style pair counting + greedy left-to-right
merge), kept deliberately naive — dict counters and tuple rewriting — so
agreement with the Spark fold is evidence of correctness, not shared
code."""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import functions as F

from aws_data_pipeline_spark.catalog import load
from aws_data_pipeline_spark.operators import bpe, dedup, sampling

CORPUS = [
    "the low lower lowest low low",
    "new newer newest new new newer",
    "wide wider widest wide new low",
    "aaaa aaaa aaab the the the",
]


def _ref_words(texts):
    counts = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if re.fullmatch("[a-z]+", w):
                counts[w] += 1
    return {tuple(w) + ("</w>",): c for w, c in counts.items()}


def _ref_merge_word(symbols, left, right):
    out = []
    i = 0
    while i < len(symbols):
        if i + 1 < len(symbols) and symbols[i] == left and symbols[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return tuple(out)


def _ref_learn(texts, n_merges):
    vocab = _ref_words(texts)
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        # max by (count desc, left asc, right asc)
        (left, right), count = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((left, right, count))
        vocab = {
            _ref_merge_word(s, left, right): c for s, c in vocab.items()
        }
    return merges, vocab


def _corpus_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id LONG, text STRING"
    )


def test_learn_bpe_matches_definitional_reference(spark):
    d = _corpus_df(spark)
    model = bpe.learn_bpe(d, n_merges=10)
    ref_merges, ref_vocab = _ref_learn(CORPUS, 10)
    assert list(model.merges) == ref_merges
    got_vocab = {
        tuple(r.symbols.split(" ")): r.freq for r in model.vocab.collect()
    }
    assert got_vocab == ref_vocab


def test_bpe_token_counts_match_reference_encode(spark):
    d = _corpus_df(spark)
    model = bpe.learn_bpe(d, n_merges=10)
    _, ref_vocab = _ref_learn(CORPUS, 10)
    sym_len = {"".join(s).removesuffix("</w>"): len(s) for s in ref_vocab}
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in bpe.bpe_token_counts(d, model).collect()
    }
    for i, t in enumerate(CORPUS):
        words = [w for w in t.split(" ") if re.fullmatch("[a-z]+", w)]
        assert got[i] == (len(words), sum(sym_len[w] for w in words))


def test_merge_fold_is_greedy_left_to_right(spark):
    # runs of identical symbols: LTR non-overlapping, no rescan of output
    cases = [
        ("a a a a </w>", "a", "a", "aa aa </w>"),
        ("a a a </w>", "a", "a", "aa a </w>"),
        ("x a b y </w>", "a", "b", "x ab y </w>"),
        ("a b a b </w>", "a", "b", "ab ab </w>"),
        ("a </w>", "a", "</w>", "a</w>"),
    ]
    df = spark.createDataFrame(
        [(s, l, r, want) for s, l, r, want in cases],
        "s STRING, l STRING, r STRING, want STRING",
    )
    for row in df.collect():
        got = (
            spark.range(1)
            .select(bpe.merge_fold(F.lit(row.s), row.l, row.r).alias("m"))
            .first()
            .m
        )
        assert got == row.want, (row.s, row.l, row.r, got)


def test_context_chunks_cover_document_exactly(spark):
    texts = ["tok" + str(i) for i in range(150)]
    d = spark.createDataFrame(
        [(1, " ".join(texts)), (2, "a b"), (3, "solo")],
        "doc_id LONG, text STRING",
    )
    rows = sampling.context_chunks(d, window=64, stride=48).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts at 0,48,96,144; full windows except the tail
    starts = sorted(r.chunk_start for r in by_doc[1])
    assert starts == [0, 48, 96, 144]
    sizes = {r.chunk_start: r.n_chunk_tokens for r in by_doc[1]}
    assert sizes == {0: 64, 48: 64, 96: 54, 144: 6}
    # every token index is covered by at least one chunk
    covered = set()
    for r in by_doc[1]:
        covered.update(range(r.chunk_start, r.chunk_start + r.n_chunk_tokens))
    assert covered == set(range(150))
    # short docs produce exactly one chunk with all tokens
    assert [(r.chunk_start, r.n_chunk_tokens) for r in by_doc[2]] == [(0, 2)]
    assert [(r.chunk_start, r.n_chunk_tokens) for r in by_doc[3]] == [(0, 1)]


def test_leakage_safe_split_keeps_neardups_together(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, "doc_id", k=5, threshold=0.8)
    out = sampling.leakage_safe_split(
        d, pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    split_of = {r.doc_id: (r.split, r.canonical_doc_id) for r in out.collect()}
    collected = pairs.collect()
    assert collected, "fixture corpus should contain near-dup pairs"
    for p in collected:
        assert split_of[p.doc1][0] == split_of[p.doc2][0]
    # singletons keep the per-document assignment (canonical == self)
    in_pairs = {p.doc1 for p in collected} | {p.doc2 for p in collected}
    singles = [i for i in split_of if i not in in_pairs]
    base = sampling.hash_split(
        d.select("doc_id"), "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1}, hash_fn="md5",
    )
    base_of = {r.doc_id: r.split for r in base.collect()}
    for i in singles:
        assert split_of[i] == (base_of[i], i)


def test_mixture_resample_deterministic_and_keeps_largest_slice(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    a = set(r.doc_id for r in sampling.mixture_resample(d).collect())
    b = set(
        r.doc_id
        for r in sampling.mixture_resample(d.repartition(7)).collect()
    )
    assert a == b  # pure function of (id, seed): partitioning-independent
    # the largest (source, lang) slice has weight 1.0 -> fully kept
    wts = sampling.source_mixture_weights(d).collect()
    top = max(wts, key=lambda r: r.n_tokens)
    top_ids = {
        r.doc_id
        for r in d.filter(
            (F.col("source") == top.source) & (F.col("lang") == top.lang)
        ).collect()
    }
    assert top_ids <= a
    # smaller slices are downsampled, so the kept set is a strict subset
    assert len(a) < d.count()


# -- property: random corpora agree with the definitional reference --------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# small alphabet + short words force dense pair collisions and frequent
# argmax ties, stressing exactly the tiebreak + fold mechanics
_WORD = st.text(alphabet="abc", min_size=1, max_size=5)
_DOC = st.lists(_WORD, min_size=1, max_size=8).map(" ".join)
_CORPUS = st.lists(_DOC, min_size=1, max_size=6)


@given(corpus=_CORPUS, n_merges=st.integers(min_value=1, max_value=6))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_learn_bpe_property_matches_reference(spark, corpus, n_merges):
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id LONG, text STRING"
    )
    model = bpe.learn_bpe(d, n_merges=n_merges)
    ref_merges, ref_vocab = _ref_learn(corpus, n_merges)
    assert list(model.merges) == ref_merges
    got_vocab = {
        tuple(r.symbols.split(" ")): r.freq for r in model.vocab.collect()
    }
    assert got_vocab == ref_vocab


def test_bpe_oracle_survives_vocab_exhaustion(spark):
    # words fully merge well before the registered 16 rounds: the engine
    # breaks early and keeps the last vocab; the round-replay oracle must
    # pass symbols through empty rounds, not empty the result
    import duckdb

    from aws_data_pipeline_spark.plans.llm import (
        _BPE_MERGES_SQL,
        _BPE_N_MERGES,
        _BPE_TOKEN_COUNTS_SQL,
    )

    rows = [(1, "ab ab"), (2, "ab")]
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    model = bpe.learn_bpe(d, n_merges=_BPE_N_MERGES)
    assert len(model.merges) < _BPE_N_MERGES  # exhaustion actually happened
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in bpe.bpe_token_counts(d, model).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES (1, 'ab ab'), (2, 'ab'))"
        " t(doc_id, text)"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(_BPE_TOKEN_COUNTS_SQL).fetchall()
    }
    assert got == want == {1: (2, 2), 2: (1, 1)}  # 'ab' -> single 'ab</w>'
    merges_oracle = con.execute(_BPE_MERGES_SQL).fetchall()
    assert [(l, r, c) for _, l, r, c in sorted(merges_oracle)] == list(
        model.merges
    )


def test_bpe_encode_handles_out_of_vocabulary_words(spark):
    train = _corpus_df(spark)
    model = bpe.learn_bpe(train, n_merges=10)
    ref_merges, _ = _ref_learn(CORPUS, 10)
    new = spark.createDataFrame(
        [(100, "lowest newest zzz qqqq the")], "doc_id LONG, text STRING"
    )
    got = bpe.bpe_token_counts(new, model).collect()[0]

    def ref_encode(word):
        syms = tuple(word) + ("</w>",)
        for left, right, _ in ref_merges:
            syms = _ref_merge_word(syms, left, right)
        return len(syms)

    words = ["lowest", "newest", "zzz", "qqqq", "the"]
    assert (got.n_words, got.n_bpe_tokens) == (
        len(words),
        sum(ref_encode(w) for w in words),
    )


def test_mixture_resample_null_slice_is_sampled_not_dropped(spark):
    # NULL lang forms the LARGEST slice -> weight 1.0 -> fully kept; a
    # plain equi-join would sample it at probability 0
    rows = [(i, "w " * 50, None, "web") for i in range(10)] + [
        (100 + i, "w w", "en", "web") for i in range(3)
    ]
    d = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING"
    )
    kept = {r.doc_id for r in sampling.mixture_resample(d).collect()}
    assert set(range(10)) <= kept


_TOKENS = st.lists(st.text(alphabet="abxy", min_size=1, max_size=3), min_size=1, max_size=40)


@given(
    toks=_TOKENS,
    window=st.integers(min_value=2, max_value=10),
    stride=st.integers(min_value=1, max_value=10),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_context_chunks_property_matches_python_slicing(
    spark, toks, window, stride
):
    text = " ".join(toks)
    d = spark.createDataFrame([(1, text)], "doc_id LONG, text STRING")
    got = {
        r.chunk_start: (r.chunk_id, r.n_chunk_tokens)
        for r in sampling.context_chunks(d, window=window, stride=stride).collect()
    }
    ref_toks = text.lower().split(" ")
    want = {
        s: (s // stride, len(ref_toks[s : s + window]))
        for s in range(0, len(ref_toks), stride)
    }
    assert got == want


def test_bigram_logprob_ranks_formulaic_below_rare(spark):
    from aws_data_pipeline_spark.operators.text import bigram_logprob

    # doc 1 repeats the corpus-dominant transition; doc 2 is one-off
    rows = [(i, "the cat sat") for i in range(1, 9)] + [
        (100, "the cat sat"),
        (200, "zig quux vortex"),
    ]
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r.avg_neg_logprob for r in bigram_logprob(d).collect()}
    assert got[100] < got[200]
    # every doc has exactly 2 transitions
    n = {r.doc_id: r.n_bigrams for r in bigram_logprob(d).collect()}
    assert set(n.values()) == {2}
    # single-token docs are absent
    d2 = spark.createDataFrame([(1, "solo"), (2, "a b")], "doc_id LONG, text STRING")
    assert {r.doc_id for r in bigram_logprob(d2).collect()} == {2}


def test_bpe_model_trains_once_across_registry_queries(spark, sf_dir, monkeypatch):
    """The three BPE-family registry queries (bpe_merges, bpe_token_counts,
    bpe_fertility_by_lang) must share ONE trained model per (corpus, params)
    — the _bpe_model memo contract. A refactor that silently retrains the
    16-round sequential fold per query would triple the dominant cost, so
    pin it: learn_bpe may be invoked at most once across all three."""
    from aws_data_pipeline_spark.operators import bpe
    from aws_data_pipeline_spark.plans import load_registry
    from aws_data_pipeline_spark.sources.parquet import _APP_MEMO

    reg = load_registry()
    for key in [k for k in _APP_MEMO if k[1][0] == "bpe"]:
        del _APP_MEMO[key]
    calls = {"n": 0}
    real = bpe.learn_bpe

    def counting(*args, **kwargs):
        calls["n"] += 1
        return real(*args, **kwargs)

    monkeypatch.setattr(bpe, "learn_bpe", counting)
    for name in ("bpe_merges", "bpe_token_counts", "bpe_fertility_by_lang"):
        assert reg[name].spark_fn(spark, sf_dir).count() > 0
    assert calls["n"] == 1
