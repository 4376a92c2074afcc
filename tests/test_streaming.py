"""Structured Streaming tests: availableNow incremental ingestion with
checkpoint resume (the Glue-bookmark replacement, reference S9) and
stream/batch equivalence of the windowed aggregations."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from aws_data_pipeline_spark.catalog import load
from aws_data_pipeline_spark.streaming.ingest import incremental_bronze_to_silver
from aws_data_pipeline_spark.streaming.windows import tumbling_counts
from tests.conftest import _sub

CLOCK = F.lit


def _write_batch(path, start, n):
    rows = [
        {
            "transaction_id": f"txn_{i:08d}",
            "customer_id": f"cust_{i % 10:06d}",
            "amount": 100.0 + i,
            "transaction_date": f"2024-05-{(i % 28) + 1:02d} 12:00:00",
            "transaction_type": "purchase",
            "merchant_id": "merchant_001",
            "payment_method": "paypal",
            "currency": "USD",
            "status": "completed",
            "category": "food",
        }
        for i in range(start, start + n)
    ]
    (path / f"batch_{start}.json").write_text("\n".join(json.dumps(r) for r in rows))


def test_availablenow_checkpoint_is_a_bookmark(spark, tmp_path):
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    clock = F.lit("2026-01-01 00:00:00").cast("timestamp")

    # run 1: 50 rows
    _write_batch(bronze, 0, 50)
    incremental_bronze_to_silver(spark, str(bronze), silver, ckpt, clock=clock)
    assert spark.read.parquet(silver).count() == 50
    # the sink writes silver and nothing beside it
    assert sorted(p.name for p in tmp_path.iterdir()) == ["bronze", "ckpt", "silver"]

    # run 2: no new files -> bookmark means nothing reprocessed
    incremental_bronze_to_silver(spark, str(bronze), silver, ckpt, clock=clock)
    assert spark.read.parquet(silver).count() == 50

    # run 3: 30 new rows arrive (plus 10 re-delivered ids in a new file —
    # the sink anti-join keeps them out)
    _write_batch(bronze, 50, 30)
    _write_batch(bronze, 40, 10)  # duplicate ids, new file
    incremental_bronze_to_silver(spark, str(bronze), silver, ckpt, clock=clock)
    assert spark.read.parquet(silver).count() == 80
    # every transaction_id exactly once
    dups = (
        spark.read.parquet(silver)
        .groupBy("transaction_id")
        .count()
        .filter(F.col("count") > 1)
    )
    assert dups.isEmpty()


def test_stream_batch_window_equivalence(spark, sf_dir, tmp_path):
    """The SAME operator (tumbling_counts) over readStream vs batch produces
    identical results — operator purity pays off."""
    events = load(spark, sf_dir, "events")
    # stage events as a parquet dir we can stream from
    src = str(tmp_path / "events_src")
    events.write.parquet(src)

    batch_out = {
        (r.window_start, r.event_type, r.event_count)
        for r in tumbling_counts(events).collect()
    }

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out_path = str(tmp_path / "stream_out")
    (
        tumbling_counts(stream)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    stream_out = {
        (r.window_start, r.event_type, r.event_count)
        for r in spark.read.parquet(out_path).collect()
    }
    # append mode only emits windows the watermark has closed; every emitted
    # window must match batch, and most windows should have been emitted
    assert stream_out <= batch_out
    assert len(stream_out) >= 0.9 * len(batch_out)


def test_streaming_listener_notifies(spark, sf_dir, tmp_path):
    """NotifyingListener (O3/O8 streaming twin) sees start, per-batch
    progress with row counts, and clean termination."""
    from aws_data_pipeline_spark.streaming.observability import NotifyingListener

    events = []
    listener = NotifyingListener(lambda status, m: events.append((status, m)))
    spark.streams.addListener(listener)
    try:
        src = load(spark, sf_dir, "events")
        path = str(tmp_path / "src")
        src.write.parquet(path)
        stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
        (
            tumbling_counts(stream)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        import time

        for _ in range(50):  # listener callbacks are async
            if any(s == "terminated" for s, _ in events):
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    statuses = [s for s, _ in events]
    assert "started" in statuses
    assert "progress" in statuses
    prog = [m for s, m in events if s == "progress"]
    assert sum(m["num_input_rows"] for m in prog) == src.count()
    assert "terminated" in statuses
    assert all(m["exception"] is None for s, m in events if s == "terminated")


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """click_purchase_pairs under readStream (both sides watermarked,
    time-range state eviction) emits exactly the batch twin's rows."""
    from aws_data_pipeline_spark.streaming.joins import click_purchase_pairs

    events = load(spark, sf_dir, "events")
    src = str(tmp_path / "events_src")
    events.write.parquet(src)

    batch_out = {
        (r.click_id, r.purchase_id) for r in click_purchase_pairs(events).collect()
    }

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out_path = str(tmp_path / "pairs_out")
    (
        click_purchase_pairs(stream)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "jckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    stream_out = {
        (r.click_id, r.purchase_id)
        for r in spark.read.parquet(out_path).collect()
    }
    # inner stream-stream join emits matches eagerly; every pair must appear
    assert stream_out == batch_out
    assert len(batch_out) > 0


def test_stream_static_enrichment_rereads_dim(spark, sf_dir, tmp_path):
    """Stream-static join under the availableNow model: each run starts a
    fresh query, so it sees the dim AS OF that run — a dim update between
    runs is visible to the later run. (A continuously-running query would
    keep its startup snapshot; see enrich_stream_with_dim's docstring.)"""
    from aws_data_pipeline_spark.streaming.joins import enrich_stream_with_dim

    dim_path = str(tmp_path / "dim")
    src = tmp_path / "facts"
    src.mkdir()
    out_path = str(tmp_path / "enriched")
    ckpt = str(tmp_path / "eckpt")

    spark.createDataFrame(
        [(1, "bronze")], "user_id long, tier string"
    ).write.parquet(dim_path)

    def run_batch(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))
        stream = spark.readStream.schema("user_id long, ts timestamp").json(str(src))
        (
            enrich_stream_with_dim(stream, spark, dim_path, on="user_id")
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_batch("b1.json", [{"user_id": 1, "ts": "2024-05-01 10:00:00"},
                          {"user_id": 2, "ts": "2024-05-01 10:01:00"}])
    # dim update between runs: user 1 upgraded, user 2 appears
    spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    ).write.mode("overwrite").parquet(dim_path)
    run_batch("b2.json", [{"user_id": 1, "ts": "2024-05-02 10:00:00"},
                          {"user_id": 2, "ts": "2024-05-02 10:01:00"}])

    rows = {(r.user_id, str(r.ts), r.tier)
            for r in spark.read.parquet(out_path).collect()}
    assert rows == {
        (1, "2024-05-01 10:00:00", "bronze"),   # dim as of batch 1
        (2, "2024-05-01 10:01:00", None),       # left join keeps dim-lagged fact
        (1, "2024-05-02 10:00:00", "gold"),     # updated dim visible in batch 2
        (2, "2024-05-02 10:01:00", "silver"),
    }


def test_stream_stream_left_outer_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """Left-outer interval join: an unmatched left row is held in state and
    emitted with nulls only once the watermark PROVES no match can arrive
    (click_ts + window < watermark); a later run's events advance the
    checkpointed watermark and flush it."""
    from aws_data_pipeline_spark.streaming.joins import interval_join

    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "click_id long, click_user long, click_ts timestamp"
    rschema = "purchase_id long, purchase_user long, purchase_ts timestamp"
    lsrc, rsrc = tmp_path / "clicks", tmp_path / "purchases"
    lsrc.mkdir(), rsrc.mkdir()

    def run():
        clicks = spark.readStream.schema(schema).json(str(lsrc))
        purchases = spark.readStream.schema(rschema).json(str(rsrc))
        (
            interval_join(
                clicks, purchases,
                left_key="click_user", right_key="purchase_user",
                left_ts="click_ts", right_ts="purchase_ts",
                window_seconds=600, watermark_delay="10 minutes",
                how="left_outer",
            )
            .select("click_id", "purchase_id")
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    (lsrc / "b1.json").write_text(
        json.dumps({"click_id": 1, "click_user": 1,
                    "click_ts": "2024-05-01 10:00:00"})
        + "\n"
        + json.dumps({"click_id": 2, "click_user": 2,
                      "click_ts": "2024-05-01 10:00:00"})
    )
    (rsrc / "b1.json").write_text(
        json.dumps({"purchase_id": 10, "purchase_user": 1,
                    "purchase_ts": "2024-05-01 10:05:00"})
    )
    run()
    got = {(r.click_id, r.purchase_id) for r in spark.read.parquet(out_path).collect()}
    # the match emits eagerly; the unmatched click (user 2) must NOT have
    # been emitted yet — its no-match window is still open
    assert (1, 10) in got
    assert not any(c == 2 for c, _ in got)

    # far-future events on BOTH inputs: the query's watermark is the MIN
    # over all watermarked inputs, so a quiet left stream would pin it at
    # its last click forever. The flush itself lands in the NEXT batch that
    # runs under the advanced watermark (watermarks update at batch end),
    # so a third run delivers it.
    (rsrc / "b2.json").write_text(
        json.dumps({"purchase_id": 99, "purchase_user": 9,
                    "purchase_ts": "2024-05-01 12:00:00"})
    )
    (lsrc / "b2.json").write_text(
        json.dumps({"click_id": 50, "click_user": 9,
                    "click_ts": "2024-05-01 12:00:00"})
    )
    run()
    (rsrc / "b3.json").write_text(
        json.dumps({"purchase_id": 100, "purchase_user": 8,
                    "purchase_ts": "2024-05-01 12:01:00"})
    )
    (lsrc / "b3.json").write_text(
        json.dumps({"click_id": 51, "click_user": 8,
                    "click_ts": "2024-05-01 12:01:00"})
    )
    run()
    got = {(r.click_id, r.purchase_id) for r in spark.read.parquet(out_path).collect()}
    assert (2, None) in got  # flushed with null right side


def test_incremental_corpus_ingest_rejects_cross_batch_neardups(spark, tmp_path):
    """End-to-end corpus maintenance: in-batch exact+fuzzy dedup, index
    probe rejects cross-batch near-dups, the checkpoint is a bookmark, and
    a checkpoint loss cannot double-append (id anti-join guard)."""
    from aws_data_pipeline_spark.streaming.corpus import incremental_corpus_ingest

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    base = " ".join(f"tok{i}" for i in range(60))
    other = " ".join(f"other{i}" for i in range(40))
    batch1 = [
        {"doc_id": 1, "text": base, "lang": "en", "source": "a"},
        {"doc_id": 2, "text": base, "lang": "en", "source": "a"},  # exact dup of 1
        {"doc_id": 3, "text": base + " extra", "lang": "en", "source": "a"},  # near
        {"doc_id": 4, "text": other, "lang": "en", "source": "b"},
    ]
    (inbox / "b1.jsonl").write_text("\n".join(json.dumps(d) for d in batch1))
    incremental_corpus_ingest(spark, str(inbox), corpus, index, ckpt)
    ids = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert ids == {1, 4}
    indexed = {r.doc for r in spark.read.parquet(_sub(spark, index, "sets")).collect()}
    assert indexed == {1, 4}

    fresh = " ".join(f"new{i}" for i in range(60))
    batch2 = [
        {"doc_id": 11, "text": base + " more", "lang": "en", "source": "a"},  # x-batch
        {"doc_id": 12, "text": fresh, "lang": "en", "source": "c"},
        {"doc_id": 13, "text": fresh + " tail", "lang": "en", "source": "c"},  # in-b
    ]
    (inbox / "b2.jsonl").write_text("\n".join(json.dumps(d) for d in batch2))
    incremental_corpus_ingest(spark, str(inbox), corpus, index, ckpt)
    ids = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert ids == {1, 4, 12}
    indexed = {r.doc for r in spark.read.parquet(_sub(spark, index, "sets")).collect()}
    assert indexed == {1, 4, 12}

    # same checkpoint: nothing new to process
    incremental_corpus_ingest(spark, str(inbox), corpus, index, ckpt)
    assert spark.read.parquet(corpus).count() == 3
    # lost checkpoint: files re-deliver, the id guard keeps the corpus flat
    incremental_corpus_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "ckpt2")
    )
    assert spark.read.parquet(corpus).count() == 3
    assert spark.read.parquet(_sub(spark, index, "sets")).count() == 3


def test_corpus_ingest_maintains_kgram_span_index(spark, tmp_path):
    """With kgram_index_path set, the ingest loop also keeps the
    duplicate-span fingerprint index current: accepted docs' 8-gram hashes
    land (rejected near-dups' do not), later batches' span probes see
    earlier accepted content, and a crash after the LSH append but before
    the kgram append — where recovery's survivors set is EMPTY because the
    LSH probe self-matches the re-delivered doc — still backfills the
    missing hashes, because the kgram append set derives from
    batch-ids x corpus-ids, not from survivors."""
    from aws_data_pipeline_spark.operators.dedup import (
        duplicate_spans_against_index,
    )
    from aws_data_pipeline_spark.streaming.corpus import incremental_corpus_ingest

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    kgram = str(tmp_path / "kgram")

    boiler = " ".join(f"tok{i}" for i in range(30))
    (inbox / "b1.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": boiler, "lang": "en", "source": "a"})
    )
    incremental_corpus_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c1"),
        kgram_index_path=kgram,
    )
    n1 = spark.read.parquet(_sub(spark, kgram, "hashes")).count()
    assert n1 == 30 - 8 + 1  # one hash per positional 8-gram of doc 1

    # batch 2: one near-dup of doc 1 (rejected — its novel tail must NOT
    # enter the kgram index) and one novel doc (accepted)
    fresh = " ".join(f"new{i}" for i in range(30))
    (inbox / "b2.jsonl").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 2, "text": boiler + " extra", "lang": "en", "source": "a"},
                {"doc_id": 3, "text": fresh, "lang": "en", "source": "a"},
            ]
        )
    )
    incremental_corpus_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c1"),
        kgram_index_path=kgram,
    )
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 3}
    n2 = spark.read.parquet(_sub(spark, kgram, "hashes")).count()
    assert n2 == n1 + (30 - 8 + 1)  # doc 3 only; rejected doc 2 added nothing

    # a later batch quoting doc 3 shows up in the span probe
    probe = spark.createDataFrame(
        [(9, f"prefix words here {fresh} suffix words")],
        "doc_id long, text string",
    )
    spans = duplicate_spans_against_index(spark, probe, kgram)
    assert spans.count() == 1 and spans.collect()[0].span_tokens == 30

    # crash between LSH append and kgram append: doc 4 reaches corpus AND
    # LSH index, kgram misses it; recovery (re-delivery) must backfill
    # even though the LSH probe rejects doc 4 as a self-match
    other = " ".join(f"zz{i}" for i in range(30))
    (inbox / "b3.jsonl").write_text(
        json.dumps({"doc_id": 4, "text": other, "lang": "en", "source": "a"})
    )
    incremental_corpus_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c1")
    )  # no kgram arg == the crash left kgram behind
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 3, 4}
    assert spark.read.parquet(_sub(spark, kgram, "hashes")).count() == n2  # the gap
    incremental_corpus_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c2"),
        kgram_index_path=kgram,
    )  # lost checkpoint: everything re-delivers; survivors == empty
    assert spark.read.parquet(corpus).count() == 3  # corpus stays flat
    assert (
        spark.read.parquet(_sub(spark, kgram, "hashes")).count() == n2 + (30 - 8 + 1)
    )  # doc 4's hashes backfilled


def test_compact_corpus_indexes_preserves_probes(spark, tmp_path):
    """After several append batches fragment the index sub-tables,
    compaction must shrink the file counts without changing a single row —
    LSH and k-gram probes return identical results before and after."""
    import glob

    from aws_data_pipeline_spark.operators.dedup import (
        duplicate_spans_against_index,
        neardup_against_index,
    )
    from aws_data_pipeline_spark.streaming.corpus import (
        compact_corpus_indexes,
        incremental_corpus_ingest,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    kgram = str(tmp_path / "kgram")
    for b in range(4):
        (inbox / f"b{b}.jsonl").write_text(
            json.dumps(
                {
                    "doc_id": b,
                    "text": " ".join(f"w{b}x{i}" for i in range(20)),
                    "lang": "en",
                    "source": "a",
                }
            )
        )
        incremental_corpus_ingest(
            spark, str(inbox), corpus, index, str(tmp_path / "ck"),
            kgram_index_path=kgram,
        )
    probe = spark.createDataFrame(
        [(99, " ".join(f"w2x{i}" for i in range(20)) + " tail")],
        "doc_id long, text string",
    )
    before_lsh = {
        tuple(r) for r in neardup_against_index(spark, probe, index).collect()
    }
    before_spans = {
        tuple(r)
        for r in duplicate_spans_against_index(spark, probe, kgram).collect()
    }
    files_before = len(glob.glob(f"{_sub(spark, index, 'bands')}/*.parquet"))
    assert files_before >= 4  # one append file per batch — the fragmentation
    written = compact_corpus_indexes(spark, index, kgram)
    assert set(written) == {"sets", "bands", "hashes"}
    # compaction commits a new version directory — resolve like a probe does
    from aws_data_pipeline_spark.sources.parquet import index_root

    bands_dir = f"{index_root(spark, index)}/bands"
    assert len(glob.glob(f"{bands_dir}/*.parquet")) == written["bands"] == 1
    after_lsh = {
        tuple(r) for r in neardup_against_index(spark, probe, index).collect()
    }
    after_spans = {
        tuple(r)
        for r in duplicate_spans_against_index(spark, probe, kgram).collect()
    }
    assert before_lsh == after_lsh and before_lsh
    assert before_spans == after_spans and before_spans


def test_corpus_crash_recovery_backfills_index(spark, tmp_path):
    """A crash between the corpus write and the index append must be healed
    by the recovery run: the index append set is derived against the INDEX's
    own contents, not the corpus, so docs that reached the corpus pre-crash
    get their missing index entries backfilled (and a crash between the sets
    and bands appends backfills bands without duplicating sets)."""
    import shutil

    from aws_data_pipeline_spark.operators import dedup
    from aws_data_pipeline_spark.streaming.corpus import incremental_corpus_ingest

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")

    base = " ".join(f"tok{i}" for i in range(60))
    fresh = " ".join(f"new{i}" for i in range(60))
    (inbox / "b1.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": base, "lang": "en", "source": "a"})
    )
    incremental_corpus_ingest(spark, str(inbox), corpus, index, str(tmp_path / "c1"))

    # simulate: batch 2's corpus write committed, then the run crashed
    # BEFORE the index append — doc 2 is in the corpus but not the index
    spark.createDataFrame(
        [(2, fresh, "en", "a")], "doc_id long, text string, lang string, source string"
    ).write.mode("append").parquet(corpus)
    sets = spark.read.parquet(_sub(spark, index, "sets"))
    assert {r.doc for r in sets.collect()} == {1}

    # recovery: the checkpoint re-delivers batch 2 (fresh checkpoint here ≡
    # uncommitted batch). Corpus must stay flat; the index must backfill.
    (inbox / "b2.jsonl").write_text(
        json.dumps({"doc_id": 2, "text": fresh, "lang": "en", "source": "a"})
    )
    incremental_corpus_ingest(spark, str(inbox), corpus, index, str(tmp_path / "c2"))
    assert spark.read.parquet(corpus).count() == 2
    sets = spark.read.parquet(_sub(spark, index, "sets"))
    bands = spark.read.parquet(_sub(spark, index, "bands"))
    assert {r.doc for r in sets.collect()} == {1, 2}
    assert {r.doc for r in bands.collect()} == {1, 2}

    # and the healed index actually rejects a near-dup of the healed doc
    (inbox / "b3.jsonl").write_text(
        json.dumps({"doc_id": 3, "text": fresh + " tail", "lang": "en", "source": "a"})
    )
    incremental_corpus_ingest(spark, str(inbox), corpus, index, str(tmp_path / "c3"))
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 2}

    # crash between sets and bands: plant doc 9's sets only, then re-append —
    # bands are computed from the materialized sets, sets are not duplicated
    nine = spark.createDataFrame(
        [(9, " ".join(f"x{i}" for i in range(40)), "en", "a")],
        "doc_id long, text string, lang string, source string",
    )
    dedup.shingle_sets(nine, "doc_id", "text", 5, persist=False).write.mode(
        "append"
    ).parquet(_sub(spark, index, "sets"))
    dedup.append_to_lsh_text_index(nine, index)
    sets = spark.read.parquet(_sub(spark, index, "sets"))
    sets_rows = sets.filter(F.col("doc") == 9).count()
    bands = spark.read.parquet(_sub(spark, index, "bands"))
    bands_rows = bands.filter(F.col("doc") == 9).count()
    assert sets_rows == 1
    assert bands_rows == 4  # one row per band
    shutil.rmtree(str(tmp_path / "inbox"))


def test_kgram_index_bootstrap_covers_preexisting_corpus(spark, tmp_path):
    """Enabling kgram_index_path on an ALREADY-POPULATED corpus must
    bootstrap the index from the FULL corpus zone, not from the current
    batch: an index built from batch ∩ corpus alone would silently miss
    every previously ingested doc's span hashes and under-report
    duplicated spans while claiming to be the corpus index."""
    from aws_data_pipeline_spark.operators.dedup import (
        duplicate_spans_against_index,
    )
    from aws_data_pipeline_spark.streaming.corpus import incremental_corpus_ingest

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    kgram = str(tmp_path / "kgram")

    early = " ".join(f"old{i}" for i in range(30))
    other = " ".join(f"mid{i}" for i in range(30))
    # two batches ingested BEFORE the k-gram option exists
    (inbox / "b1.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": early, "lang": "en", "source": "a"})
    )
    incremental_corpus_ingest(spark, str(inbox), corpus, index, str(tmp_path / "c"))
    (inbox / "b2.jsonl").write_text(
        json.dumps({"doc_id": 2, "text": other, "lang": "en", "source": "a"})
    )
    incremental_corpus_ingest(spark, str(inbox), corpus, index, str(tmp_path / "c"))

    # first batch WITH the option: bootstrap must cover docs 1 and 2 too
    late = " ".join(f"new{i}" for i in range(30))
    (inbox / "b3.jsonl").write_text(
        json.dumps({"doc_id": 3, "text": late, "lang": "en", "source": "a"})
    )
    incremental_corpus_ingest(
        spark, str(inbox), corpus, index, str(tmp_path / "c"),
        kgram_index_path=kgram,
    )
    per_doc = 30 - 8 + 1
    assert spark.read.parquet(_sub(spark, kgram, "hashes")).count() == 3 * per_doc

    # a probe quoting the PRE-OPTION doc sees its spans
    probe = spark.createDataFrame(
        [(9, f"lead tokens {early} tail tokens")], "doc_id long, text string"
    )
    spans = duplicate_spans_against_index(spark, probe, kgram)
    assert spans.count() == 1 and spans.collect()[0].span_tokens == 30


def test_incremental_corpus_ingest_row_local_gates(spark, tmp_path):
    """The opt-in in-ingest curation gates: markup strips BEFORE hashing
    (two docs identical up to tags dedup to one) and the quality gate
    drops junk before it can reach the corpus or the index."""
    from aws_data_pipeline_spark.streaming.corpus import incremental_corpus_ingest

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    good = " ".join(f"the tok{i} of and to is" for i in range(20))
    batch = [
        # identical CONTENT under different markup: must exact-dedup to one
        {"doc_id": 1, "text": f"<p>{good}</p>", "lang": "en", "source": "a"},
        {"doc_id": 2, "text": f"<div>{good}</div><!-- v2 -->", "lang": "en",
         "source": "a"},
        # junk: fails the quality gate
        {"doc_id": 3, "text": "@@ ## $$", "lang": "en", "source": "b"},
    ]
    (inbox / "b1.jsonl").write_text("\n".join(json.dumps(d) for d in batch))
    incremental_corpus_ingest(
        spark, str(inbox), corpus, index, ckpt,
        strip_markup=True, min_quality=0.3,
    )
    rows = spark.read.parquet(corpus).collect()
    assert {r.doc_id for r in rows} == {1}
    assert rows[0].text == good  # stored text is the STRIPPED content
    indexed = {r.doc for r in spark.read.parquet(_sub(spark, index, "sets")).collect()}
    assert indexed == {1}


def test_text_ingest_start_gc_collects_superseded_versions(spark, tmp_path):
    """The text loop's run-start version GC (the embedding loop's cadence
    rule): a compaction supersedes the build's v1, the next ingest run
    with the flag collects it, probes identical throughout."""
    from aws_data_pipeline_spark.operators import dedup
    from aws_data_pipeline_spark.sources.parquet import zone_exists
    from aws_data_pipeline_spark.streaming.corpus import (
        compact_corpus_indexes,
        incremental_corpus_ingest,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    docs = [
        {"doc_id": i, "text": " ".join(f"w{i}t{j}" for j in range(30)),
         "lang": "en", "source": "a"}
        for i in range(6)
    ]
    (inbox / "b1.jsonl").write_text("\n".join(json.dumps(d) for d in docs))
    incremental_corpus_ingest(spark, str(inbox), corpus, index, ckpt)
    compact_corpus_indexes(spark, index)  # supersedes the build's v1
    assert zone_exists(spark, f"{index}/v1/sets")  # kept generation

    new = spark.createDataFrame(
        [(99, docs[0]["text"] + " tail", "en", "a")],
        "doc_id long, text string, lang string, source string",
    )
    before = {
        (r.new_id, r.corpus_id)
        for r in dedup.neardup_against_index(spark, new, index, threshold=0.8).collect()
    }
    incremental_corpus_ingest(
        spark, str(inbox), corpus, index, ckpt, gc_superseded_versions=True
    )
    assert not zone_exists(spark, f"{index}/v1/sets")  # collected at run start
    after = {
        (r.new_id, r.corpus_id)
        for r in dedup.neardup_against_index(spark, new, index, threshold=0.8).collect()
    }
    assert after == before and before  # non-trivial probe, identical


def test_forget_documents_erases_text_estate(spark, sf_dir, tmp_path):
    """The text-side erasure twin: after forget_documents the doomed
    doc_ids are gone from the LSH sets/bands and the bucketed corpus
    zone; the provenance-free k-gram index is REBUILT from the surviving
    corpus (hashes unique to doomed docs vanish, shared hashes stay — the
    rebuilt set equals a from-scratch build on survivors); an index probe
    can no longer match a doomed document; gc leaves <=1 version dir per
    index; a second forget is a no-op."""
    import glob
    import os

    from aws_data_pipeline_spark.operators import dedup
    from aws_data_pipeline_spark.sources.parquet import (
        index_root,
        record_zone_bucket_count,
    )
    from aws_data_pipeline_spark.streaming.corpus import forget_documents

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    base = str(tmp_path / "textestate")
    corpus, lsh, kgram = (f"{base}/{x}" for x in ("corpus", "lsh", "kgram"))
    record_zone_bucket_count(spark, corpus, 8)
    docs.withColumn("bucket", F.pmod("doc_id", F.lit(8)).cast("int")).write.mode(
        "append"
    ).partitionBy("bucket").parquet(corpus)
    dedup.build_lsh_text_index(docs, lsh)
    dedup.build_kgram_index(docs, kgram, k=8)

    doomed_ids = [5, 23, 41]
    doomed = spark.createDataFrame([(i,) for i in doomed_ids], "doc_id long")
    out = forget_documents(
        spark, doomed, corpus_path=corpus, index_path=lsh,
        kgram_index_path=kgram,
    )
    assert out["lsh"] == 3 and out["corpus"] == 3
    assert out["kgram_rebuilt"] == 57

    survivors = {r.doc_id for r in docs.collect()} - set(doomed_ids)
    got_corpus = {
        r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()
    }
    assert got_corpus == survivors
    for sub in ("sets", "bands"):
        got = {
            r.doc
            for r in spark.read.parquet(
                f"{index_root(spark, lsh)}/{sub}"
            ).collect()
        }
        assert got == survivors, f"lsh/{sub} kept doomed ids"
    # kgram rebuild == from-scratch build on survivors (hash-set identity)
    fresh = str(tmp_path / "kgram_fresh")
    dedup.build_kgram_index(
        docs.join(doomed, "doc_id", "left_anti"), fresh, k=8
    )
    h = lambda p: {
        r.h
        for r in spark.read.parquet(f"{index_root(spark, p)}/hashes").collect()
    }
    assert h(kgram) == h(fresh)
    # a doomed document re-presented probes the LSH index and finds NO
    # match (its own entry is gone); a surviving duplicate still matches
    doomed_doc = docs.filter(F.col("doc_id") == 5)
    assert dedup.neardup_against_index(
        spark, doomed_doc, lsh, threshold=0.99
    ).isEmpty()
    surv_doc = docs.filter(F.col("doc_id") == 6)
    assert not dedup.neardup_against_index(
        spark, surv_doc, lsh, threshold=0.99
    ).isEmpty()  # self-match at threshold 0.99: its entry is still there
    for idx in (lsh, kgram):
        vdirs = [d for d in glob.glob(f"{idx}/v*") if os.path.isdir(d)]
        assert len(vdirs) <= 1, f"{idx}: superseded generation kept {vdirs}"
    again = forget_documents(
        spark, doomed, corpus_path=corpus, index_path=lsh,
        kgram_index_path=kgram,
    )
    assert again["lsh"] == 0 and again["corpus"] == 0


def test_incremental_drift_monitor_scores_batches_against_baseline(
    spark, sf_dir, tmp_path
):
    """Streaming drift monitoring end-to-end: a baseline built on the 1996
    order cohort; batch 1 = more 1996-like data (no drift: psi tiny, no
    alert), batch 2 = the 2000 cohort shifted (psi over the 0.2 line,
    alert true); the categorical side mirrors with order priorities. The
    per-batch PSI equals the batch-twin psi_drift computed against the
    same stored edges; crash re-delivery of a scored batch appends no
    duplicate metrics row."""
    from aws_data_pipeline_spark.operators import quality as Q
    from aws_data_pipeline_spark.streaming.quality import (
        incremental_drift_monitor,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = o.where(F.year("o_orderdate") == 1996)
    b = str(tmp_path / "baseline")
    Q.build_drift_baseline(
        base, b, value_col="o_totalprice", cat_col="o_orderpriority", bins=10
    )

    src = str(tmp_path / "incoming")
    metrics = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")
    # batch 1: a same-distribution slice (1997 — TPC-H-ish prices are
    # stationary across years)
    o.where(F.year("o_orderdate") == 1997).write.mode("append").parquet(src)
    incremental_drift_monitor(spark, src, b, metrics, ckpt)
    # batch 2: a genuinely shifted cohort (prices doubled)
    o.where(F.year("o_orderdate") == 2000).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    ).write.mode("append").parquet(src)
    incremental_drift_monitor(spark, src, b, metrics, ckpt)

    rows = {
        r.batch_id: r
        for r in spark.read.parquet(metrics).collect()
    }
    assert len(rows) == 2
    calm, drifted = rows[min(rows)], rows[max(rows)]
    assert calm.psi < 0.2 and not calm.psi_alert
    assert drifted.psi > 0.2 and drifted.psi_alert
    assert calm.chisq is not None and drifted.chisq is not None

    # the monitor's psi == the batch twin against the same stored edges
    edges = [
        r.e
        for r in sorted(
            spark.read.parquet(f"{b}/edges").collect(), key=lambda r: r.pos
        )
    ]
    bc = spark.read.parquet(f"{b}/value_bins")
    cc = Q.bin_against_edges(
        o.where(F.year("o_orderdate") == 1997), "o_totalprice", edges, "n_curr"
    )
    want = (
        Q.psi_from_binned(bc, cc).agg(F.sum("psi_contribution")).collect()[0][0]
    )
    assert calm.psi == float(want)

    # re-delivery: wipe the checkpoint so the runner replays everything;
    # scored batch ids are skipped, no duplicate rows land
    import shutil

    shutil.rmtree(ckpt)
    incremental_drift_monitor(spark, src, b, metrics, str(tmp_path / "ckpt2"))
    assert spark.read.parquet(metrics).count() == len(
        {r for r in spark.read.parquet(metrics).select("batch_id").collect()}
    )


def test_drift_monitor_chisq_alert_and_empty_batch(spark, sf_dir, tmp_path):
    """The categorical alert line and the empty-batch guard: a planted
    category-mix shift crosses a caller-supplied chi-squared critical
    value (alert true); a batch of only-null categories records null
    metrics and never alerts (an empty distribution must not score)."""
    from aws_data_pipeline_spark.operators import quality as Q
    from aws_data_pipeline_spark.streaming.quality import (
        incremental_drift_monitor,
    )

    base = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 50, "cat string"
    )
    b = str(tmp_path / "baseline")
    Q.build_drift_baseline(base, b, cat_col="cat")

    src = str(tmp_path / "incoming")
    metrics = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ck")  # ONE checkpoint: batch ids advance
    # batch 1: flipped mix — chisq over the df=1 critical value 3.841
    spark.createDataFrame([("a",)] * 10 + [("b",)] * 90, "cat string").write.mode(
        "append"
    ).parquet(src)
    incremental_drift_monitor(
        spark, src, b, metrics, ckpt, chisq_threshold=3.841
    )
    # batch 2: all-null categories -> n_rows > 0 but no scorable values;
    # the monitor records the batch without metrics rather than alerting
    spark.createDataFrame([(None,)] * 5, "cat string").write.mode(
        "append"
    ).parquet(src)
    incremental_drift_monitor(
        spark, src, b, metrics, ckpt, chisq_threshold=3.841
    )
    rows = sorted(
        spark.read.parquet(metrics).collect(), key=lambda r: r.batch_id
    )
    assert len(rows) == 2
    assert rows[0].chisq > 3.841 and rows[0].chisq_alert
    assert rows[0].psi is None  # no value_col in this baseline
    assert rows[1].n_rows == 5 and rows[1].chisq is None
    assert not rows[1].chisq_alert  # null metrics never alert


def test_drift_metrics_rows_carry_baseline_identity(spark, tmp_path):
    """A baseline rebuilt mid-history must be visible in the metrics zone
    itself (VERDICT r10 item 5): every scored row carries the baseline's
    content fingerprint, so rows scored under baseline A and rows scored
    under a rebuilt baseline B are distinguishable without external
    state, while a byte-identical rebuild keeps the same id (same
    regime, correctly not flagged as a new one)."""
    from aws_data_pipeline_spark.operators import quality as Q
    from aws_data_pipeline_spark.streaming.quality import (
        incremental_drift_monitor,
    )

    b = str(tmp_path / "baseline")
    src = str(tmp_path / "incoming")
    metrics = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ck")

    base_a = spark.createDataFrame([("a",)] * 60 + [("b",)] * 40, "cat string")
    Q.build_drift_baseline(base_a, b, cat_col="cat")
    id_a = spark.read.parquet(f"{b}/meta").collect()[0].baseline_id
    assert id_a  # stamped at build time

    # identical rebuild (same cohort, same params) -> same fingerprint
    Q.build_drift_baseline(base_a, b, cat_col="cat")
    assert spark.read.parquet(f"{b}/meta").collect()[0].baseline_id == id_a

    spark.createDataFrame([("a",)] * 10, "cat string").write.mode(
        "append"
    ).parquet(src)
    incremental_drift_monitor(spark, src, b, metrics, ckpt)

    # REBUILD with a different reference cohort: different counts ->
    # different id; the next batch's row records the new regime
    base_b = spark.createDataFrame([("a",)] * 10 + [("b",)] * 90, "cat string")
    Q.build_drift_baseline(base_b, b, cat_col="cat")
    id_b = spark.read.parquet(f"{b}/meta").collect()[0].baseline_id
    assert id_b and id_b != id_a

    spark.createDataFrame([("b",)] * 10, "cat string").write.mode(
        "append"
    ).parquet(src)
    incremental_drift_monitor(spark, src, b, metrics, ckpt)

    rows = sorted(
        spark.read.parquet(metrics).collect(), key=lambda r: r.batch_id
    )
    assert [r.baseline_id for r in rows] == [id_a, id_b]
    # the history is self-describing: one zone, two visibly distinct regimes
    assert (
        spark.read.parquet(metrics).select("baseline_id").distinct().count()
        == 2
    )


def test_drift_baseline_without_fingerprint_scores_with_null_id(spark, tmp_path):
    """A baseline whose ``meta`` predates ``baseline_id`` reads through the
    declared meta schema with a null id: the monitor scores its batches
    normally and stamps null (visibly pre-fingerprint)."""
    from aws_data_pipeline_spark.operators import arrow_frame
    from aws_data_pipeline_spark.operators import quality as Q
    from aws_data_pipeline_spark.streaming.quality import (
        incremental_drift_monitor,
    )

    b = str(tmp_path / "baseline")
    src = str(tmp_path / "incoming")
    metrics = str(tmp_path / "metrics")
    base = spark.createDataFrame([("a",)] * 60 + [("b",)] * 40, "cat string")
    Q.build_drift_baseline(base, b, cat_col="cat")
    arrow_frame(
        spark, [(10, None, "cat")], "bins int, value_col string, cat_col string"
    ).write.mode("overwrite").parquet(f"{b}/meta")
    assert Q.read_drift_baseline(spark, b)[0].baseline_id is None

    spark.createDataFrame([("a",)] * 10 + [("b",)] * 90, "cat string").write.mode(
        "append"
    ).parquet(src)
    incremental_drift_monitor(spark, src, b, metrics, str(tmp_path / "ck"))
    [row] = spark.read.parquet(metrics).collect()
    assert row.n_rows == 100 and row.chisq > 0
    assert row.baseline_id is None


def test_drift_baseline_rejects_id_like_category_columns(spark, tmp_path):
    """ADVICE r11: the category table is a driver-side artifact, so an
    id-like cat_col must fail loudly at the measured cardinality BEFORE
    any collect — not exhaust driver memory on a 100-million-category
    'baseline'."""
    import pytest

    from aws_data_pipeline_spark.operators import quality as Q

    df = spark.createDataFrame([(i, f"u{i}") for i in range(50)], "v long, cat string")
    with pytest.raises(ValueError, match="50 distinct categories"):
        Q.build_drift_baseline(
            df, str(tmp_path / "b"), cat_col="cat", max_categories=10
        )
    # a deliberate raise of the bound proceeds
    Q.build_drift_baseline(
        df, str(tmp_path / "b2"), cat_col="cat", max_categories=50
    )
    assert spark.read.parquet(f"{tmp_path}/b2/categories").count() == 50


def _cdc_rows(spark, zone):
    return sorted(
        (r.id, r.v, r._seq, r.year)
        for r in spark.read.parquet(zone).collect()
    )


def test_cdc_apply_collapses_guards_and_tombstones(spark, tmp_path):
    """The CDC sink's three disorder guarantees, each planted: (1) within
    a batch, multiple events per key collapse to the highest sequence
    before the zone is touched; (2) a stale cross-batch event (seq at or
    below the zone row's) is dropped, not applied; (3) a delete leaves a
    tombstone, so a later-replayed OLDER upsert cannot resurrect the
    deleted row. Counts report what was applied vs dropped."""
    from aws_data_pipeline_spark.streaming.cdc import apply_cdc_batch

    zone = str(tmp_path / "zone")
    schema = "id long, v string, year int, _op string, _seq long"

    # batch 1: key 1 updated twice in-batch (seq 2 wins), key 2 inserted
    b1 = spark.createDataFrame(
        [
            (1, "a0", 2024, "upsert", 1),
            (1, "a1", 2024, "upsert", 2),
            (2, "b0", 2024, "upsert", 1),
        ],
        schema,
    )
    got = apply_cdc_batch(b1, zone, ["id"], ["year"])
    assert got == {"upserts": 2, "deletes": 0, "stale_dropped": 0}
    assert _cdc_rows(spark, zone) == [(1, "a1", 2, 2024), (2, "b0", 1, 2024)]

    # batch 2: key 1 deleted (seq 3); key 2 stale update (seq 1 again)
    b2 = spark.createDataFrame(
        [(1, None, 2024, "delete", 3), (2, "b-stale", 2024, "upsert", 1)],
        schema,
    )
    got = apply_cdc_batch(b2, zone, ["id"], ["year"])
    assert got == {"upserts": 0, "deletes": 1, "stale_dropped": 1}
    assert _cdc_rows(spark, zone) == [(2, "b0", 1, 2024)]

    # replay an OLDER upsert for the deleted key: the tombstone (seq 3)
    # outranks it — no resurrection
    replay = spark.createDataFrame(
        [(1, "a1", 2024, "upsert", 2)], schema
    )
    got = apply_cdc_batch(replay, zone, ["id"], ["year"])
    assert got == {"upserts": 0, "deletes": 0, "stale_dropped": 1}
    assert _cdc_rows(spark, zone) == [(2, "b0", 1, 2024)]

    # a genuinely NEWER upsert for the deleted key re-creates it
    newer = spark.createDataFrame(
        [(1, "a2", 2024, "upsert", 4)], schema
    )
    apply_cdc_batch(newer, zone, ["id"], ["year"])
    assert _cdc_rows(spark, zone) == [(1, "a2", 4, 2024), (2, "b0", 1, 2024)]

    # unknown op fails loudly
    import pytest

    bad = spark.createDataFrame([(9, "x", 2024, "update", 9)], schema)
    with pytest.raises(ValueError, match="_op must be one of"):
        apply_cdc_batch(bad, zone, ["id"], ["year"])


def test_cdc_stream_checkpoint_loss_replay_is_effect_idempotent(
    spark, tmp_path
):
    """apply_change_stream end-to-end: two producer runs apply through a
    checkpoint; wiping the checkpoint re-delivers EVERYTHING and changes
    nothing (sequence guard + tombstones = exactly-once effects on
    at-least-once delivery); tombstone retention keeps the guard small
    without re-opening the resurrection window at the horizon."""
    import shutil

    from aws_data_pipeline_spark.streaming.cdc import (
        apply_change_stream,
        expire_cdc_tombstones,
    )

    changes = str(tmp_path / "changes")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, v string, year int, _op string, _seq long"

    spark.createDataFrame(
        [
            (1, "a", 2024, "upsert", 1),
            (2, "b", 2024, "upsert", 2),
            (3, "c", 2025, "upsert", 3),
        ],
        schema,
    ).write.mode("append").parquet(changes)
    apply_change_stream(spark, changes, zone, ["id"], ["year"], ckpt)

    spark.createDataFrame(
        [(2, None, 2024, "delete", 4), (3, "c2", 2025, "upsert", 5)],
        schema,
    ).write.mode("append").parquet(changes)
    apply_change_stream(spark, changes, zone, ["id"], ["year"], ckpt)

    want = [(1, "a", 1, 2024), (3, "c2", 5, 2025)]
    assert _cdc_rows(spark, zone) == want

    # checkpoint loss: full replay, identical end state
    shutil.rmtree(ckpt)
    apply_change_stream(
        spark, changes, zone, ["id"], ["year"], str(tmp_path / "ckpt2")
    )
    assert _cdc_rows(spark, zone) == want

    # expire tombstones below the replay horizon, then replay again:
    # still no resurrection (the deleted key's tombstone seq 4 >= horizon)
    kept = expire_cdc_tombstones(spark, zone, min_seq_keep=4, partition_cols=["year"])
    assert kept == 1
    shutil.rmtree(str(tmp_path / "ckpt2"))
    apply_change_stream(
        spark, changes, zone, ["id"], ["year"], str(tmp_path / "ckpt3")
    )
    assert _cdc_rows(spark, zone) == want


def test_cdc_tombstone_expiry_is_crash_safe_versioned_swap(spark, tmp_path):
    """Expiry commits the kept set via the versioned single-marker swap:
    a crash BEFORE the commit (planted here as a fully-written but
    uncommitted candidate directory) leaves every live tombstone being
    served — the in-place overwrite it replaces would have truncated the
    store first and lost ALL tombstones at that point, silently
    re-opening the delete-resurrection window. The store's first
    version is committed before its first tombstone lands. After a real
    expiry, appends land in the committed version so later expiries see
    them."""
    from aws_data_pipeline_spark.sources.parquet import (
        index_active_version,
        index_root,
    )
    from aws_data_pipeline_spark.streaming.cdc import (
        _TOMB,
        apply_cdc_batch,
        expire_cdc_tombstones,
    )

    zone = str(tmp_path / "zone")
    schema = "id long, v string, year int, _op string, _seq long"
    apply_cdc_batch(
        spark.createDataFrame(
            [(1, "a", 2024, "upsert", 1), (2, "b", 2024, "upsert", 2)],
            schema,
        ),
        zone, ["id"], ["year"],
    )
    apply_cdc_batch(
        spark.createDataFrame(
            [(1, None, 2024, "delete", 3), (2, None, 2024, "delete", 4)],
            schema,
        ),
        zone, ["id"], ["year"],
    )
    store = f"{zone}/{_TOMB}"
    assert index_active_version(spark, store) == 1

    # planted crash: candidate v2 fully written (empty kept set — the
    # worst case) but NO marker ever created
    spark.read.parquet(index_root(spark, store)).limit(0).write.partitionBy(
        "year"
    ).parquet(f"{store}/v2")
    assert index_root(spark, store) == f"{store}/v1"  # uncommitted => v1
    # an old-sequence upsert replay still hits both tombstones
    got = apply_cdc_batch(
        spark.createDataFrame(
            [(1, "zombie", 2024, "upsert", 2), (2, "zombie", 2024, "upsert", 3)],
            schema,
        ),
        zone, ["id"], ["year"],
    )
    assert got == {"upserts": 0, "deletes": 0, "stale_dropped": 2}

    # real expiry: horizon 4 keeps only key 2's tombstone; the kept set
    # overwrites the abandoned candidate and its commit flips the store
    assert expire_cdc_tombstones(spark, zone, 4, ["year"]) == 1
    root = index_root(spark, store)
    assert root == f"{store}/v2"
    assert [tuple(r) for r in spark.read.parquet(root).select("id").collect()] == [(2,)]

    # appends after the flip land in the committed version: a new delete
    # is visible to the next expiry through the same resolved root
    apply_cdc_batch(
        spark.createDataFrame([(5, "e", 2024, "upsert", 7)], schema),
        zone, ["id"], ["year"],
    )
    apply_cdc_batch(
        spark.createDataFrame([(5, None, 2024, "delete", 8)], schema),
        zone, ["id"], ["year"],
    )
    assert expire_cdc_tombstones(spark, zone, 5, ["year"]) == 1
    kept = spark.read.parquet(index_root(spark, store))
    assert [tuple(r) for r in kept.select("id", "_seq").collect()] == [(5, 8)]


def test_cdc_null_op_fails_loudly(spark, tmp_path):
    """A null op must raise, not vanish: a bare ~isin() guard passes null
    predicates, the collapse would then prefer the null-op row (nulls
    sort first on the op tie-break), and the event would match neither
    apply filter — a silently lost change (the review finding this test
    pins)."""
    import pytest

    from aws_data_pipeline_spark.streaming.cdc import apply_cdc_batch

    batch = spark.createDataFrame(
        [(1, "a", 2024, None, 2), (1, "b", 2024, "upsert", 1)],
        "id long, v string, year int, _op string, _seq long",
    )
    with pytest.raises(ValueError, match="_op must be one of"):
        apply_cdc_batch(batch, str(tmp_path / "zone"), ["id"], ["year"])
