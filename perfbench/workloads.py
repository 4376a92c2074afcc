"""The two workloads: headline queries, and the medallion batch pipeline
with streaming ingest beside it.

Each takes a ``Run`` (see run.py), generates its inputs from the seed,
sets up (session start, warm-up, index builds), runs a fixed amount of
timed work through the program's public entry points and checks the
outputs outside the timed phase: ``queries`` checks its warm-up results,
``pipeline`` checks after the timed phase.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import numpy as np

import check
import gen

# Headline queries measured by the ``queries`` workload, with the operator
# family each one reports under. Pinned here, not imported from the
# program, so a change to the program's own bench list cannot change what
# this benchmark measures. dq_ks_price_drift launches eager jobs while its
# plan is built; it stays in on purpose, since plan construction is the
# layer this workload exists to expose. The set is one or two queries per
# family, small enough that set-up (one cold execution each) plus the
# timed passes fit the run budget; rfm_customer_segments, the other
# build-heavy query, costs a third of a pass on its own and is left out.
QUERIES = {
    "dq_ks_price_drift": "quality",
    "text_quality_scores": "text",
    "q1_pricing_summary": "relational",
    "q18_large_volume_customers": "relational",
    "sessionize_events": "window",
    "bm25_scores": "text",
    "dedup_exact_text": "dedup",
    "embedding_cosine_topk": "vector",
    "embedding_ann_sq8_indexed": "vector",
}
FAMILIES = ("relational", "window", "text", "dedup", "vector", "quality")
# queries served from a persisted index; their warm-up call builds it
INDEXED = {"embedding_ann_sq8_indexed"}
QUERY_SCALE = 0.002  # star-schema rows = TPC-H sf1 x this
# Work per run is sized from --seconds with these per-unit costs, measured
# at HEAD on 4 vCPU; they fix the work, they do not adapt to the run.
QUERY_PASS_S = 5.0  # one warm pass over QUERIES

BACKFILL_ROWS = 6_000
BACKFILL_DAYS = 20
DAILY_ROWS = 1_000
ROUND_ROWS = 1_000
PIPELINE_BACKFILL_S = 4.0  # the backfill run_pipeline
PIPELINE_DAY_S = 6.0  # one daily run_pipeline plus one streaming round
REDELIVERED = 0.10
INVALID = 0.03


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# queries


def _sq8_reason(got, sf_dir: str) -> str | None:
    """Rows-only check for the SQ8 index probe: 10 queries x top-5 with
    ranks 1..5, and at least 80% of neighbours in the exact cosine top-5."""
    import pyarrow.parquet as pq

    if len(got) != 50 or sorted(set(got["rank"])) != [1, 2, 3, 4, 5]:
        return f"expected 10 x top-5 rows, got {len(got)}"
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    vec = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    ids = t["vec_id"].to_numpy()
    hits = 0
    for q in range(10):
        sims = vec @ vec[ids == q][0]
        sims[ids == q] = -2
        exact = set(ids[np.argsort(-sims, kind="stable")[:5]])
        hits += len(exact & set(got.loc[got["query_id"] == q, "neighbor_id"]))
    return None if hits >= 40 else f"recall@5 {hits / 50:.2f} < 0.80"


def queries(run) -> None:
    from aws_data_pipeline_spark.plans import DEMOTED, load_registry

    sf_dir = str(run.dir / "sf")
    rows = gen.write_tables(sf_dir, run.seed, QUERY_SCALE)
    run.note(input_digest=gen.digest(sf_dir), input_rows=rows)
    registry = {**load_registry(), **DEMOTED}
    order = list(QUERIES)
    random.Random(run.seed).shuffle(order)
    passes = max(2, round(run.seconds / QUERY_PASS_S))
    spark = run.start_spark()
    run.index_tags.append(sf_dir)

    # Warm-up (JIT, footers, persisted-index builds): one cold execution per
    # query, collected so that its result is the one checked, then one
    # untimed pass like the timed ones, since the JIT still compiles through
    # the second execution. Only the executions count toward set-up; the
    # oracle comparison does not. A mismatch marks the query's timed reps
    # failed; a query that raises here raises in its reps too, and those
    # count themselves.
    con = check.duck_con(sf_dir)
    ran = []  # queries whose first execution returned
    try:
        for name in order:
            t0 = time.perf_counter()
            try:
                got = registry[name].spark_fn(spark, sf_dir).toPandas()
            except Exception as exc:
                got = None
                run.check(name, f"{type(exc).__name__}: {exc}", ops=0)
            part = "session.index_build_s" if name in INDEXED else "session.warmup_s"
            run.setup[part] += time.perf_counter() - t0
            if got is not None:
                ran.append(name)
                sql = registry[name].sql
                reason = (_sq8_reason(got, sf_dir) if sql is None
                          else check.compare_frames(got, con.execute(sql).df()))
                run.check(name, reason, ops=passes)
    finally:
        con.close()
    t0 = time.perf_counter()
    for name in ran:
        _noop(registry[name].spark_fn(spark, sf_dir))
    run.setup["session.warmup_s"] += time.perf_counter() - t0

    tr = run.tracer
    with run.timed():
        for _ in range(passes):
            with run.one_pass():
                for name in order:
                    with run.op(name):
                        with tr.span("plans.build"):
                            df = registry[name].spark_fn(spark, sf_dir)
                        with tr.span("exec"):
                            _noop(df)
    run.unit_kinds = set(order)
    run.input_rows = sum(rows.values())  # per pass
    med = run.kind_medians()
    run.layers.update({
        f"queries.{fam}.s": sum(med[q] for q, f in QUERIES.items() if f == fam)
        for fam in FAMILIES
    })


# --------------------------------------------------------------------------
# pipeline: the medallion batch path and the streaming ingest path


def _pipeline_cfg(zone, bronze: str):
    from aws_data_pipeline_spark.pipeline.medallion import PipelineConfig

    return PipelineConfig(
        bronze_path=bronze,
        silver_path=str(zone / "silver"),
        gold_path=str(zone / "gold"),
        notifier=lambda status, msg: None,  # failures raise; stdout stays ours
    )


def _instrument_medallion(run):
    """Traced runs only: time the pipeline's stage calls from outside by
    wrapping the module functions ``run_pipeline`` resolves at call time."""
    from aws_data_pipeline_spark.pipeline import medallion

    for name in ("bronze_to_silver", "silver_to_gold"):
        fn = getattr(medallion, name)

        def wrapped(*a, _fn=fn, _span=f"pipeline.{name}", **kw):
            with run.tracer.span(_span):
                return _fn(*a, **kw)

        setattr(medallion, name, wrapped)


def pipeline(run) -> None:
    """A backfill through ``run_pipeline``, then day by day: one daily
    batch through ``run_pipeline`` and one streaming ``availableNow`` round
    into a zone of its own."""
    from aws_data_pipeline_spark.pipeline.medallion import run_pipeline
    from aws_data_pipeline_spark.streaming.ingest import incremental_bronze_to_silver

    days = max(3, round((run.seconds - PIPELINE_BACKFILL_S) / PIPELINE_DAY_S))
    feed = gen.TxnFeed(run.seed)  # the batch path's bronze
    sfeed = gen.TxnFeed(run.seed, stream=3)  # the streaming path's landings
    bronze = run.dir / "bronze"
    batches = []  # (path, lines landed, rows the pipeline must write)
    lines, want = feed.batch(range(BACKFILL_DAYS), BACKFILL_ROWS, 0.0, INVALID)
    batches.append((str(bronze / "backfill"), lines, want))
    staged = []  # (path, lines landed)
    for i in range(days):
        day = BACKFILL_DAYS + i
        lines, want = feed.batch(range(day, day + 1), DAILY_ROWS, REDELIVERED, INVALID)
        batches.append((str(bronze / f"daily_{i:02d}"), lines, want))
        lines, _ = sfeed.batch(range(i, i + 2), ROUND_ROWS, REDELIVERED / 2, INVALID)
        staged.append((str(run.dir / "staging" / f"round_{i:02d}"), lines))
    batch_bytes = sum(
        gen.write_jsonl(path, lines, 10 if i == 0 else 4)
        for i, (path, lines, _) in enumerate(batches)
    )
    stream_bytes = sum(gen.write_jsonl(path, lines, 4) for path, lines in staged)
    warm = gen.TxnFeed(run.seed, stream=4)
    for i, span in enumerate((range(0, 5), range(4, 6))):
        lines = warm.batch(span, 500, REDELIVERED, INVALID)[0]
        gen.write_jsonl(str(run.dir / "warm" / "bronze" / f"b{i}"), lines, 2)
        gen.write_jsonl(str(run.dir / "warm" / "staging" / f"round_{i}"), lines, 2)
    run.note(input_digest=gen.digest(str(run.dir)), days=days)

    spark = run.start_spark()
    listener = None
    if run.tracer.enabled:
        from tracing import ProgressListener

        listener = ProgressListener()
        spark.streams.addListener(listener)
    # warm-up: each path's first call creates its zone, the second appends
    warm = run.dir / "warm"
    os.makedirs(warm / "landed")
    t0 = time.perf_counter()
    for i in range(2):
        run_pipeline(spark, _pipeline_cfg(warm / "batch", str(warm / "bronze" / f"b{i}")))
        os.rename(warm / "staging" / f"round_{i}", warm / "landed" / f"round_{i}")
        incremental_bronze_to_silver(spark, str(warm / "landed"), str(warm / "stream" / "silver"),
                                     str(warm / "checkpoint"))
    run.setup["session.warmup_s"] += time.perf_counter() - t0
    shutil.rmtree(warm)
    if run.tracer.enabled:
        _instrument_medallion(run)

    zones, landed = run.dir / "zones", run.dir / "landed"
    os.makedirs(landed)
    stream_silver, ckpt = str(zones / "stream" / "silver"), str(run.dir / "checkpoint")
    written = [0] * len(batches)

    def batch_op(i: int, kind: str) -> None:
        with run.op(kind) as op:
            cfg = _pipeline_cfg(zones / "batch", batches[i][0])
            written[i] = run_pipeline(spark, cfg)["bronze_to_silver"]["rows_written"]
        run.inspect_zone(op, zones / "batch", "batch")

    with run.timed():
        batch_op(0, "backfill")
        for i, (path, _) in enumerate(staged):
            batch_op(i + 1, "daily")
            os.rename(path, landed / os.path.basename(path))
            with run.op("round") as op:
                incremental_bronze_to_silver(spark, str(landed), stream_silver, ckpt)
            run.inspect_zone(op, zones / "stream", "stream")
    run.unit_kinds = {"daily"}
    batch_rows = sum(len(b[1]) for b in batches)
    stream_rows = sum(len(lines) for _, lines in staged)
    run.input_rows = batch_rows + stream_rows
    run.layers.update({
        "pipeline.rows_written_share": sum(written) / batch_rows,
        "sources.bytes_written_per_input_byte": run.zone["batch"]["bytes"] / batch_bytes,
        "streaming.rows_written_share": run.zone["stream"]["rows"] / stream_rows,
        "streaming.bytes_written_per_input_byte":
            run.zone["stream"]["bytes"] / stream_bytes,
    })
    if listener is not None:
        listener.wait_terminated(2 + days)
        run.streaming_progress(listener.progress)

    for (path, _, want), got in zip(batches, written):
        name = os.path.basename(path)
        run.check(f"rows_written:{name}", None if got == want else f"{got} != {want}")
    diff = check.gold_mismatches(f"{bronze}/**/*.jsonl", str(zones / "batch" / "gold"))
    run.check("gold", None if not any(diff.values()) else f"mismatched rows {diff}")
    ids = check.silver_ids(stream_silver)
    reason = None
    if len(ids) != len(set(ids)):
        reason = f"{len(ids) - len(set(ids))} duplicate ids in streaming silver"
    elif set(ids) != sfeed.valid_ids:
        reason = f"streaming silver holds {len(set(ids))} ids, {len(sfeed.valid_ids)} valid landed"
    run.check("stream_silver_ids", reason, ops=days)


WORKLOADS = {"queries": queries, "pipeline": pipeline}
