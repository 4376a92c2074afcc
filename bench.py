"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is executed via the same registry the driver checks for
correctness; timing covers plan construction + execution to a noop terminal
action (results are not collected to the driver — at 100 TB you never
collect). Per query: one untimed warm-up execution, then the timed run —
this measures steady-state throughput (codegen compiled, file footers and
any operator-level caches hot), which is the regime a long-running engine
operates in; at test SF a cold run mostly measures JVM codegen latency,
which amortizes to zero at 100 TB.

Reps and dispersion: the timed run repeats per query and reports the
per-query MEDIAN, so one GC pause or scheduler hiccup in a 30-query suite
can't masquerade as a plan regression. Rep count is ADAPTIVE (r5 verdict:
sub-second queries moved 1.8x between rounds with byte-identical code —
median-of-3 can't separate plan regressions from shared-sandbox scheduler
noise): queries whose first sample lands under 1 s get 7 reps, others 3;
BENCH_REPS forces a fixed count; a heavy-tail guard adds reps (cap 9)
while the observed max exceeds 1.5x the min, so wide-spread queries
(Arrow-worker/GC tails) report a median backed by more evidence.
The JSON carries a per-query
``dispersion`` block (min/median/max/reps) so a reader can tell a stable
median from a noisy one before crying regression — compare min-vs-min
across rounds for the least-noise view. Set BENCH_COLD=1 to time first
executions instead (single rep).

Terminal-action note (measured): the noop V2 write carries ~0.3-0.4 s
per-execution overhead at this SF vs a ``count()`` — but ``count()`` lets
Catalyst PRUNE computed output columns (a q1 count skips the eight decimal
aggregates entirely), so it under-times any query whose cost lives in its
projection. The noop write materializes every output column and is the
action every prior round used — honest and round-over-round comparable;
ad-hoc count() timings will read faster than these numbers for that
reason, not because the plan changed.
"""

from __future__ import annotations

import json
import os
import sys
import time

from aws_data_pipeline_spark.plans import DEMOTED, load_registry
from aws_data_pipeline_spark.session import get_spark


def _cpustat() -> list[int] | None:
    """Aggregate cpu ticks from /proc/stat (user nice system idle iowait
    irq softirq steal ...), or None where the file does not exist."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError, IndexError):
        return None


def _cpustat_delta(boot: list[int] | None) -> dict | None:
    """Whole-run tick deltas + the derived steal share of non-idle time."""
    now = _cpustat()
    if boot is None or now is None or min(len(boot), len(now)) < 5:
        return None
    d = [b - a for a, b in zip(boot, now)]
    # fields 0-7 only (user nice system idle iowait irq softirq steal):
    # guest/guest_nice (8-9) are already accounted inside user/nice, so
    # summing them would double-count guest time and deflate
    # steal_pct_busy on guest-running hosts (ADVICE r13)
    busy = sum(d[:8]) - (d[3] + d[4])  # minus idle + iowait
    steal = d[7] if len(d) > 7 else 0
    return {
        "busy_ticks": busy,
        "idle_ticks": d[3],
        "steal_ticks": steal,
        "steal_pct_busy": round(100.0 * steal / busy, 1) if busy else 0.0,
    }

# Headline set: one per capability family.
HEADLINE = [
    "q1_pricing_summary",        # scan + filter pushdown + wide agg
    "q6_forecast_revenue",       # fully pushed-down scan-agg
    "q18_large_volume_customers",  # having-subquery semi-join chain
    "customer_insights",         # flagship hash-agg + distinct
    "multi_grain_rollup_hierarchical",  # multi-grain via re-aggregation (no 4x GROUPING SETS expand; measured faster and shuffles strictly less)
    "regional_revenue",          # 4-way broadcast join chain
    "topk_orders_per_customer",  # window top-k
    "dedup_by_key",              # window dedup
    "json_props_stats",          # JSON extraction + agg
    "sessionize_events",         # gaps-and-islands windows
    "tumbling_window_counts",    # time windows
    "sliding_window_counts",     # overlapping windows (13.5k-row output)
    "ngram_jaccard_pairs",       # shingle inverted-index join
    "tfidf_cosine_pairs",        # weighted sparse cosine over the same index (r13)
    "minhash_lsh_dedup",         # MinHash + LSH banding
    "embedding_cosine_topk",     # broadcast brute-force ANN baseline
    "dedup_exact_text",          # digest dedup
    "text_quality_scores",       # HOF text featurization
    "bm25_scores",               # map-side BM25 + broadcast corpus-stats row
    "benchmark_decontamination",  # broadcast n-gram overlap vs eval set
    "q5_local_supplier_volume",  # 6-table star join
    "neardup_clusters",          # pair graph + iterative connected components
    "simhash_hamming_pairs",     # Arrow pandas-UDF path + band equi-join
    "embedding_ann_ivf",         # k-means IVF ANN (resident index + probe)
    "embedding_ann_ivf_indexed",  # persisted IVF index, partition-pruned probe
    "embedding_ann_pq",          # PQ codes + ADC LUT scoring + exact re-rank
    "embedding_ann_pq_indexed",  # persisted append-maintained PQ index probe
    "embedding_ann_sq8",         # scalar-quantized codes, dequantized cosine scan
    "embedding_ann_sq8_indexed",  # persisted append-maintained SQ8 index probe
    "embedding_ann_ivfpq",       # composed cell-pruned ADC over both persisted indexes
    "embedding_ann_ivfsq8",      # composed cell-pruned SQ8 (near-exact in-cell ranking)
    "embedding_neardup_pairs",   # banded-LSH equi-join + exact verify
    "hard_negative_topk",        # banded cosine mining (broadcast scan + band filter)
    "edit_distance_dedup_portable",  # LSH candidates + JVM levenshtein verify
    "markup_stripped_docs",      # C4 markup strip: JVM regexp chain in the scan stage
    "unicode_nfc_docs",          # Arrow-batched NFC normalization (mapInPandas path)
    "accent_stripped_docs",      # Arrow-batched accent folding
    "context_window_chunks",     # row-local sequence+explode chunking (no shuffle)
    "duplicate_span_stats",      # positional k-gram explode + hash groupBy + islands
    "leakage_safe_splits",       # near-dup pairs -> components -> cluster-keyed split
    "incremental_neardup_pairs",  # batch x corpus-bands probe (resident sets)
    "text_neardup_index_probe",  # persisted corpus LSH index probe (build excluded:
                                 # the warm-up rep builds it once; timed reps read it)
    "incremental_duplicate_spans",  # batch vs persisted k-gram index (same contract)
    "embedding_ann_sq8_filtered",  # payload pre-filter pushed into the codes scan
    "dq_ks_price_drift",         # exact KS via the distributed global prefix sum
    "mmr_diversified_topk",      # greedy MMR re-rank (bounded applyInPandas groups)
    "provenance_fuzzy_link",     # cross-table linkage: shared-shingle equi-join + top-k
    "rfm_customer_segments",     # three distributed global ntiles over one agg (r12)
    # bpe_merges deliberately NOT headline: 16 inherently-sequential training
    # rounds (~11 s at sf0.1) would dominate the suite total without being a
    # per-query throughput signal; its cost profile is recorded in SHUFFLES.md
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = dict(load_registry())
    registry.update(DEMOTED)  # demoted hot paths stay benchable
    missing = [n for n in HEADLINE if n not in registry]
    if missing:
        raise SystemExit(f"bench: HEADLINE names not in the registry: {missing}")
    names = list(HEADLINE)
    extra = os.environ.get("BENCH_QUERIES")
    if extra:
        names = [n.strip() for n in extra.split(",") if n.strip() in registry]

    if not names:
        raise SystemExit(
            "bench: no valid query names (check BENCH_QUERIES / HEADLINE "
            f"against the registry; got {os.environ.get('BENCH_QUERIES')!r})"
        )
    if extra:
        unknown = [n.strip() for n in extra.split(",") if n.strip() not in registry]
        if unknown:
            raise SystemExit(f"bench: unknown BENCH_QUERIES names: {unknown}")

    # Ambient load BEFORE any Spark work: the only sample the bench's own
    # JVM startup / warm-up cannot contaminate — the family verdict's
    # ambient-load arm keys off this one.
    load_boot = list(os.getloadavg())
    cpustat_boot = _cpustat()
    spark = get_spark("adps-bench")
    spark.sparkContext.setLogLevel("ERROR")

    cold = os.environ.get("BENCH_COLD") == "1"
    if not cold:
        # Warm the JVM + parquet footers once so per-query numbers measure
        # the queries, not session bootstrap. Skipped under BENCH_COLD —
        # executing names[0] here would make its 'cold' number warm.
        registry[names[0]].spark_fn(spark, sf_dir).count()
    forced = os.environ.get("BENCH_REPS")
    timings: dict[str, float] = {}
    dispersion: dict[str, dict[str, float]] = {}
    # Ambient-load instrumentation (r12 verdict item 2): every run records
    # the host 1/5/15-min load averages at suite start/end plus a 1-min
    # sample taken just before each query's timed reps, so the family
    # verdict can COMPUTE the "uniform floor shift + high loadavg => host"
    # ruling instead of a hand-written attribution essay per round.
    load_start = list(os.getloadavg())
    for name in names:
        if not cold:
            registry[name].spark_fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        q_load1 = os.getloadavg()[0]
        samples = []
        t0 = time.perf_counter()
        registry[name].spark_fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        samples.append(time.perf_counter() - t0)
        if cold:
            reps = 1
        elif forced:
            reps = max(1, int(forced))
        else:
            # adaptive: sub-second queries are where sandbox scheduler
            # noise rivals the signal — buy them more reps. The sub-0.4 s
            # tier gets 9 (r13 verdict item 9: those queries showed the
            # highest noise share in driver medians; ADDITIVE — more reps
            # of the same timed action, no methodology change).
            reps = 9 if samples[0] < 0.4 else (7 if samples[0] < 1.0 else 3)
        for _ in range(reps - 1):
            t0 = time.perf_counter()
            df = registry[name].spark_fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        # heavy-tail guard: some queries (Arrow mapInPandas paths — a
        # 3-rep simhash spread spanned 1.1-3.4 s with identical code)
        # land GC / Python-worker tails that make a 3-rep median itself
        # noisy; when the observed spread is wide, buy reps up to 9 so
        # the reported median sits on more evidence
        while (
            not cold
            and not forced
            and len(samples) < 9
            and samples[-1] > 1.5 * samples[0]
        ):
            t0 = time.perf_counter()
            registry[name].spark_fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            samples.append(time.perf_counter() - t0)
            samples.sort()
        med = round(samples[len(samples) // 2], 4)
        timings[name] = med
        dispersion[name] = {
            "min": round(samples[0], 4),
            "median": med,
            "max": round(samples[-1], 4),
            "reps": len(samples),
            "load1": round(q_load1, 2),
        }

    total = round(sum(timings.values()), 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline query wall-clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "dispersion": dispersion,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "loadavg": {
                    "boot": [round(x, 2) for x in load_boot],
                    "start": [round(x, 2) for x in load_start],
                    "end": [round(x, 2) for x in os.getloadavg()],
                    "ncpus": os.cpu_count(),
                    # whole-run /proc/stat tick deltas: loadavg cannot see
                    # HYPERVISOR contention (a clean-boot run on a stolen
                    # host reads load ~0 yet runs 1.5-2x slow — observed
                    # r13); steal/(non-idle) is the direct signal. Keys are
                    # additive to the driver-contract JSON.
                    "cpustat": _cpustat_delta(cpustat_boot),
                },
            }
        ),
        # the driver parses this line from stdout (r12's BENCH parse
        # failure nulled a whole round-over-round table): flush so the
        # JSON line is complete on the stream before spark.stop()'s JVM
        # teardown, keeping it the FINAL stdout line
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
