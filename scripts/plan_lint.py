"""Registry-wide physical-plan lint — the round-8 SinglePartition sweep
as a standing, mechanized check instead of a one-off essay.

For every registered AND demoted query, build the DataFrame against a
testdata dir and scan the initial physical plan (planning only — no job
runs, so the whole registry lints in minutes) for the four anti-pattern
families the scale audits hunt by hand:

1. ``CartesianProduct`` — always a failure. The oracle replays assert
   this per query too (`tests/oracle.py::assert_plan_contract`); the lint
   extends the same contract to plans the replay path doesn't build.
2. ``Exchange SinglePartition`` — allowed automatically when the subtree
   feeding it is an aggregate partial (a global ``keys=[]`` aggregate:
   one map-side row per upstream partition crosses the exchange — the
   documented bounded class), or when the query carries a named
   whitelist entry explaining why its frame is domain-bounded. Anything
   else is a data-sized single-partition sort/window waiting to fall
   over at 100 TB.
3. ``BroadcastNestedLoopJoin`` — allowed only via the whitelist: the
   accepted pattern is ``crossJoin(broadcast(<1-row aggregate>))``
   (scalar denominators, global stats); anything unexplained could be a
   fact-sized broadcast loop.
4. Python-built local frame (``applySchemaToPythonRDD`` in the formatted
   plan) — allowed only via ``PY_FRAME_ALLOW``. ``createDataFrame`` over
   a Python list is unpickled by a Python worker every time the plan
   scans it; an Arrow table (``operators.arrow_frame``) or a literal
   expression costs no worker. A remaining entry names why its frame is
   one-off or bounded.

Run: ``python scripts/plan_lint.py [sf_dir] [--json OUT]``; exit 1 on
any unexplained hit. The whitelist is data, lives here, and every entry
names its bound — copying an entry without a bound is the review smell.
"""

from __future__ import annotations

import json
import os
import re
import sys

# query -> reason its SinglePartition / BNLJ occurrences are bounded.
# Every reason must name the BOUND (why the frame can't be data-sized).
ALLOW = {
    # unpartitioned windows over per-(source,lang) / per-group aggregate
    # frames: dozens of rows at any corpus size (sampling.py docstrings)
    "source_mixture_weights": "window over per-(source,lang) aggregate rows",
    "weighted_sample_per_lang": "window over per-lang aggregate rows",
    "mixture_resample_docs": "window over per-(source,lang) aggregate rows",
    "dsir_importance_weights": "window over per-bucket aggregate rows",
    "heavy_hitter_tokens_approx": "rank over top-k sketch rows (k-bounded)",
    "vocabulary_top_tokens": "rank over the top-N result rows only",
    "collocation_pmi_scores": "rank over the top-N result rows only",
    "event_path_trigrams": "rank over the top-20 TakeOrdered result",
    "bpe_merges": "argmax over the vocab-frame pair counts (vocab-bounded)",
    "bpe_token_counts": "argmax over vocab-frame rows (vocab-bounded)",
    "bpe_fertility_by_lang": "argmax over vocab-frame rows (vocab-bounded)",
    "price_percentiles_by_priority": "window over per-priority rows",
    "dq_psi_price_drift": "window over fixed histogram-bin rows",
    "dq_psi_price_drift_approx": "window over fixed histogram-bin rows",
    "dq_ks_price_drift": "rank over fixed-bin CDF rows",
    "dq_chisq_event_type_drift": "window over event-type cardinality rows",
    "quality_median_filter": "window over per-source median rows",
    "quality_winsorized_by_source": "window over per-source bound rows",
    # scalar denominators / global stats: crossJoin(broadcast(1-row agg))
    "benchmark_decontamination": "1-row corpus-stats broadcast",
    "bm25_scores": "1-row corpus-stats broadcast (N, avgdl)",
    "tfidf_cosine_pairs": "1-row doc-count broadcast",
    "tfidf_top_terms": "1-row doc-count broadcast",
    "source_overlap_matrix": "#sources-bounded size frame broadcast",
    "dedup_exact_text": "1-row corpus-count broadcast",
    "lang_id_stopwords": "per-language literal stopword arrays (no join)",
    "unigram_logprob_scores": "1-row token-total broadcast",
    "bigram_logprob_scores": "1-row token-total broadcast",
    "text_repetition_stats": "1-row corpus aggregate broadcast",
    "conversion_latency_stats": "1-row quantile-offset broadcast",
    "token_budget_sample_docs": "1-row budget-threshold broadcast",
    "temporal_split_embargo_events": "1-row embargo-boundary broadcast",
    "ann_recall_sq8": "recall joins two k-bounded top-k frames",
    "global_table_stats": "global keys=[] aggregate bundle (1 row out)",
    # ANN family: the broadcast side is the QUERY SET (10 vectors + their
    # norms / coarse-cell assignments) crossed against the corpus scan —
    # bounded by the query count, never corpus-sized (SHUFFLES.md pins
    # the broadcast at KBs-to-3MB at sf0.01)
    "embedding_cosine_topk": "10-query-vector broadcast",
    "embedding_ann_ivf": "10-query-vector + centroid broadcast",
    "embedding_ann_ivf_indexed": "10-query-vector + centroid broadcast",
    "embedding_ann_pq": "10-query-vector + codebook broadcast",
    "embedding_ann_pq_indexed": "10-query-vector + codebook broadcast",
    "embedding_ann_sq8": "10-query-vector + sq8-stats broadcast",
    "embedding_ann_sq8_indexed": "10-query-vector + sq8-stats broadcast",
    "embedding_ann_sq8_filtered": "10-query-vector + sq8-stats broadcast",
    "embedding_decontamination": "benchmark-side embedding broadcast "
    "(eval suites are small by nature; documented in the plan docstring)",
    "hard_negative_topk": "per-query positive-set broadcast (k-bounded)",
    "hard_negative_topk_indexed": "per-query positive-set broadcast",
    "mmr_diversified_topk": "candidate-pool broadcast (top-k bounded)",
    # scalar subquery / spine crosses
    "q22_idle_rich_customers": "1-row avg-balance scalar broadcast",
    "daily_gapfill_nation_revenue": "date-spine x nation dim cross "
    "(both domain-bounded: days in range x 25 nations)",
    "dq_ingest_volume_anomalies": "1-row per-partition stats broadcast",
}


# query -> why its Python-list-built frame is one-off or bounded
PY_FRAME_ALLOW = {
    "bpe_merges": "the trained model's n_merges-row merge table (16 rows), "
    "built once per model and scanned once as the query's own result",
}


def lint_plan(name: str, plan: str, formatted: str) -> list[str]:
    hits: list[str] = []
    if "applySchemaToPythonRDD" in formatted and name not in PY_FRAME_ALLOW:
        hits.append("Python-built local frame (applySchemaToPythonRDD)")
    if "CartesianProduct" in plan:
        hits.append("CartesianProduct")
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            # child subtree = next line one indent deeper; a partial
            # aggregate child means one row per upstream partition
            child = lines[i + 1] if i + 1 < len(lines) else ""
            if re.search(r"(Hash|Sort|ObjectHash)Aggregate", child):
                continue
            if name in ALLOW:
                continue
            hits.append(f"SinglePartition over non-aggregate: {child.strip()[:60]}")
    if "BroadcastNestedLoopJoin" in plan and name not in ALLOW:
        hits.append("BroadcastNestedLoopJoin (unexplained)")
    return hits


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    out_json = None
    if "--json" in sys.argv:
        out_json = sys.argv[sys.argv.index("--json") + 1]
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from pyspark.sql import SparkSession

    from aws_data_pipeline_spark.plans import DEMOTED, load_registry

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    reg = dict(load_registry())
    reg.update(DEMOTED)
    failed: dict[str, list[str]] = {}
    allowed_used = 0
    for name, q in sorted(reg.items()):
        try:
            df = q.spark_fn(spark, sf_dir)
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
        except Exception as e:  # noqa: BLE001 — a plan that won't build is a finding
            failed[name] = [f"plan build failed: {e}"[:200]]
            continue
        hits = lint_plan(name, plan, formatted)
        if hits:
            failed[name] = hits
        elif name in ALLOW or name in PY_FRAME_ALLOW:
            allowed_used += 1
    for name, hits in failed.items():
        for h in hits:
            print(f"LINT {name}: {h}")
    print(
        f"plan lint: {len(reg)} queries, {len(failed)} flagged, "
        f"{allowed_used} whitelisted (each entry names its bound)"
    )
    if out_json:
        with open(out_json, "w") as f:
            json.dump(
                {
                    "checked": len(reg),
                    "flagged": failed,
                    "allow": ALLOW,
                    "py_frame_allow": PY_FRAME_ALLOW,
                },
                f,
                indent=1,
            )
        print(f"artifact: {out_json}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
