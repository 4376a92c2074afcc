"""The named-query registry.

Every operator from SURVEY.md §2 (and the north-star extensions) is exposed as
a named query: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus, where
expressible, a DuckDB-runnable ANSI-SQL oracle twin over the same tables.
``__spark_entry__.py`` serves the driver straight from this registry.

Contract rules (driver compares row-count + schema + order-insensitive value
hash, columns sorted by name):
- alias every computed column identically in Spark and SQL;
- no nondeterministic columns (no current_timestamp, no arbitrary-survivor
  dedup) in registered outputs;
- double aggregates routed through functions.exact for order-independence.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: SparkQuery
    sql: str | None  # DuckDB oracle; None => rows-only driver check
    doc: str = ""


REGISTRY: dict[str, Query] = {}

# Queries DEMOTED from the driver surface (round 5 consolidation: the
# oracled registry outgrew the driver's 2x50-query check window, VERDICT r4
# item 2). A demoted query keeps its implementation AND its oracle — the
# local pytest oracle-parity suite replays DEMOTED alongside REGISTRY on
# every run, and bench.py can still time demoted hot paths — it just no
# longer occupies a driver window slot. Each demotion names the registered
# query that carries its capability's driver signal.
# The named carrier may itself be demoted, but must be live.
# RETENTION: a demoted query stays only while at least one holds —
# bench.py's HEADLINE (or perfbench) times it; it is a reference-parity
# entry (plans/reference.py); a test compares an approximate query against
# it as the exact twin; or no other query reaches some package function
# it reaches. A demoted query every function of whose call graph a kept
# oracled query also reaches is deleted, not kept: its code keeps its
# oracle through that query.
DEMOTED: dict[str, Query] = {}


def register(
    name: str, sql: str | None = None, demoted: bool = False
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a Spark query with its oracle SQL twin.

    ``demoted=True`` routes the query to :data:`DEMOTED` — full local
    oracle coverage, no driver window slot (see DEMOTED's comment)."""

    def deco(fn: SparkQuery) -> SparkQuery:
        target = DEMOTED if demoted else REGISTRY
        if name in REGISTRY or name in DEMOTED:
            raise ValueError(f"duplicate query name: {name}")
        target[name] = Query(name=name, spark_fn=fn, sql=sql, doc=fn.__doc__ or "")
        return fn

    return deco


_PLAN_MODULES = (
    "aws_data_pipeline_spark.plans.reference",
    "aws_data_pipeline_spark.plans.analytics",
    "aws_data_pipeline_spark.plans.tpch",
    "aws_data_pipeline_spark.plans.llm",
    "aws_data_pipeline_spark.plans.quality",
    "aws_data_pipeline_spark.plans.streaming_batch",
)

# Registry iteration order = driver check order, and the driver's
# CORRECTNESS gate covers a bounded prefix of it (50 entries per round).
# The window ROTATES each round; with the round-5 consolidation the
# ORACLED count is exactly 100 — two 50-windows cover every oracled query,
# restoring the ≤1-round-stale guarantee the r4 verdict flagged as broken
# (the local oracle replica tests/test_oracle_parity.py besides asserts
# hash parity over REGISTRY + DEMOTED on every pytest run).
# STALENESS POLICY: rows-only entries (12 — the cap preflight enforces;
# the r10 ivfsq8 promotion demoted embedding_ann_ivf_indexed to hold
# it) get a weaker rows-ran driver
# signal that the local pytest suite fully replicates every run, so they
# cycle at lower priority; a first-ever driver signal outranks a refresh.
# Each rows-only entry seated in a window displaces one oracled entry
# past slot 100 — the displaced oracled entries lead the NEXT round's
# window (bounded, documented staleness: never more than one extra
# round, and the local oracle replica covers the gap every pytest run).
# ROUND-14 window (slots 1-50), generated by scripts/rotate_window.py
# --rows-seats 2 (default) from the executed-round history (rounds 1-5,
# 7-13; round 6 never ran). No promotion/demotion pairs this round (the
# optimization brief adds no features; the two late-r13 demoted births
# below stay pytest-covered and bench-visible).
# Composition:
#   slots 1-7   the seven displaced oracled entries the r13 rotation
#               left at 51+ for a second executed window (the bounded
#               documented displacement — they MUST lead per policy):
#               q1_pricing_summary, q12_priority_by_shipyear,
#               q13_customer_distribution, q19_disjunctive_revenue,
#               q22_idle_rich_customers, customer_insights,
#               regional_revenue.
#   slot  8     rows-only seat: incremental_duplicate_spans (oldest
#               rows-only refresh in the queue).
#   slot  9     rows-only seat: approx_distinct_customers (next-oldest).
#   slots 10-50 r12-green oracled refreshes (the half of the 2x50 cycle
#               not graded in r13), oldest signal first, ties by prior
#               registry position (so the diff stays reviewable).
# The oracled entries this leaves at slots 51+ — four r12-green
# spillovers (bpe_fertility_by_lang, silver_projection,
# source_mixture_weights, embedding_neardup_pairs; the 50-slot window
# holds 41 refresh seats after the leads) and the r13-green window
# (event_interarrival_stats .. q18_large_volume_customers) — are the
# bounded documented displacement: the four spillovers MUST lead round
# 15 per policy, the r13-greens re-enter behind them
# (staleness_audit.py verifies; rotate_window.py regenerates).
# ROUND-15 ROWS-SEAT QUEUE (kept current through this rotation): the
# remaining demoted rows-only miners, refresh-ordered — after this
# round's two refresh seats (incremental_duplicate_spans,
# approx_distinct_customers) the queue cycles price_percentiles_approx,
# embedding_ann_ivfpq, embedding_ann_sq8_indexed,
# heavy_hitter_tokens_approx, hard_negative_topk_indexed,
# quality_classifier_scores, then the r12-seated pair
# (dq_psi_price_drift_approx, hard_negative_topk_ivfsq8) by oldest
# signal. Candidate demotion carriers for future rows-only births mirror
# the r10-r13 precedents (composed searches carry persisted-index
# signals; exact oracled twins carry sketch entries).
# LATE-R13 ORACLED BIRTHS (demoted-with-full-oracle, parity-green at
# sf0.001 + sf0.01 from birth, promotable when the r14 rotation frees
# slots under the named-demotion rule): tfidf_cosine_pairs (weighted
# near-dup pairs by tf-idf cosine in shingle space — the sparse-vector
# member of the near-dup family; candidate carriers:
# provenance_fuzzy_link's shared-shingle equi-join, or
# embedding_neardup_pairs' thresholded-pair surface) and
# source_overlap_matrix (cross-source duplication/containment matrix —
# the pre-mixing crawl-overlap diagnostic; candidate carriers:
# source_mixture_weights' per-source surface, or ngram_jaccard's
# inverted-index chain via provenance_fuzzy_link). Round 14 (an
# optimization round) made no promotions; the next build-capable round
# picks per its staleness audit.
_PRIORITY = (
    "q1_pricing_summary",
    "q12_priority_by_shipyear",
    "q13_customer_distribution",
    "q19_disjunctive_revenue",
    "q22_idle_rich_customers",
    "customer_insights",
    "regional_revenue",
    "incremental_duplicate_spans",
    "approx_distinct_customers",
    "dq_ingest_volume_anomalies",
    "cohort_retention_daily",
    "collocation_pmi_scores",
    "temporal_split_embargo_events",
    "entity_resolution_mutual_pairs",
    "k_anonymity_customer_audit",
    "provenance_fuzzy_link",
    "json_props_stats",
    "asof_last_click_before_purchase",
    "daily_gapfill_nation_revenue",
    "scd2_customer_segment_history",
    "order_sequence_windows",
    "dq_zscore_outlier_counts",
    "dataset_split_assignments_portable",
    "minhash_lsh_dedup_portable",
    "simhash_hamming_pairs",
    "neardup_clusters",
    "dedup_exact_text",
    "lang_id_stopwords",
    "text_quality_scores",
    "span_scrubbed_docs",
    "weighted_sample_per_lang",
    "gopher_quality_flags",
    "semantic_dedup_flags",
    "benchmark_decontamination",
    "pii_redaction_stats",
    "multimodal_decode_features",
    "token_budget_sample_docs",
    "dq_profile_orders",
    "dq_rule_violations_lineitem",
    "bpe_merges",
    "bpe_token_counts",
    "curated_corpus_portable",
    "duplicate_span_stats",
    "dsir_importance_weights",
    "context_window_chunks",
    "leakage_safe_splits",
    "mixture_resample_docs",
    "stratified_sample_assignments_portable",
    "incremental_neardup_pairs",
    "quality_winsorized_by_source",
    "bpe_fertility_by_lang",
    "silver_projection",
    "source_mixture_weights",
    "embedding_neardup_pairs",
    "event_interarrival_stats",
    "event_path_trigrams",
    "conversion_latency_stats",
    "cdc_apply_batch_fold",
    "dq_referential_integrity",
    "rfm_customer_segments",
    "golden_customer_records",
    "sessionize_events",
    "multi_grain_rollup_hierarchical",
    "filter_valid_transactions",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "dq_ks_price_drift",
    "ann_recall_sq8",
    "dq_chisq_event_type_drift",
    "mmr_diversified_topk",
    "length_bucketed_batches",
    "embedding_ann_sq8_filtered",
    "q7_volume_shipping",
    "q8_market_share",
    "q21_suppliers_kept_waiting",
    "markup_stripped_docs",
    "edit_distance_dedup_portable",
    "hard_negative_topk",
    "accent_stripped_docs",
    "semi_join_active_customers",
    "full_outer_nation_balance",
    "trailing_30d_customer_spend",
    "sliding_window_counts",
    "events_within_10min",
    "sequence_packing",
    "token_counts",
    "doc_fingerprints",
    "cube_priority_status",
    "global_table_stats",
    "order_year_set_ops",
    "pivot_event_values",
    "bm25_scores",
    "salted_nation_order_stats",
    "sql_surface_order_status",
    "unpivot_returnflag_measures",
    "q10_returned_items",
    "q14_promo_effect",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "price_percentiles_approx",
    "embedding_ann_ivfpq",
    "embedding_ann_sq8_indexed",
    "heavy_hitter_tokens_approx",
    "hard_negative_topk_indexed",
    "quality_classifier_scores",
    "dq_psi_price_drift_approx",
    "hard_negative_topk_ivfsq8",
    "incremental_cluster_assignments",
    "text_neardup_index_probe",
)


def load_registry() -> dict[str, Query]:
    """Import all plan modules (populating REGISTRY), then reorder it so the
    priority prefix comes first (driver check order — see _PRIORITY)."""
    for mod in _PLAN_MODULES:
        importlib.import_module(mod)
    missing = [n for n in _PRIORITY if n not in REGISTRY]
    if missing:
        raise ValueError(f"_PRIORITY names not registered: {missing}")
    if len(set(_PRIORITY)) != len(_PRIORITY):
        raise ValueError("_PRIORITY contains duplicates")
    unlisted = [n for n in REGISTRY if n not in _PRIORITY]
    if unlisted:
        raise ValueError(f"registered but not in _PRIORITY: {unlisted}")
    ordered = {n: REGISTRY[n] for n in _PRIORITY}
    REGISTRY.clear()
    REGISTRY.update(ordered)
    return REGISTRY
