"""Query-plan surface: the named queries the engine exposes.

Each query is a ``QuerySpec``: a DataFrame-producing function
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) the exact
ANSI-SQL oracle DuckDB runs on the same parquet for the correctness gate.

Registry contract (driver harness, see ``__spark_entry__.py``):
- Output column NAMES must match between Spark and oracle (the driver
  sorts columns by name before hashing).
- Output VALUES must be bit-deterministic: exact DECIMAL sums cast to
  double, explicit tie-breaks on every LIMIT, rounded outputs for
  fixed-length float math (see ``functions/__init__.py``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    description: str = ""
    tags: tuple[str, ...] = ()


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    description: str = "",
    tags: tuple[str, ...] = (),
):
    """Decorator: add a query function to the registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(name, fn, oracle, description, tags)
        return fn

    return deco


#: The registry's canonical ordering, frozen at the round-12 split of
#: plans/extensions.py into family modules: registration order is the
#: final tiebreak of the driver's 50-slot recording window, so it must
#: not depend on which module a query happens to live in or the import
#: sequence. Names NOT in this manifest (new queries) sort after it in
#: their own registration order — adding a query needs no manifest
#: edit; moving one between modules changes nothing.
_CANONICAL_ORDER: tuple[str, ...] = (
    "row_count_lineitem",
    "events_overview",
    "top20_users_by_events",
    "top_event_types_by_avg_value",
    "event_type_share",
    "value_histogram",
    "hourly_event_rollup",
    "json_props_extract",
    "top20_users_by_events_salted",
    "daily_active_users",
    "sql_passthrough_event_value",
    "events_overview_approx",
    "event_type_value_quantiles_sketch",
    "trailing7d_type_quantiles_sketch",
    "daily_event_type_pivot",
    "top50_tokens",
    "weekly_moving_avg_events",
    "event_value_deciles",
    "click_purchase_funnel",
    "variant_props_rollup",
    "tfidf_top_terms",
    "bm25_search_documents",
    "scatter_value_user_sample",
    "user_retention_cohorts",
    "lineitem_metrics_unpivot",
    "props_map_rollup",
    "event_value_outliers",
    "sliding_6h_event_counts",
    "user_recency_weighted_activity",
    "redact_numeric_props_events",
    "ordered_funnel_view_click_purchase",
    "winsorized_event_values",
    "daily_activity_reconciliation",
    "dedup_exact_documents",
    "text_stats_documents",
    "document_fingerprints",
    "ngram_jaccard_pairs",
    "minhash_lsh_near_dups",
    "simhash_documents",
    "simhash_near_dups",
    "simhash_near_dups_wide",
    "embedding_ivf_index_topk",
    "embedding_ivf_filtered_topk",
    "embedding_cosine_topk",
    "embedding_ivf_topk",
    "lang_id_documents",
    "quality_score_documents",
    "bpe_token_counts",
    "multimodal_decode_features",
    "multimodal_image_fingerprints",
    "multimodal_image_dedup_groups",
    "gdpr_delete_documents",
    "multimodal_audio_features",
    "multimodal_audio_fingerprints",
    "multimodal_video_fingerprints",
    "multimodal_video_frame_sample",
    "embedding_lsh_near_dups",
    "embedding_lsh_near_dups_wide",
    "curate_training_documents",
    "near_dup_doc_clusters",
    "near_dup_quality_canonicals",
    "train_val_test_split",
    "leakage_safe_split_documents",
    "benchmark_decontamination",
    "repetition_stats_documents",
    "gopher_quality_gate_documents",
    "curate_training_corpus_v3",
    "ngram_repetition_documents",
    "top_bigrams",
    "token_length_histogram",
    "unigram_logprob_documents",
    "bigram_logprob_documents",
    "ccnet_perplexity_buckets",
    "stratified_sample_by_lang",
    "source_mixing_weights",
    "incremental_dedup_documents",
    "token_budget_shards",
    "streaming_scd2_sync",
    "streaming_cow_upsert_sync",
    "bpe_train_merges_documents",
    "bpe_segment_documents",
    "bpe_segment_documents_served",
    "semantic_dedup_embeddings",
    "semantic_dedup_split_cells",
    "semantic_dedup_new_vs_corpus",
    "semantic_dedup_new_vs_corpus_served",
    "pack_training_sequences",
    "prepare_training_corpus",
    "embedding_dimension_stats",
    "source_quality_summary",
    "embedding_int8_quantization",
    "near_dup_keep_best_quality",
    "ensemble_near_dups",
    "embedding_diverse_sample",
    "passage_dedup_documents",
    "exact_substring_dup_spans",
    "exact_substring_dedup_documents",
    "decontamination_overlap_spans",
    "decontamination_overlap_spans_served",
    "exact_substring_new_vs_corpus",
    "temperature_sampled_language_mix",
    "exact_substring_cut_new_vs_corpus",
    "streaming_incremental_substring_sync",
    "streaming_decontamination_sync",
    "curate_training_corpus_v2",
    "near_dedup_new_vs_corpus",
    "chunk_documents_sliding",
    "streaming_near_dedup_sync",
    "jsonl_corpus_roundtrip",
    "pii_scrub_documents",
    "orc_corpus_roundtrip",
    "cowtable_merge_roundtrip",
    "cowtable_snapshot_diff",
    "cowtable_zorder_pruned_scan",
    "cowtable_bloom_point_lookup",
    "embedding_random_projection",
    "trade_graph_pagerank",
    "corpus_drift_psi",
    "hashed_token_vectors",
    "weighted_sample_documents",
    "dsir_resample_documents",
    "embedding_pq_topk",
    "embedding_ivfpq_topk",
    "embedding_ivfpq_filtered_topk",
    "embedding_ivfpq_append_topk",
    "ivfpq_cell_drift",
    "cms_heavy_hitters_tokens",
    "sessionize_events_batch",
    "fuzzy_part_name_links",
    "bloom_semi_join_urgent_revenue",
    "streaming_cms_sync",
    "streaming_type_quantiles_sync",
    "cow_incremental_rollup",
    "event_value_trend_by_type",
    "daily_volume_anomalies",
    "source_lang_entropy",
    "hybrid_rrf_search",
    "benford_totalprice_audit",
    "sessionize_native_session_window",
    "event_type_markov_transitions",
    "token_pmi_collocations",
    "trade_graph_degree_distribution",
    "trigram_like_search",
    "bm25_index_search",
    "medallion_silver_events",
    "dedup_window_events",
    "impute_stats_events",
    "null_counts_events",
    "metadata_enrichment_events",
    "dq_checks_events",
    "streaming_hourly_rollup_sync",
    "streaming_sessionize_sync",
    "streaming_stream_stream_join_sync",
    "q1_pricing_summary",
    "top10_customers_by_revenue",
    "regional_revenue",
    "bucketed_orders_lineitem_revenue",
    "customers_without_orders",
    "parts_in_open_orders_semi",
    "order_status_rollup",
    "user_custkey_setops",
    "user_session_windows",
    "asof_click_purchase",
    "orders_within_30d_pairs",
    "order_priority_cube",
    "lineitem_quantity_percentiles",
    "q6_forecast_revenue",
    "top3_customers_per_nation",
    "cumulative_daily_revenue",
    "small_quantity_parts_revenue",
    "customer_order_count_distribution",
    "significant_parts_by_revenue",
    "daily_revenue_gapfill",
    "customer_scd2_segment_update",
    "top10_customers_by_revenue_salted",
    "referential_integrity_checks",
    "click_since_purchase_latency",
    "q3_shipping_priority",
    "q12_shipmode_priority",
    "q14_promo_revenue_share",
    "q18_large_volume_customers",
    "nation_revenue_ranks",
    "q7_nation_trade_volume",
    "q10_returned_item_customers",
    "q19_disjunctive_promo_revenue",
    "cheapest_part_per_size",
    "q4_late_shipment_priority",
    "q22_rich_customers_without_orders",
    "lineitem_column_stats",
    "q5_local_supplier_volume",
    "q8_nation_market_share",
    "q15_top_supplier",
    "q21_waiting_suppliers",
    "lineitem_grouping_sets",
    "q9_nation_profit",
    "q16_supplier_part_variety",
    "q20_excess_quantity_suppliers",
    "q2_min_cost_supplier",
)


# The driver's correctness harness records only the FIRST 50 registry
# entries each round, so registration order decides which queries get a
# durable CORRECTNESS_r{N}.json row.  We therefore order the registry so
# queries that have never appeared in any recorded round come first, and
# within those, the highest-signal families (TPC-H suite, streaming
# gates, the newest dedup ops) lead.  Recorded sets are read from the
# CORRECTNESS_r*.json artifacts at the repo root, so the rotation is
# self-maintaining across rounds.
_PRIORITY_UNRECORDED = (
    # streaming gates (real streams drained via availableNow)
    "streaming_hourly_rollup_sync",
    "streaming_sessionize_sync",
    "streaming_stream_stream_join_sync",
    "streaming_near_dedup_sync",
    "streaming_scd2_sync",
    # TPC-H shapes never recorded by the driver
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q4_late_shipment_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_nation_trade_volume",
    "q8_nation_market_share",
    "q9_nation_profit",
    "q10_returned_item_customers",
    "q12_shipmode_priority",
    "q14_promo_revenue_share",
    "q15_top_supplier",
    "q16_supplier_part_variety",
    "q18_large_volume_customers",
    "q19_disjunctive_promo_revenue",
    "q20_excess_quantity_suppliers",
    "q21_waiting_suppliers",
    "q22_rich_customers_without_orders",
    # newest LLM-pipeline ops
    "passage_dedup_documents",
    "near_dedup_new_vs_corpus",
    "chunk_documents_sliding",
    "jsonl_corpus_roundtrip",
    "embedding_random_projection",
    "pii_scrub_documents",
    "orc_corpus_roundtrip",
    "pack_training_sequences",
    "semantic_dedup_embeddings",
    "bm25_search_documents",
    "bpe_train_merges_documents",
    "multimodal_audio_features",
    "multimodal_video_frame_sample",
    "daily_activity_reconciliation",
    "gdpr_delete_documents",
    # the r03-verdict list of 18 never-recorded queries — their first
    # rows are an explicit verdict item, so they outrank any query
    # registered after the verdict
    "asof_click_purchase",
    "orders_within_30d_pairs",
    "order_priority_cube",
    "lineitem_quantity_percentiles",
    "top3_customers_per_nation",
    "cumulative_daily_revenue",
    "small_quantity_parts_revenue",
    "customer_order_count_distribution",
    "significant_parts_by_revenue",
    "daily_revenue_gapfill",
    "customer_scd2_segment_update",
    "top10_customers_by_revenue_salted",
    "referential_integrity_checks",
    "click_since_purchase_latency",
    "nation_revenue_ranks",
    "cheapest_part_per_size",
    "lineitem_column_stats",
    "lineitem_grouping_sets",
)


#: Queries whose IMPLEMENTATION materially changed this round: their old
#: green row no longer certifies the current code, so they jump the
#: staleness queue (right behind failures/upgrades) to get re-recorded.
_FORCE_RERECORD: tuple[str, ...] = ()


def _recorded_status() -> dict[str, tuple[int, str]]:
    """``{name: (last_recorded_round, status)}`` from every past round's
    CORRECTNESS_r*.json (repo root); status ∈ pass|fail|no_oracle."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out: dict[str, tuple[int, str]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if row.get("err") == "no_oracle":
                status = "no_oracle"
            elif row.get("hash_match") and row.get("rows_match"):
                status = "pass"
            else:
                status = "fail"
            prev = out.get(name)
            if prev is None or rnd >= prev[0]:
                out[name] = (rnd, status)
    return out


def all_queries() -> dict[str, QuerySpec]:
    """Import every plan module (side-effect: registration) and return
    the full registry, ordered for the driver's 50-slot recording
    window. Priority (most-urgent first):

    0. last record FAILED — the fix needs a green row before anything
       else (a known-bad row outranks a missing row);
    1. last record was rows-only (``no_oracle``) but the query NOW has
       an oracle — the upgrade needs a hash row (a verdict item when
       it happens);
    2. never recorded — must get a first row;
    3. implementation changed this round (``_FORCE_RERECORD``) — the
       old green row certifies dead code;
    4. everything else, STALEST recorded round first — so previously
       recorded queries keep cycling back through the window and a
       late regression can't hide forever (round-3 advice).

    With no artifacts on disk (fresh checkout) every query is group 2
    and the order is the deterministic priority list + registration
    order — no environment dependence beyond the artifacts themselves.
    """
    from spotify_tracks_etl_portfolio_spark.plans import (  # noqa: F401
        analytics,
        extensions,
        medallion_queries,
        relational,
    )

    recorded = _recorded_status()
    prio = {name: i for i, name in enumerate(_PRIORITY_UNRECORDED)}
    force = {name: i for i, name in enumerate(_FORCE_RERECORD)}

    def sort_key(item: tuple[int, str]) -> tuple[int, int, int, int]:
        idx, name = item
        rec = recorded.get(name)
        if rec is None:
            return (2, prio.get(name, len(prio)), 0, idx)
        rnd, status = rec
        if status == "fail":
            return (0, 0, rnd, idx)
        if status == "no_oracle" and QUERIES[name].oracle is not None:
            return (1, 0, rnd, idx)
        if name in force:
            return (3, force[name], 0, idx)
        return (4, 0, rnd, idx)

    # Canonicalize registration order before the priority sort: the
    # manifest pins the pre-split order; names beyond it (new queries)
    # keep their own registration order after it. This makes the
    # window's idx tiebreak independent of module layout.
    canon = {n: i for i, n in enumerate(_CANONICAL_ORDER)}
    ins = {n: i for i, n in enumerate(QUERIES)}
    base = sorted(
        QUERIES,
        key=lambda n: (0, canon[n]) if n in canon else (1, ins[n]),
    )
    ordered = sorted(enumerate(base), key=sort_key)
    return {name: QUERIES[name] for _, name in ordered}
