"""Aggregate the query registry: importing the modules populates it.

After registration the catalog is reordered for the correctness
harness.  The driver emits CORRECTNESS rows for roughly the first 50
registered queries per round (r1: 50 of 66, r2: 50 of 80), so
whatever the harness's budget, the queries whose verdicts carry the
most NEW information must come first.

Rotation policy (round-2 item 1, amended by round-6 item 1c and
round 11): **red-first, then rewritten-since-last-check, then
stale-first**.  Every query is keyed by the last round in which the
driver recorded a row for it (``_LAST_CHECKED``; absent = never
checked = round 0), by whether that latest row was red — ERR /
hash-fail / ``no_oracle`` (``_RED_LATEST``) — and by whether its
implementation was rewritten after that row (``_REPROVE_NEXT``).
Order:

1. red-latest queries first (a local fix needs driver proof — these
   carry the most information and must never miss the budget),
2. then green queries whose implementation was rewritten since their
   last row (the rewrite needs driver re-proof NOW, not in 3 rounds
   when its tier comes back around),
3. then never-driver-checked queries (new this round),
4. then progressively staler green tiers, oldest first,

and within a tier the original registration order is preserved.  Under
a ~50-row budget this guarantees a red row gets re-checked the very
next round.  The tables below are maintained by hand.
``tests/test_plan_audit.py`` asserts the rotation is monotone.
"""

from __future__ import annotations

# Import order is alphabetical-ish; each module registers on import.
from tweets_spark_top_10_spark.queries import (  # noqa: F401
    bpe_queries,
    graph_queries,
    layout_queries,
    metrics_queries,
    multimodal_queries,
    pipeline_queries,
    relational,
    relational2,
    relational3,
    retrieval_queries,
    similarity_queries,
    text_queries,
    udf_queries,
    window_queries,
)
from tweets_spark_top_10_spark.queries.registry import ORACLE, QUERIES

# Last round in which the driver's correctness report contained a
# row for the query.  Maintained by hand: a query absent here has never
# been checked and sorts first.  Every row listed below was green in
# its round (r2 had zero fails; the r1 rows listed here are the 30 not
# re-checked in r2, all green in r1).
_LAST_CHECKED: dict[str, int] = {
    # --- last driver row: round 15 ---
    "user_running_value": 15,
    "customers_without_big_orders": 15,
    "late_shipping_priority": 15,
    "nations_cust_and_supp": 15,
    "urgent_only_customers": 15,
    "lineitem_rollup": 15,
    "supplier_distinct_parts": 15,
    "part_predicates": 15,
    "event_props_k": 15,
    "customer_balance_ranks": 15,
    "order_status_cube": 15,
    "segment_priority_sets": 15,
    "part_string_funcs": 15,
    "props_map_access": 15,
    "props_key_counts": 15,
    "approx_distinct_users": 15,
    "nation_activity_full_outer": 15,
    "customer_order_counts_right": 15,
    "part_lineitem_left": 15,
    "quantity_bucket_ranges": 15,
    "purchase_last_view_asof": 15,
    "event_lag_lead": 15,
    "priority_status_pivot": 15,
    "lsh_knn_top5": 15,
    "bloom_semi_revenue": 15,
    "orders_cdc_merge": 15,
    "orders_quality_audit": 15,
    "orders_snapshot_diff": 15,
    "orders_scd2_history": 15,
    "concurrent_part_shipments": 15,
    "orders_pit_lookup": 15,
    "priority_price_minmax_ivm": 15,
    "customer_ancestry_depth_sql": 15,
    "order_measures_unpivot": 15,
    "nullsafe_segment_match": 15,
    "synthetic_events_by_type": 15,
    "doc_chunks": 15,
    "doc_weighted_sample": 15,
    "customer_pseudonymized_spend": 15,
    "grouped_heavy_hitters": 15,
    "heavy_hitters_top10": 15,
    "hourly_heavy_hitters": 15,
    "embedding_arrow_norms": 15,
    "user_hourly_gapfill": 15,
    "user_value_anomalies": 15,
    "event_value_moments": 15,
    "bpe_merge_table": 15,
    "bpe_subword_vocab_top20": 15,
    "bucketed_segment_revenue": 15,
    "bpe_encode_docs": 15,
    # --- last driver row: round 16 ---
    "media_frame_counts": 16,
    "media_resize_stats": 16,
    "media_image_features": 16,
    "ref_top10_tokens": 16,
    "top_event_types": 16,
    "q1_pricing_summary": 16,
    "monthly_revenue": 16,
    "segment_order_stats": 16,
    "status_priority_grouping_sets": 16,
    "quantity_percentiles": 16,
    "user_trailing_hour_value": 16,
    "orders_profile": 16,
    "deterministic_sample_stats": 16,
    "customer_priority_lists": 16,
    "embedding_norms": 16,
    "knn_cosine_top5": 16,
    "label_centroids": 16,
    "embedding_near_dup_pairs": 16,
    "ivf_knn_top5": 16,
    "dedup_exact_docs": 16,
    "doc_token_stats": 16,
    "doc_stopword_ratio": 16,
    "urgent_vs_customer_avg_sql": 16,
    "approx_quantile_gate": 16,
    "priority_revenue_ivm": 16,
    "doc_token_ids": 16,
    "nation_pair_trade_volume": 16,
    "returned_item_losses": 16,
    "user_conversion_funnel": 16,
    "user_hourly_ohlc": 16,
    "user_value_trend": 16,
    "doc_feature_hashing": 16,
    "event_value_winsorized": 16,
    "pq_adc_top5_prebuilt": 16,
    "opq_adc_top5_prebuilt": 16,
    "semantic_dedup_keep": 16,
    "ivfpq_adc_top5_prebuilt": 16,
    "doc_gopher_repetition": 16,
    "lang_token_budget_sample": 16,
    "doc_dup_spans": 16,
    "curriculum_interleave": 16,
    "lang_mixture_weights": 16,
    "doc_length_batches": 16,
    "doc_quality_tiers": 16,
    "label_centroids_arrow": 16,
    "nation_balance_drift_ks": 16,
    "embedding_rp_project": 16,
    "training_pipeline_docs": 16,
    "maxsim_label_top3": 16,
    "hybrid_rrf_top5": 16,
    # --- last driver row: round 17 ---
    "top_revenue_orders": 17,
    "regional_customer_revenue": 17,
    "top_orders_per_customer": 17,
    "embedding_quantize_int8": 17,
    "doc_fingerprints": 17,
    "doc_split_assignment": 17,
    "doc_normalize": 17,
    "sliding_event_windows": 17,
    "hourly_event_windows": 17,
    "event_value_udaf": 17,
    "doc_pii_redact": 17,
    "salted_token_count_top20": 17,
    "stratified_sample_docs": 17,
    "top_bigrams": 17,
    "label_centroids_pandas": 17,
    "user_sessions": 17,
    "doc_quality": 17,
    "langid_heuristic": 17,
    "lsh_knn_invariants": 17,
    "doc_tfidf_top3": 17,
    "pq_codes": 17,
    "doc_sentences_udtf": 17,
    "pq_adc_top5": 17,
    "ngram_jaccard_dup_pairs": 17,
    "simhash_near_dups": 17,
    "simhash_invariants": 17,
    "minhash_lsh_candidates": 17,
    "customer_balance_distribution": 17,
    "dedup_canonical_docs": 17,
    "ivfpq_adc_top5": 17,
    "pq_adc_lloyd_top5": 17,
    "dedup_components": 17,
    "lateral_top2_orders_sql": 17,
    "event_props_variant": 17,
    "mergeable_user_sketches": 17,
    "user_latest_event": 17,
    "pq_adc_opq_top5": 17,
    "doc_contamination": 17,
    "doc_pack_bins": 17,
    "part_name_fuzzy_pairs": 17,
    "nation_trade_pagerank": 17,
    "metrics_order_summary": 17,
    "metrics_event_by_type": 17,
    "media_audio_stats": 17,
    "pq_adc_opq_rerank_top5": 17,
    "opq_adc_rerank_top5_prebuilt": 17,
    "dedup_keep_best_quality": 17,
    "bpe_merge_table_batched": 17,
    "rp_ivf_rerank_top5": 17,
    "rp_ivf_rerank_top5_prebuilt": 17,
}


# Queries whose LATEST driver row was red (ERR / hash-fail /
# no_oracle).  Maintained by hand; these sort ahead of everything,
# including never-checked queries.
_RED_LATEST: set[str] = set()

# Queries whose IMPLEMENTATION was rewritten after their last driver
# row (name -> round the rewrite landed in).  Builder-curated when a
# green query's plan changes materially: freshest-tier queries sort
# LAST under stale-first ordering, so without this a rewrite could
# wait ~3 rounds for driver re-proof (round-11: the lsh_knn_top5 SRP
# rewrite landed the round after its last check).  These sort just
# after red; clear a name by hand once a driver row from >= its marked
# round lands.
#
# round-12: srp_signatures gained entry guards (n_bits <= 62
# ValueError; in-plan raise_error on vector length != dim) — the
# __codes expression is now wrapped in a CASE WHEN, so re-prove the
# SRP-banding consumer even though valid-data values are
# byte-identical (guards verified perf-neutral, same harness).
_REPROVE_NEXT: dict[str, int] = {}


def _reorder() -> None:
    """Stable sort of the registry: red-latest first, then rewritten-
    since-last-check (_REPROVE_NEXT), then ascending last-checked
    round, registration order preserved within a tier."""
    names = sorted(
        QUERIES,
        key=lambda n: -2
        if n in _RED_LATEST
        else (-1 if n in _REPROVE_NEXT else _LAST_CHECKED.get(n, 0)),
    )
    ordered = {n: QUERIES[n] for n in names}
    QUERIES.clear()
    QUERIES.update(ordered)
    # Keep ORACLE iteration aligned with QUERIES.
    oracle = {n: ORACLE[n] for n in ordered if n in ORACLE}
    ORACLE.clear()
    ORACLE.update(oracle)


_reorder()

__all__ = ["ORACLE", "QUERIES"]
