"""Central query registry.  Every operator claimed in SURVEY.md §2 gets a
named entry here with its Spark callable and (where SQL-expressible) the
DuckDB oracle — the pair is what the driver's correctness gate checks."""

from __future__ import annotations

import dataclasses
from typing import Callable, Dict, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

from dataclass_array_spark.workload.base import load_tables  # re-export


@dataclasses.dataclass(frozen=True)
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    tags: Tuple[str, ...] = ()
    bench: bool = True  # include in bench.py headline timing


# The driver's per-round correctness gate checks roughly the first 50
# registry entries, so the window is ROTATED each round to keep every
# query under recurring verification.  Round 22 ordering: the 7 shape
# gates come first — their views (concat, stack, masks, gathers) became
# pieces and an index table over one base scan — then the r18 window
# (the stalest), exactly 50.  Past the window, the rest of the r18
# window, the r19 and r20 windows, with the r21 window — the freshest —
# last.
# Python dicts preserve insertion order, so this ordering is exactly
# what ``queries()`` exposes.
_PRIORITY: Tuple[str, ...] = (
    # ---- the 7 shape gates (their views are one scan of their base now) ----
    "shape_vectorize",
    "shape_vectorize_mat",
    "shape_mask_filter",
    "shape_gather",
    "shape_transpose",
    "shape_slice",
    "shape_concat_mapfield",
    # ---- r18 window (stalest) ----
    "lm_quality_docs",
    "bigram_lm_docs",
    "bigram_lm_heldout_docs",
    "kneser_ney_lm_docs",
    "kneser_ney_heldout_docs",
    "ccnet_buckets_docs",
    "kn_perplexity_docs",
    "kneser_ney3_lm_docs",
    "kneser_ney3_heldout_docs",
    "streaming_kn_score_docs",
    "streaming_trigram_counts_docs",
    "pmi_collocations_docs",
    "pack_context_windows",
    "q10_returned_items",
    "q4_order_priority",
    "q12_shipmode_priority",
    "q14_promo_revenue",
    "q18_large_orders",
    "q17_below_avg_parts",
    "q19_disjunctive_revenue",
    "q22_in_subquery",
    "q7_nation_volume",
    "skew_zipf_salted_agg",
    "ewma_user_values",
    "repetition_filter_docs",
    "asof_purchase_last_click",
    "budget_select_docs",
    "cohort_retention_events",
    "corr_price_quantity",
    "cube_nation_segment",
    "date_functions",
    "dedup_apply_minhash",
    "dedup_apply_simhash",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_auto",
    "dedup_simhash_pairs",
    "distinct_parts_per_supplier",
    "dq_validate_orders",
    "funnel_conversion_events",
    "grouping_sets_revenue",
    "join_variants_nulls",
    "json_extract_props",
    # ---- ==== window boundary (50) ====
    "merge_upsert_customers",
    "ntile_price_quartiles",
    "pii_scrub_docs",
    "pivot_user_event_counts",
    "profile_lineitem",
    "q1_pricing_summary",
    "q3_shipping_priority",
    # ---- r19 window, minus the shape gates ----
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q8_market_share",
    "q9_product_profit",
    "range_join_price_buckets",
    "rank_functions",
    "classifier_quality_docs",
    "blocklist_filter_docs",
    "domain_cap_docs",
    "classifier_sigmoid_docs",
    "temperature_mixture_alpha_docs",
    "rollup_flag_status",
    "salted_revenue_by_flag",
    "scalar_functions",
    "semi_anti_customers",
    "sessionize_events",
    "setops_repeat_customers",
    "sliding_hourly_stats",
    "string_functions2",
    "topk_orders_per_segment",
    "tumbling_hourly_stats",
    "udtf_bigram_counts",
    "unpivot_part_metrics",
    "window_moving_avg",
    "window_range_frame",
    "window_running_total",
    "order_quantity_arrays",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q21_waiting_supplier",
    "bm25_doc_ranking",
    "chunk_documents",
    "community_user_states",
    "decontam_ngram_overlap",
    "dedup_chunks_exact",
    "doc_fingerprints",
    "duplicate_spans_docs",
    "embedding_topk_cosine",
    "fuzzy_join_part_names",
    "kcore_user_states",
    "lang_id_docs",
    "classifier_train_docs",
    # ---- rest of the r20 window ----
    "embedding_knn_join",
    "embedding_knn_join_kmeans",
    "embedding_ann_pq",
    "embedding_ann_ivf_pq",
    "classifier_calibration_docs",
    "linkage_entity_clusters",
    "linkage_part_entities",
    "multimodal_metadata",
    "nucleus_select_docs",
    "ols_price_vs_quantity",
    "outlier_mad_quantity",
    "pipeline_quality_corpus",
    "scd2_customer_history",
    "simhash_fingerprints",
    "split_train_val_test",
    "stratified_sample_docs",
    "streaming_incremental_dedup",
    "text_stats",
    "tfidf_top_terms",
    "triangle_counts_events",
    "vocab_top_words",
    "weighted_sample_docs",
    "winsorize_price_stats",
    "countmin_token_freq",
    "streaming_countmin_tokens",
    "hll_distinct_users",
    "ols2_price_model",
    "streaming_hll_users",
    "dedup_keep_best_docs",
    "embedding_ann_sq8",
    "hll_overlap_users",
    "gap_fill_events",
    "dsir_weights_docs",
    "dedup_components",
    "dedup_incremental_docs",
    "classifier_ece_docs",
    "classifier_ece_by_source_docs",
    "classifier_brier_docs",
    "classifier_f1_best_docs",
    "classifier_brier_by_source_docs",
    "dedup_ngram_jaccard",
    "streaming_purchase_clicks",
    "streaming_quality_filter",
    "streaming_tumbling_hourly",
    "streaming_session_windows",
    "streaming_dedup_events",
    # ---- r21 window (freshest: verified in r21) ----
    "embedding_ann_srp",
    "embedding_ann_ivf",
    "embedding_ann_ivf_kmeans",
    "ann_recall_ivf_docs",
    "streaming_user_totals_stateful",
    "streaming_sliding_hourly",
    "streaming_decontam_docs",
    "domain_mixture_sample",
    "pipeline_pretrain_corpus",
    "tokenize_docs",
    "token_rarity_docs",
    "median_quantity_by_flag",
    "approx_sketches",
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q16_supplier_counts",
    "q20_promotion_suppliers",
    "hilbert_orders_layout",
    "zorder_orders_layout",
    "hilbert3d_orders_layout",
    "url_dedup_docs",
    "url_domain_stats_docs",
    "token_entropy_docs",
    "embedding_kmeans_clusters",
    "embedding_kmeans_two_level",
    "semantic_dedup_auto",
    "semantic_dedup_embeddings",
    "semantic_dedup_two_level",
    "text_cluster_topics",
    "dedup_embedding_neardup",
    "pack_ffd_docs",
    "multimodal_decode",
    "multimodal_frames",
    "bloom_filter_orders",
    "streaming_bloom_orders",
    "qdigest_quantiles_prices",
    "streaming_qdigest_prices",
    "hist_quantiles_prices",
    "streaming_hist_prices",
    "pagerank_event_hotspots",
    "grouped_rank_prices",
    "bpe_train_docs",
    "bpe_train_batched_docs",
    "bpe_encode_docs",
    "bpe_heldout_encode_docs",
    "bpe_fertility_langs",
    "classifier_auc_by_source_docs",
    "classifier_ks_docs",
    "classifier_auc_docs",
    "classifier_pr_docs",
)


def _collect() -> Dict[str, Query]:
    out: Dict[str, Query] = {}
    # Import errors must be LOUD: a swallowed ImportError here would
    # silently shrink the query registry and the gate would just see
    # fewer queries instead of a failure.
    for modname in (
        "tpch", "tpch2", "tpch3", "relational", "relational2",
        "events", "llm", "llm2", "llm3", "llm4", "llm5", "streaming",
        "shapes",
    ):
        mod = __import__(
            f"dataclass_array_spark.workload.{modname}", fromlist=["QUERIES"]
        )
        for k, v in mod.QUERIES.items():
            if k in out:
                raise ValueError(f"duplicate query name {k}")
            out[k] = v
    missing = [k for k in _PRIORITY if k not in out]
    if missing:
        raise ValueError(f"_PRIORITY names unknown queries: {missing}")
    ordered = {k: out[k] for k in _PRIORITY}
    ordered.update((k, v) for k, v in out.items() if k not in ordered)
    return ordered


QUERIES: Dict[str, Query] = _collect()
