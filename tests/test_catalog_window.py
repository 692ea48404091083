"""The driver's correctness gate checks roughly the FIRST 50 registry
entries, so the _PRIORITY ordering is a per-round contract (VERDICT
item every round).  Pin the round-22 window so a refactor or a
mid-round gate insertion can never silently reorder it."""

from dataclass_array_spark.workload.catalog import QUERIES

_R22_WINDOW = [
    # the 7 shape gates, whose views are one scan of their base now
    "shape_vectorize", "shape_vectorize_mat", "shape_mask_filter",
    "shape_gather", "shape_transpose", "shape_slice", "shape_concat_mapfield",
    # the r18 window, up to the boundary
    "lm_quality_docs", "bigram_lm_docs", "bigram_lm_heldout_docs",
    "kneser_ney_lm_docs", "kneser_ney_heldout_docs", "ccnet_buckets_docs",
    "kn_perplexity_docs", "kneser_ney3_lm_docs", "kneser_ney3_heldout_docs",
    "streaming_kn_score_docs", "streaming_trigram_counts_docs",
    "pmi_collocations_docs", "pack_context_windows", "q10_returned_items",
    "q4_order_priority", "q12_shipmode_priority", "q14_promo_revenue",
    "q18_large_orders", "q17_below_avg_parts", "q19_disjunctive_revenue",
    "q22_in_subquery", "q7_nation_volume", "skew_zipf_salted_agg",
    "ewma_user_values", "repetition_filter_docs", "asof_purchase_last_click",
    "budget_select_docs", "cohort_retention_events", "corr_price_quantity",
    "cube_nation_segment", "date_functions", "dedup_apply_minhash",
    "dedup_apply_simhash", "dedup_exact_docs", "dedup_minhash_lsh",
    "dedup_minhash_lsh_auto", "dedup_simhash_pairs",
    "distinct_parts_per_supplier", "dq_validate_orders",
    "funnel_conversion_events", "grouping_sets_revenue", "join_variants_nulls",
    "json_extract_props",
]


def test_driver_window_is_pinned():
    assert list(QUERIES)[:50] == _R22_WINDOW


def test_previous_window_sits_after_the_window():
    """Past the boundary: the rest of the r18 window, the r19 and r20
    windows (the stalest left), then the r21 window — verified last
    round, so the freshest — queues last."""
    names = list(QUERIES)
    assert names[50] == "merge_upsert_customers"
    assert names[-138] == "q5_local_supplier_volume"
    assert names[-96] == "embedding_knn_join"
    assert names[-50] == "embedding_ann_srp"
    assert names[-1] == "classifier_pr_docs"
    for g in names[50:]:
        assert g not in _R22_WINDOW


def test_every_query_has_full_oracle():
    """Full-oracle discipline: no rows-only checks anywhere."""
    assert len(QUERIES) >= 188
    missing = [k for k, q in QUERIES.items() if not q.oracle]
    assert missing == [], missing
