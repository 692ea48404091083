"""The driver's correctness gate checks roughly the FIRST 50 registry
entries, so the _PRIORITY ordering is a per-round contract (VERDICT
item every round).  Pin the round-19 window so a refactor or a
mid-round gate insertion can never silently reorder it."""

from dataclass_array_spark.workload.catalog import QUERIES

_R19_WINDOW = [
    # the 7 shape gates: slice, einops, reshape and broadcast are views
    "shape_vectorize", "shape_vectorize_mat", "shape_mask_filter",
    "shape_gather", "shape_transpose", "shape_slice", "shape_concat_mapfield",
    # the rest of the r13/r14 blocks
    "q5_local_supplier_volume", "q6_forecast_revenue", "q8_market_share",
    "q9_product_profit", "range_join_price_buckets", "rank_functions",
    "classifier_quality_docs", "blocklist_filter_docs", "domain_cap_docs",
    "classifier_sigmoid_docs", "temperature_mixture_alpha_docs",
    "rollup_flag_status", "salted_revenue_by_flag", "scalar_functions",
    "semi_anti_customers", "sessionize_events", "setops_repeat_customers",
    "sliding_hourly_stats", "string_functions2", "topk_orders_per_segment",
    "tumbling_hourly_stats", "udtf_bigram_counts", "unpivot_part_metrics",
    "window_moving_avg", "window_range_frame", "window_running_total",
    "order_quantity_arrays", "q13_customer_distribution", "q15_top_supplier",
    "q21_waiting_supplier", "bm25_doc_ranking", "chunk_documents",
    "community_user_states", "decontam_ngram_overlap", "dedup_chunks_exact",
    "doc_fingerprints", "duplicate_spans_docs", "embedding_ann_srp",
    "embedding_topk_cosine", "fuzzy_join_part_names", "kcore_user_states",
    "lang_id_docs",
    # the head of the r15 block, up to exactly 50
    "classifier_train_docs",
]


def test_driver_window_is_pinned():
    assert list(QUERIES)[:50] == _R19_WINDOW


def test_previous_window_sits_after_the_window():
    """Past the boundary: the rest of the r15 block (the stalest
    left), then the r16 and r17 windows, and the r18 window —
    verified last round, so the freshest — queues last."""
    names = list(QUERIES)
    assert names[50] == "classifier_calibration_docs"
    assert names[-90] == "hilbert_orders_layout"
    assert names[-50] == "lm_quality_docs"
    assert names[-1] == "q3_shipping_priority"
    for g in names[50:]:
        assert g not in _R19_WINDOW


def test_every_query_has_full_oracle():
    """Full-oracle discipline: no rows-only checks anywhere."""
    assert len(QUERIES) >= 188
    missing = [k for k, q in QUERIES.items() if not q.oracle]
    assert missing == [], missing
