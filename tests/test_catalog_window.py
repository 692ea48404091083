"""The driver's correctness gate checks roughly the FIRST 50 registry
entries, so the _PRIORITY ordering is a per-round contract (VERDICT
item every round).  Pin the round-20 window so a refactor or a
mid-round gate insertion can never silently reorder it."""

from dataclass_array_spark.workload.catalog import QUERIES

_R20_WINDOW = [
    # the 8 gates whose IVF/PQ/SRP steps now run one Arrow kernel each
    "embedding_ann_srp", "embedding_ann_ivf", "embedding_ann_ivf_kmeans",
    "ann_recall_ivf_docs", "embedding_knn_join", "embedding_knn_join_kmeans",
    "embedding_ann_pq", "embedding_ann_ivf_pq",
    # the rest of the r15 block
    "classifier_calibration_docs", "linkage_entity_clusters",
    "linkage_part_entities", "multimodal_metadata", "nucleus_select_docs",
    "ols_price_vs_quantity", "outlier_mad_quantity", "pipeline_quality_corpus",
    "scd2_customer_history", "simhash_fingerprints", "split_train_val_test",
    "stratified_sample_docs", "streaming_incremental_dedup", "text_stats",
    "tfidf_top_terms", "triangle_counts_events", "vocab_top_words",
    "weighted_sample_docs", "winsorize_price_stats", "countmin_token_freq",
    "streaming_countmin_tokens", "hll_distinct_users", "ols2_price_model",
    "streaming_hll_users", "dedup_keep_best_docs", "embedding_ann_sq8",
    "hll_overlap_users", "gap_fill_events",
    # the head of the r16 window, up to exactly 50
    "dsir_weights_docs", "dedup_components", "dedup_incremental_docs",
    "classifier_ece_docs", "classifier_ece_by_source_docs",
    "classifier_brier_docs", "classifier_f1_best_docs",
    "classifier_brier_by_source_docs", "dedup_ngram_jaccard",
    "streaming_purchase_clicks", "streaming_quality_filter",
    "streaming_tumbling_hourly", "streaming_session_windows",
    "streaming_dedup_events",
]


def test_driver_window_is_pinned():
    assert list(QUERIES)[:50] == _R20_WINDOW


def test_previous_window_sits_after_the_window():
    """Past the boundary: the rest of the r16 window (the stalest
    left), then the r17 and r18 windows, and the r19 window —
    verified last round, so the freshest — queues last."""
    names = list(QUERIES)
    assert names[50] == "streaming_user_totals_stateful"
    assert names[-132] == "hilbert_orders_layout"
    assert names[-99] == "lm_quality_docs"
    assert names[-49] == "shape_vectorize"
    assert names[-1] == "classifier_train_docs"
    for g in names[50:]:
        assert g not in _R20_WINDOW


def test_every_query_has_full_oracle():
    """Full-oracle discipline: no rows-only checks anywhere."""
    assert len(QUERIES) >= 188
    missing = [k for k, q in QUERIES.items() if not q.oracle]
    assert missing == [], missing
