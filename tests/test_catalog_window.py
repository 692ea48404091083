"""The driver's correctness gate checks roughly the FIRST 50 registry
entries, so the _PRIORITY ordering is a per-round contract (VERDICT
item every round).  Pin the round-21 window so a refactor or a
mid-round gate insertion can never silently reorder it."""

from dataclass_array_spark.workload.catalog import QUERIES

_R21_WINDOW = [
    # the 4 gates on the ivf_topk/srp_lsh_topk pair scorer
    "embedding_ann_srp", "embedding_ann_ivf", "embedding_ann_ivf_kmeans",
    "ann_recall_ivf_docs",
    # the rest of the r16 window
    "streaming_user_totals_stateful", "streaming_sliding_hourly",
    "streaming_decontam_docs", "domain_mixture_sample",
    "pipeline_pretrain_corpus", "tokenize_docs", "token_rarity_docs",
    "median_quantity_by_flag", "approx_sketches", "q2_min_cost_supplier",
    "q11_important_parts", "q16_supplier_counts", "q20_promotion_suppliers",
    # the r17 block
    "hilbert_orders_layout", "zorder_orders_layout",
    "hilbert3d_orders_layout", "url_dedup_docs", "url_domain_stats_docs",
    "token_entropy_docs", "embedding_kmeans_clusters",
    "embedding_kmeans_two_level", "semantic_dedup_auto",
    "semantic_dedup_embeddings", "semantic_dedup_two_level",
    "text_cluster_topics", "dedup_embedding_neardup", "pack_ffd_docs",
    "multimodal_decode", "multimodal_frames", "bloom_filter_orders",
    "streaming_bloom_orders", "qdigest_quantiles_prices",
    "streaming_qdigest_prices", "hist_quantiles_prices",
    "streaming_hist_prices", "pagerank_event_hotspots",
    "grouped_rank_prices", "bpe_train_docs", "bpe_train_batched_docs",
    "bpe_encode_docs", "bpe_heldout_encode_docs", "bpe_fertility_langs",
    "classifier_auc_by_source_docs", "classifier_ks_docs",
    "classifier_auc_docs", "classifier_pr_docs",
]


def test_driver_window_is_pinned():
    assert list(QUERIES)[:50] == _R21_WINDOW


def test_previous_window_sits_after_the_window():
    """Past the boundary: the r18 and r19 windows (the stalest left),
    then the rest of the r20 window — verified last round, so the
    freshest — queues last."""
    names = list(QUERIES)
    assert names[50] == "lm_quality_docs"
    assert names[-95] == "shape_vectorize"
    assert names[-46] == "embedding_knn_join"
    assert names[-1] == "streaming_dedup_events"
    for g in names[50:]:
        assert g not in _R21_WINDOW


def test_every_query_has_full_oracle():
    """Full-oracle discipline: no rows-only checks anywhere."""
    assert len(QUERIES) >= 188
    missing = [k for k, q in QUERIES.items() if not q.oracle]
    assert missing == [], missing
