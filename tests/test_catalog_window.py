"""The driver's correctness gate checks roughly the FIRST 50 registry
entries, so the _PRIORITY ordering is a per-round contract (VERDICT
item every round).  Pin the round-17 window so a refactor or a
mid-round gate insertion can never silently reorder it."""

from dataclass_array_spark.workload.catalog import QUERIES

_R17_WINDOW = [
    # layout and url gates, whose modules lost gate-less code
    "hilbert_orders_layout", "zorder_orders_layout",
    "hilbert3d_orders_layout", "url_dedup_docs", "url_domain_stats_docs",
    # NULL-id grouping fix
    "token_entropy_docs",
    # the 17 kernel gates on the Arrow kernel boundary
    "embedding_kmeans_clusters", "embedding_kmeans_two_level",
    "semantic_dedup_auto", "semantic_dedup_embeddings",
    "semantic_dedup_two_level", "text_cluster_topics", "embedding_ann_ivf",
    "embedding_ann_ivf_kmeans", "ann_recall_ivf_docs", "embedding_knn_join",
    "embedding_knn_join_kmeans", "dedup_embedding_neardup",
    "embedding_ann_pq", "embedding_ann_ivf_pq", "pack_ffd_docs",
    "multimodal_decode", "multimodal_frames",
    # VERDICT r16 item 2: driver-fold and sketch gates
    "bloom_filter_orders", "streaming_bloom_orders",
    "qdigest_quantiles_prices", "streaming_qdigest_prices",
    "hist_quantiles_prices", "streaming_hist_prices",
    "pagerank_event_hotspots", "grouped_rank_prices", "bigram_lm_docs",
    "bigram_lm_heldout_docs", "streaming_kn_score_docs",
    # the five BPE gates
    "bpe_train_docs", "bpe_train_batched_docs", "bpe_encode_docs",
    "bpe_heldout_encode_docs", "bpe_fertility_langs",
    # the seven shape_* gates
    "shape_vectorize", "shape_vectorize_mat", "shape_mask_filter",
    "shape_gather", "shape_transpose", "shape_slice",
    "shape_concat_mapfield",
    # cumsum consumers: grouped (auc by source), then the global twin's
    "classifier_auc_by_source_docs", "classifier_ks_docs",
    "classifier_auc_docs", "classifier_pr_docs",
]


def test_driver_window_is_pinned():
    assert list(QUERIES)[:50] == _R17_WINDOW


def test_previous_window_sits_after_the_window():
    """Past the boundary: the one overflow gate, then the stalest
    entries (the r12 cohort's tail), and the r16 window — verified by
    the driver last round, so the freshest — queues last."""
    names = list(QUERIES)
    assert names[50] == "pack_context_windows"
    assert names[51] == "q10_returned_items"
    assert names[-34] == "kneser_ney3_lm_docs"
    assert names[-1] == "q20_promotion_suppliers"
    for g in names[50:]:
        assert g not in _R17_WINDOW


def test_every_query_has_full_oracle():
    """Full-oracle discipline: no rows-only checks anywhere."""
    assert len(QUERIES) >= 188
    missing = [k for k, q in QUERIES.items() if not q.oracle]
    assert missing == [], missing
