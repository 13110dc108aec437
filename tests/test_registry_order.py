"""The driver verifies only the first 50 registry entries (insertion
order). Pin the window so the rotation rule (oldest-green-first, see
queries/__init__.py) is executed exactly and an import-order change can
never silently shrink driver coverage.
"""

from claude_code_memory_spark.queries import REGISTRY, _DRIVER_WINDOW

# Round-12 window: the 12 r8-last-green deferrals (3 driver rounds
# stale — verdict r11 item 1: the pre-named round-12 queue), then the
# first 38 of the r9-last-green cohort in catalog order. Round 11
# added no catalog entries, so there is no never-checked segment this
# round. The 12 deferred r9 entries lead the round-13 queue; the head of
# that queue, debounce_last_event_wins, holds the slot of
# corpus_epoch_allocation, which left the catalog.
R8_DEFERRALS = {
    "transition_matrix_events",
    "scd2_user_state_intervals",
    "stickiness_dau_wau",
    "vector_pca_covariance",
    "sketch_kmv_mergeable",
    "sample_bottomk_per_type",
    "corr_matrix_lineitem",
    "anomaly_mad_outliers",
    "pareto_nation_revenue",
    "text_ttr_hapax",
    "text_sliding_chunks",
    "timeseries_ewma_window",
}

R9_COHORT_38 = {
    "dedup_embedding_neardup",
    "dedup_duplicate_clusters",
    "dedup_prefix_boilerplate",
    "debounce_last_event_wins",
    "split_train_val_test",
    "sample_stratified_by_lang",
    "graph_bfs2_brand_parts",
    "split_time_embargo",
    "q1_pricing_summary",
    "filter_exclude_pattern",
    "join_full_outer_diff",
    "window_top_customers_per_nation",
    "window_running_user_value",
    "rrf_fusion_events",
    "token_frequency_top50",
    "weighted_content_assembly",
    "ann_lsh_bucket",
    "asof_join_events",
    "multimodal_binary_stats",
    "q19_disjunctive_filter",
    "q2_top_supplier_per_part",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q12_priority_by_returnflag",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_count_by_part",
    "q18_large_volume_customers",
    "q21_sole_returning_supplier",
    "q22_idle_rich_customers",
    "q11_important_stock",
    "q20_dominant_supplier",
    "dense_topk_filtered",
    "knn_join_queries",
    "vector_quantization_error",
    "ann_ivf_probe",
}


def test_driver_window_is_the_staleness_sweep():
    window = set(list(REGISTRY)[:50])
    assert R8_DEFERRALS <= window, f"missing r8 deferrals: {sorted(R8_DEFERRALS - window)}"
    assert R9_COHORT_38 <= window, f"missing r9 cohort: {sorted(R9_COHORT_38 - window)}"
    assert len(R8_DEFERRALS | R9_COHORT_38) == 50


def test_window_is_exactly_the_declared_list():
    """The registry's first len(_DRIVER_WINDOW) entries ARE the declared
    window, in order — a silent reorder (e.g. an import-order change)
    would otherwise shrink driver coverage invisibly."""
    assert list(REGISTRY)[: len(_DRIVER_WINDOW)] == _DRIVER_WINDOW
    assert len(_DRIVER_WINDOW) == 50


def test_registry_complete():
    # every entry callable, oracles are strings when present
    assert len(REGISTRY) >= 152
    for name, e in REGISTRY.items():
        assert callable(e.fn), name
        assert e.oracle is None or isinstance(e.oracle, str), name
