"""Driver-contract registry invariants (import-level, no Spark session).

The registry is pinned to an exact, sorted name list: adding or removing a
query must show up as a visible diff here, never as a silent drift of a
count floor.
"""

from knowledge_extraction_pipeline_spark.queries import ORACLE, QUERIES

KEPT_QUERIES = [
    "ann_dbscan_clusters", "ann_ivf_topk", "ann_ivfpq_residual_topk",
    "ann_label_centroids", "ann_lsh_topk", "ann_mmr_topk",
    "ann_pca_top_component", "ann_pq_distortion", "ann_pq_topk",
    "ann_topk_cosine", "ann_topk_filtered", "bpe_encode_docs",
    "bpe_merges_docs", "data_chat_render_mask", "data_class_weights",
    "data_crawl_schedule", "data_curriculum_phases", "data_dsir_weights",
    "data_hamming_secded", "data_hash_split", "data_html_extract",
    "data_kfold_split", "data_leakage_safe_split", "data_length_batching",
    "data_pack_ffd", "data_pack_sequences", "data_preference_pairs",
    "data_robots_decisions", "data_rs_erasure", "data_span_corruption",
    "data_stratified_sample", "data_token_clip", "data_token_dropout_aug",
    "data_url_canonicalize", "data_weighted_reservoir", "dedup_clusters_docs",
    "dedup_containment_docs", "dedup_damerau_docs", "dedup_edit_distance_docs",
    "dedup_embedding_cosine", "dedup_eval_docs", "dedup_exact_docs",
    "dedup_minhash_docs", "dedup_ngram_jaccard_docs", "dedup_simhash_docs",
    "dedup_substring_spans", "kg_2sat_implication", "kg_alias_candidates_docs",
    "kg_articulation_points_docs", "kg_assortativity_docs",
    "kg_betweenness_docs", "kg_bipartite_check", "kg_bowtie_docs",
    "kg_bridges_docs", "kg_centrality_docs", "kg_chunk_links_docs",
    "kg_communities_docs", "kg_components_docs", "kg_cooccur_docs",
    "kg_degree_distribution_docs", "kg_degree_docs",
    "kg_densest_subgraph_docs", "kg_distance_distribution",
    "kg_eigencentrality_docs", "kg_golden_records_docs", "kg_graph_stats_docs",
    "kg_graph_summary_docs", "kg_hits_docs", "kg_kcore_docs", "kg_khop_docs",
    "kg_ktruss_docs", "kg_link_prediction_docs", "kg_link_scores_docs",
    "kg_max_spanning_forest_docs", "kg_mentions_docs", "kg_mis_docs",
    "kg_modularity_docs", "kg_negative_samples", "kg_neighbor_jaccard_docs",
    "kg_pagerank_docs", "kg_pagerank_weighted_docs", "kg_pipeline_edges",
    "kg_pipeline_edges_exact", "kg_pipeline_nodes", "kg_pipeline_nodes_exact",
    "kg_ppr_docs", "kg_random_walks_docs", "kg_rich_club_docs",
    "kg_salsa_docs", "kg_scc_docs", "kg_semantic_chunks", "kg_simrank_docs",
    "kg_sssp_docs", "kg_stress_centrality_docs", "kg_substantive_filter",
    "kg_triangles_docs", "kg_typed_edges_docs", "kg_voterank_docs",
    "multimodal_doc_ingest", "multimodal_pdf_fallback",
    "multimodal_pdf_metadata", "multimodal_pdf_pages", "multimodal_pdf_text",
    "q10_returned_items", "q11_value_concentration", "q12_shipmode_priority",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_variety", "q17_small_quantity_revenue",
    "q18_large_volume_orders", "q19_disjunctive_revenue", "q1_pricing_summary",
    "q20_dominant_shippers", "q21_sole_blockers",
    "q22_global_sales_opportunity", "q2_min_cost_supplier",
    "q3_shipping_priority", "q4_late_ship_priority", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_product_profit",
    "q_customers_no_orders_antijoin", "q_docs_bptree_bulkload",
    "q_docs_learned_index", "q_docs_robin_hood_probing", "q_docs_treap_shape",
    "q_embeddings_norm_stats", "q_events_activity_streaks",
    "q_events_apriori_itemsets", "q_events_asof_bucketed",
    "q_events_asof_join", "q_events_behavior_gini",
    "q_events_cache_replacement", "q_events_cohort_retention", "q_events_cube",
    "q_events_dq_audit", "q_events_fenwick_tree",
    "q_events_frequent_sequences", "q_events_funnel",
    "q_events_hourly_profile", "q_events_interval_overlap",
    "q_events_json_extract", "q_events_latest_by_user",
    "q_events_lsm_compaction", "q_events_mad_outliers",
    "q_events_markov_transitions", "q_events_merkle_diff",
    "q_events_moving_avg", "q_events_pareto_users", "q_events_percentile_disc",
    "q_events_pivot_daily", "q_events_quantiles", "q_events_range_join",
    "q_events_reconcile", "q_events_running_window", "q_events_scd2",
    "q_events_sessionize", "q_events_snapshot_cdc", "q_events_ta_topk",
    "q_events_time_weighted_avg", "q_events_unpivot_daily",
    "q_events_value_histogram", "q_events_value_quartiles",
    "q_events_window_distinct", "q_events_zonemap_pruning",
    "q_events_zorder_key", "q_events_zscore_outliers", "q_join_order_selinger",
    "q_local_supplier_volume", "q_nation_top_customers_agg",
    "q_order_priority_semijoin", "q_orders_crt_checksum",
    "q_orders_monthly_revenue", "q_revenue_by_nation", "q_rollup_orders",
    "q_segment_distinct_agg", "q_setops_repeat_customers",
    "q_shard_bounded_loads", "q_shard_placement_ring",
    "q_top_events_per_user_ties", "q_top_parts", "q_yannakakis_reduction",
    "search_bm25", "search_elias_fano_postings", "search_golomb_gaps",
    "search_hybrid_rrf", "search_index_postings", "search_roaring_layout",
    "sketch_bloom_prune", "sketch_cms_terms", "sketch_countsketch_terms",
    "sketch_distinct_events", "sketch_jaccard_events",
    "sketch_theta_diff_events", "text_collocations", "text_contamination",
    "text_corpus_stats", "text_domain_budget", "text_fm_index_search",
    "text_lang_quality", "text_length_percentiles", "text_pii_redact",
    "text_pretokenize", "text_repeated_ngrams", "text_repetition_stats",
    "text_temperature_weights", "text_textrank_keywords",
    "text_tokens_fingerprint", "text_vocab_growth", "text_wavelet_tree_rank",
    "tfidf_similar_docs",
]


def test_registry_is_exactly_the_kept_set():
    assert KEPT_QUERIES == sorted(KEPT_QUERIES)
    assert set(QUERIES) == set(KEPT_QUERIES)
    assert len(QUERIES) == len(KEPT_QUERIES) == 214


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLE)


def test_no_duplicate_names():
    names = list(QUERIES)
    assert len(names) == len(set(names))


def test_spark_entry_contract_surface():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert list(qs) == list(QUERIES)
    assert set(os_) == set(ORACLE)
    assert callable(e.entry)
    # the flagship query entry() runs is registered
    assert "kg_typed_edges_docs" in qs
    # every oracle is non-empty SQL text
    assert all(isinstance(s, str) and s.strip() for s in os_.values())
