from .registry import ORACLES, QUERIES, query  # noqa: F401

# Import for registration side effects — each module fills QUERIES/ORACLES.
#
# ORDER MATTERS: the driver's correctness harness walks the registry in
# insertion order and may check a bounded prefix (round 1 stopped at the
# first 50 of 77). Register the flagship vector family and the other
# headline families first so a bounded run always covers them; the tail
# (remaining relational + ingest substrate) holds the queries with the
# longest prior green history.
from . import (  # noqa: F401,E402
    vector_queries,     # flagship: q_knn family (R17-R19)
    text_queries,       # stub-embed pipeline, keyword/array/prompt ops
    temporal_queries,   # as-of / range joins
    streaming_queries,  # tumbling window, streaming dedup
    udf_queries,        # pandas_udf embed/keywords, multimodal
    scale_queries,      # salting, sampling, quantization, histogram
    dedup_queries,      # minhash/simhash/ngram/embedding/fingerprint
    analytics_queries,  # tfidf/bm25/sessionize/stats/cube/pivot
    relational_queries,
    ingest_queries,
    pipeline_queries,   # round-2 additions: PII/repetition/boilerplate/clusters/ivf-kmeans
    layout_queries,     # round-2 batch 2: chunking/heavy-hitters/centroid/rarity/salted-join/z-order
    format_queries,     # CSV/JSONL/ORC sink+source round-trip
    assembly_queries,   # round-2 batch 3: decontamination, sequence packing
    behavior_queries,   # funnel, cohort retention, SCD2 intervals
    profiling_queries,  # column profiling, outlier flagging, OOV, inverted search
    maintenance_queries,  # CDC apply, zone-map pruning, compaction
    graph_queries,      # co-order graph: degree, integer PageRank, triangles
    subquery_queries,   # correlated-subquery decorrelation (Q4/Q17/Q20 shapes)
    olap_queries,       # round-2 batch 6: Q2/Q8/Q12/Q14/Q15/Q18/Q22 shapes
    decision_queries,   # round-2 batch 7: Q3/Q6/Q7/Q9/Q10/Q11/Q13/Q16/Q19/Q21
    selection_queries,  # corpus shuffle, DSIR selection, negative sampling
    curation_queries,   # round-2 batch 8: Gopher rules, line dedup, SemDeDup, diversity
    retrieval_queries,  # round-2 batch 8: RRF hybrid search, MMR, PRF expansion
    governance_queries,  # round-2 batch 8: k-anonymity ladder, re-ident risk
)

# Rebuild the registries in an explicit priority order. The driver checks
# a bounded registry PREFIX of 50 entries (the window) per run and walks
# the rest (the tail) only when it has time left. `_reorder` enforces that
# this list names every registered query exactly once.
#
# WINDOW POLICY: the window leads with the oracle-bearing queries whose
# code changed most recently, then those whose newest hash-exact driver
# evidence is oldest; the tail continues oldest-evidence-first. A window
# refreshed this way keeps every query's newest driver row a few runs old
# at most. Reorder the list when a change touches queries; never drop one.
#
# ROWS-ONLY LAST: the 4 oracle-less, rows-only-by-design queries
# (q_multimodal_features, q_udf_embed, q_udf_embed_knn, q_udf_keywords —
# ML-output queries whose results SQL cannot replay; each has in-plan
# self-asserting invariants and a hash-exact DuckDB-checkable sibling)
# never occupy window slots: a slot spent on one can only record
# `err: no_oracle` and earns no hash evidence. They are the last four
# entries, so a driver run long enough to reach them has already
# re-verified every oracle-bearing query.
_PRIORITY = [
    "q_semdedup_sqrt", "q_semdedup_capped", "q_semdedup",
    "q_pagerank", "q_graph_degree", "q_triangle_count",
    "q_minhash_eval", "q_minhash_wide_eval", "q_simhash_eval",
    "q_winnow_eval", "q_dedup_minhash", "q_dedup_simhash",
    "q_dedup_incremental", "q_dedup_embedding", "q_knn",
    "q_knn_cosine", "q_knn_join", "q_rank_l2",
    "q_vec_math", "q_cosine_topk", "q_ann_ivf",
    "q_ann_ivf_kmeans", "q_ann_lsh", "q_ann_pq",
    "q_ann_ivfpq", "q_ann_recall", "q_ann_rerank",
    "q_pq_recall", "q_sq_recall", "q_centroid_label",
    "q_quantize_embedding", "q_rrf_fusion", "q_mmr_rerank",
    "q_query_expansion", "q_e2e_rag", "q_stub_embed",
    "q_stub_knn", "q_e2e_corpus", "q_pickle_roundtrip",
    "q_pickle_stream", "q_map_arrow", "q_map_ops",
    "q_multimodal_frames", "q_multimodal_meta", "q_ols",
    "q_partitioned_sink", "q_quality_score", "q_rare_terms",
    "q_salted_join", "q_schema_evolution", "q_share_of_parent",
    "q_skyline", "q_split_sections", "q_stream_dedup",
    "q_stream_session", "q_stream_sliding", "q_table_diff",
    "q_time_rollup", "q_token_count", "q_transitions",
    "q_trigram_typicality", "q_udf_arrow", "q_udf_groupnorm",
    "q_udtf_analyze", "q_unpivot", "q_vocab_coverage",
    "q_yoy_growth", "q_zorder_layout", "q_agg_distinct",
    "q_anti", "q_array_ops", "q_asof_join",
    "q_bm25", "q_bucketed_join", "q_corpus_shuffle",
    "q_cube", "q_dedup_fingerprint", "q_dedup_ngram",
    "q_dedup_url", "q_dsir_select", "q_join_broadcast",
    "q_join_shuffle", "q_kw_fallback", "q_kw_stopfilter",
    "q_line_dedup", "q_multimodal_hist", "q_negative_sample",
    "q_ngram_diversity", "q_outer", "q_percentiles",
    "q_pivot", "q_prefix_complete", "q_project",
    "q_prompt_template", "q_range_join", "q_reident_risk",
    "q_salted_agg", "q_sample_hash", "q_scan_filter",
    "q_semi", "q_sessionize", "q_sink_roundtrip",
    "q_stratified_sample", "q_stream_tumbling", "q_tfidf",
    "q_variant_json", "q_approx_distinct", "q_bloom_join",
    "q_boilerplate_lines", "q_chunk_split", "q_corr_stats",
    "q_date_agg", "q_decontaminate", "q_dedup_anti",
    "q_dedup_content", "q_dedup_exact", "q_delete_rebuild",
    "q_doc_scan", "q_dup_clusters", "q_except",
    "q_from_json", "q_full_outer", "q_funnel",
    "q_fuzzy_match", "q_gap_fill", "q_hash_antijoin",
    "q_incremental_agg", "q_intersect", "q_json_props",
    "q_ntile", "q_pack_sequences", "q_pii_scrub",
    "q_repetition_ratio", "q_retention", "q_rollup",
    "q_scd2", "q_sha256", "q_stream_window",
    "q_string", "q_temperature_sample", "q_topk_per_group",
    "q_union_incr", "q_upsert", "q_window_range",
    "q_window_running", "q_winnow_dups", "q_event_pattern",
    "q_gopher_quality", "q_k_anonymity", "q_lag_lead",
    "q_scalar_subquery", "q_stream_join", "q_stream_stateful",
    "q_stream_stream_join", "q_udf_trimmed_mean", "q_udtf_tokens",
    "q_agg_basic", "q_anomaly", "q_avg_subquery",
    "q_bpe_encode", "q_cdc_apply", "q_cms_heavy",
    "q_compaction", "q_cust_no_orders", "q_dataset_card",
    "q_disjunct_filter", "q_exists_corr", "q_forecast_revenue",
    "q_hll_merge", "q_important_parts", "q_join_multiway",
    "q_large_orders", "q_market_share", "q_min_cost_supplier",
    "q_nation_volume", "q_nested_in", "q_order_dist",
    "q_priority_mix", "q_product_profit", "q_profile",
    "q_promo_share", "q_returned_items", "q_ship_priority",
    "q_snapshot_read", "q_sql_interface", "q_supplier_cnt",
    "q_top_revenue", "q_waiting_supplier", "q_window_suite",
    "q_zonemap_prune", "q_approx_percentile", "q_bpe_merges",
    "q_chunk_fixed", "q_collocations", "q_comma_parse",
    "q_contingency", "q_domain_mix", "q_dq_audit",
    "q_ewma_smooth", "q_format_roundtrip", "q_grouping_sets",
    "q_heavy_hitters", "q_histogram", "q_interval_overlap",
    "q_inverted_search", "q_ivm_join", "q_lang_id",
    "q_multimodal_features", "q_udf_embed", "q_udf_embed_knn",
    "q_udf_keywords",
]


def _reorder() -> None:
    if len(set(_PRIORITY)) != len(_PRIORITY):
        # fail loudly on duplicates too: a duplicated name would pass the
        # two membership checks below while the dict rebuild silently
        # dedups it, shrinking the effective 50-slot driver window by one
        # and shifting the documented window boundary
        seen: set[str] = set()
        dups = sorted({n for n in _PRIORITY if n in seen or seen.add(n)})
        raise RuntimeError(f"duplicate names in _PRIORITY: {dups}")
    missing = [n for n in _PRIORITY if n not in QUERIES]
    if missing:  # fail loudly: a renamed query must update the priority list
        raise RuntimeError(f"priority queries not registered: {missing}")
    unlisted = [n for n in QUERIES if n not in set(_PRIORITY)]
    if unlisted:
        # fail loudly in the OTHER direction too: a silently-appended new
        # query would land after the rows-only block, violating the
        # documented tail invariant (extra driver slots hit unchecked
        # oracle-bearing queries first, rows-only last)
        raise RuntimeError(
            f"queries missing from _PRIORITY (add them explicitly — the "
            f"tail order is deliberate): {unlisted}"
        )
    ordered = list(_PRIORITY)  # complete by the two checks above
    for reg in (QUERIES, ORACLES):
        snapshot = dict(reg)
        reg.clear()
        reg.update({n: snapshot[n] for n in ordered if n in snapshot})


_reorder()
