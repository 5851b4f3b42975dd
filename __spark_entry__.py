"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` exposes every implemented operator (one per SURVEY.md §2
item / north-star extension); ``oracle_sql()`` gives the DuckDB twin
for each — see tinyetl_spark/queries.py for the registry.

The session handed to ``entry`` and the query functions is the external
driver's, not one from ``session.get_spark``, so it keeps Spark's
defaults for static confs, which cannot change once the JVM is up: its
generated-class cache holds 100 entries (``get_spark`` sets 1,000), and
warm reps there recompile classes that a larger working set evicted.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tinyetl_spark.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


# The correctness driver samples the FIRST 50 entries of queries() in
# dict order. Cumulative driver-green through round 11 is 278/278
# distinct queries (every registered query has been driver-green at
# least once; zero have ever failed). Round 12's window runs the
# rotation the round-11 verdict demanded: (a) queries whose semantics
# change in round 12 plus new round-12 queries, inserted at the head as
# they land, displacing the tail of group (c); (b) the 37 r6-vintage
# queries not driver-checked since round 6 (the r6 tail of the queue);
# (c) the 13 oldest r7-vintage queries. Below the cut the order stays
# strictly oldest-vintage-first (r7 rest, r8, r9, r10, then the 50
# queries the round-11 window re-greened), so any larger sample extends
# the rotation and round 13's queue is simply the next 50 names. The
# round-13 rewrites (the r13 block) now go ahead of (a), so the next
# window re-checks them; they push the tail of (b) and all of (c) below
# the cut.
_PRIORITY = [
    # --- (r13) rewrites re-proved oracle-exact at sf0.001 and sf0.01 ---
    # the LM scorers now build every model table from one ngram-count
    # shuffle (kn, kn3, bigram, the ladder and perplexity buckets);
    # margin_mine_pairs takes its top-k mean from a second window; the
    # triangle and pagerank loops checkpoint their invariant tables;
    # curation_pipeline carries its columns through the rank shuffle;
    # label_centroid_report and quality_ensemble_docs changed join shape
    "kn_logprob_docs", "kn3_logprob_docs", "bigram_logprob_docs",
    "lm_ladder_compare", "perplexity_buckets", "margin_mine_pairs",
    "triangle_count_dups", "pagerank_dups", "curation_pipeline",
    "label_centroid_report", "quality_ensemble_docs",
    # --- (a) new in round 12 / semantics changed in round 12 ---
    # multimodal_curation_pipeline: the 3-tier staged media pipeline
    # (verdict item 6); multimodal_video_temporal_dups: order-aware
    # frame-shingle dedup (verdict item 5); the audio near-dup pairs
    # moved to a staged table and the video tiers to a staged frame
    # table (values unchanged, re-greened locally at sf0.001/0.01)
    # perceptual_recall_audit: pixel-L1 truth vs both hash tiers'
    # banded candidates on the capped slice (the media twin of
    # dedup_recall_audit)
    # c4_quality_docs: the C4 cleaning-heuristics tier (Raffel et al.
    # 2020 §2.2) alongside the Gopher rules; split_ngram_leakage: the
    # post-split near-verbatim contamination audit
    # ivf_balance_audit: IVF cell-skew audit (empty cells included)
    "c4_quality_docs", "split_ngram_leakage", "ivf_balance_audit",
    "multimodal_curation_pipeline", "multimodal_video_temporal_dups",
    "perceptual_recall_audit", "perceptual_radius_curve",
    "streaming_media_quality",
    # --- (b) r6-vintage rotation queue (37: the r6 tail) ---
    "csv_roundtrip", "csv_roundtrip_events", "decontam_report",
    "duckdb_roundtrip", "dup_ngram_frac_docs", "dup_passage_spans",
    "epoch_shuffle_docs", "event_outliers", "fk_violations_audit",
    "funnel_conversion", "gopher_quality_docs", "hash_sample_docs",
    "hot_keys_audit", "jdbc_roundtrip", "json_roundtrip",
    "line_dedup_docs", "multimodal_byte_histogram",
    "multimodal_decimate_wav", "multimodal_dedup",
    "multimodal_frame_sample", "multimodal_meta", "multimodal_resize_bmp",
    "multimodal_thumbnail", "ohlc_bars_events", "orc_roundtrip",
    "pack_sequences_docs", "pii_redact_docs", "pq_encode_vectors",
    "quality_budget_select", "repetition_stats", "source_overlap_matrix",
    "sqlite_roundtrip", "stratified_sample_docs",
    "streaming_quality_filter", "transform_date_string",
    "unigram_logprob_docs", "winnow_fingerprints",
    # --- (c) oldest r7-vintage queries (13) ---
    "ann_recall_ivf_pq", "ann_recall_lsh", "ann_recall_pq",
    "ann_recall_rerank", "bloom_semi_join_orders", "bpe_encode_batch_docs",
    "cluster_best_survivor", "corpus_diff", "corpus_overlap_exact",
    "count_min_heavy_hitters", "dsir_select_docs", "embedding_quantize",
    "epoch_order_manifest",
    # --- below the 50-cut: r7 rest (32), then r8 (46), r9 (47),
    # r10 (47), then the round-11 window greens (45) ---
    "fuzzy_join_phrases", "hll_distinct_users", "inference_batches_docs",
    "partitioned_scan_prune",
    "profile_lineitem", "q11_important_parts", "q14_promo_revenue",
    "q15_top_supplier", "q17_small_quantity_revenue", "q18_large_orders",
    "q19_disjunctive_revenue", "q20_dominant_suppliers",
    "q21_waiting_supplier", "q22_idle_customers", "q2_min_cost_supplier",
    "q5_local_supplier_volume", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_product_profit",
    "quality_classifier_docs", "remove_dup_passages_docs",
    "rollup_cascade_events", "scd2_customer_history",
    "streaming_classifier_scores", "streaming_count_min",
    "streaming_rollup_minute", "tokenizer_fertility", "training_mix",
    "trigram_search_docs", "unimax_mix_langs",
    "vocab_coverage_curve",
    # r8 (46)
    "above_avg_balance", "anti_join_customers", "approx_distinct_users",
    "approx_percentile_prices", "asof_purchase_view", "asof_tolerance",
    "bucketed_join_orders", "cube_status_priority",
    "cust_order_distribution", "date_multiformat", "dedup_exact",
    "dedup_recall_audit", "doc_fingerprint", "embedding_norms",
    "events_tumbling", "exists_high_qty_orders", "explode_doc_words",
    "full_outer_nation_counts", "grouping_sets_lineitem",
    "hard_negatives_bm25", "hist_quantiles_prices",
    "hopping_window_events", "hybrid_search_docs", "json_extract_events",
    "lang_id", "listagg_nations",
    "minhash_candidates", "mktsegment_stats", "ngram_diversity_sources",
    "part_brand_stats", "percentile_prices", "pivot_priority_status",
    "pmi_collocations", "priority_sample_docs", "q12_late_shipments",
    "q13_customer_distribution", "q16_supplier_variety",
    "q4_priority_check", "ql_search_docs", "retrieval_ndcg",
    "rm3_expanded_search", "text_quality", "tfidf_top_terms",
    "token_stats", "vocab_growth_curve", "zipf_slope_sources",
    # r9 (47)
    "ann_recall_rpq", "ann_recall_rpq3_rerank", "ann_recall_rpq_rerank",
    "ann_rpq3_rerank_topk", "containment_dups",
    "dedup_clusters", "dedup_incremental", "dedup_survivors",
    "fuzzy_decontam", "leakage_safe_split_docs", "minhash_signatures",
    "multimodal_decode_png", "near_dup_jaccard", "near_dup_ngram",
    "q10_returned_revenue", "q1_pricing_summary", "q3_shipping_priority",
    "range_pairs_events", "revenue_by_nation", "rollup_status_priority",
    "salted_join_orders", "salted_user_stats", "scan_project",
    "semantic_dedup_survivors", "semantic_dup_pairs",
    "semi_join_customers", "sessionize_events", "set_except_all_statuses",
    "set_except_custkeys", "set_intersect_all_statuses",
    "set_intersect_custkeys", "simhash_near_dups", "top10_orders",
    "transform_filter", "transform_inline", "transform_luapattern",
    "transform_pyfile", "transform_script", "unigram_encode_docs",
    "unigram_train_vocab", "upsert_documents", "validate_events",
    "window_lag_lead", "window_rank_stats", "window_running_total",
    "window_time_range", "window_top_order_per_cust",
    # r10 (47)
    "containment_recall_audit", "unigram_prune_vocab", "tokenized_corpus",
    "multimodal_decode_jpeg", "unigram_budget_curve", "unigram_ambiguity",
    "wordpiece_train_merges", "wordpiece_encode_docs", "rho_select_docs",
    "wordpiece_encode_batch_docs", "doremi_domain_weights",
    "mink_prob_docs", "concat_chunks_docs",
    "ann_batch_topk", "ann_brute_topk", "ann_indexed_topk",
    "ann_ivf_pq_topk", "ann_ivf_topk", "ann_lsh_topk",
    "ann_multiprobe_topk", "ann_pq_rerank_topk", "ann_pq_topk",
    "ann_recall_ivf", "ann_recall_multiprobe", "ann_rpq_rerank_topk",
    "ann_rpq_topk", "decontam_overlap", "embedding_near_dups",
    "kmeans_refine_step", "multimodal_decode_bmp", "multimodal_decode_wav",
    "rag_ingest_pipeline", "simhash_docs", "streaming_dedup",
    "streaming_enrich", "streaming_foreachbatch_jdbc", "streaming_hopping",
    "streaming_index_ingest", "streaming_interval_join",
    "streaming_sessions", "streaming_sink_parquet", "streaming_tumbling",
    "streaming_upsert_snapshot", "streaming_user_counts",
    "temperature_mix_docs", "winnow_decontam", "zorder_key_events",
    # r11 window greens (45)
    "wordpiece_byte_fallback_docs", "multimodal_near_dups",
    "multimodal_audio_near_dups", "multimodal_dup_survivors",
    "multimodal_phash_near_dups", "multimodal_image_quality",
    "multimodal_audio_quality", "multimodal_video_near_dups",
    "streaming_perceptual_dedup", "wordpiece_bf_encode_batch_docs",
    "tokenizer_compare", "ann_budget_curve", "ann_binary_rerank_topk",
    "ann_recall_binary_rerank", "wordpiece_budget_curve",
    "multimodal_decode_gif", "dedup_rate_by_source",
    "classifier_eval_audit", "classifier_calibration_bins",
    "near_dup_threshold_curve", "source_logodds_terms",
    "ann_recall_matryoshka", "source_psi_drift",
    "streaming_psi_drift", "hard_negatives_ann", "lsh_parameter_curve",
    "classifier_threshold_curve", "ann_recall_int8",
    "dup_cluster_size_hist", "dedup_quality_impact",
    "classifier_bias_by_source", "classifier_auc_by_source",
    "embedding_dim_profile", "avro_roundtrip",
    "bm25_search_docs", "bm25_top_terms",
    "bpe_encode_docs", "bpe_pair_counts", "bpe_train_merges",
    "char_entropy_docs", "chunk_documents", "cli_job_roundtrip",
    "cohort_retention", "corpus_overlap_kmv", "corpus_stats_report",
]

assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate names in _PRIORITY"


def _ordered(mapping: dict) -> dict:
    head = {n: mapping[n] for n in _PRIORITY if n in mapping}
    return head | {n: v for n, v in mapping.items() if n not in head}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    return _ordered(dict(ORACLES))
