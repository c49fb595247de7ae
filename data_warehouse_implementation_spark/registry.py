"""Query registry — the single source of truth wiring every implemented
operator to (a) its PySpark implementation and (b) its DuckDB oracle SQL.

``__spark_entry__.py`` re-exports this for the driver's correctness
gate. Every analytic capability from SURVEY.md §2 lands here as it is
implemented; keys are stable operator names.

Contract notes (driver compares row-count + schema + order-insensitive
value hash at sf0.01, columns sorted by name):
- every computed column is aliased identically in Spark and SQL;
- counts/ranks are BIGINT on both sides;
- ratios are double divisions of integer counts (bit-identical across
  engines); sums of double measures are rounded via a decimal cast so
  they are order-independent.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .plans import (
    analytics,
    corpus_queries,
    curation,
    etl,
    graph_queries,
    ingest_queries,
    layout_queries,
    llm_queries,
    quality_queries,
    scale_queries,
    scd_queries,
    sql_api,
    timeseries_queries,
    warehouse,
)
from .session import load_tables

SparkQuery = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, SparkQuery] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, fn: Callable[[dict[str, DataFrame]], DataFrame], oracle: str | None) -> None:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(load_tables(spark, sf_dir))

    _QUERIES[name] = run
    if oracle is not None:
        _ORACLES[name] = oracle


def _ordered(d: dict) -> dict:
    out = {n: d[n] for n in _DRIVER_WINDOW if n in d}
    out.update((n, v) for n, v in d.items() if n not in out)
    return out


def queries() -> dict[str, SparkQuery]:
    return _ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(_ORACLES)


# The correctness driver differentials the FIRST 50 registry entries per
# round. Round-17 window (the verbatim tools/staleness.py
# --suggest-window order at rotation time, except the 8 free first-50
# slots; enforced by tests/test_entry.py::test_driver_window_integrity
# and ::test_driver_window_covers_stalest): the flagship, then the
# 41-query round-12 max-staleness cohort (staleness 4 after the r16
# census landed), then 8 family heads whose operator path changed this
# round (the round loops moved onto operators/rounds.py), then the
# remaining queries stalest-first with ties broken by name. 42
# must-run rows for 50 slots — the whole cohort retires this round, no
# capacity overflow. No new queries this round.
# Same-round deferrals that are NOT new queries — the ONLY names the
# window-integrity test allows to interleave with deferred new
# additions at position 51+. Round 17: none.
_WINDOW_DEFERRAL_INTERLEAVE: list[str] = []

_DRIVER_WINDOW = [
  # flagship — always re-verified
    "timely_rank_report",
  # max-staleness cohort (last checked r12, staleness 4):
  # all 41 fit — 42 must-run rows for 50 slots, no overflow
    "doc_bm25_capped",
    "doc_bm25_term_stats",
    "doc_decontaminate_fuzzy",
    "doc_eval_sample",
    "doc_hash_split",
    "doc_priority_sample",
    "doc_rarity_score",
    "doc_split_dedup_aware",
    "documents_profile",
    "dormant_balance_sql",
    "embedding_ann_recall_matrix",
    "embedding_kmeans_refine",
    "event_transitions",
    "events_cdc_apply",
    "events_funnel",
    "events_gap_fill",
    "events_heavy_hitters_cms",
    "events_quantile_rollup",
    "events_skew_census",
    "events_volume_anomaly",
    "exact_dedup_by_fingerprint",
    "forecast_revenue_sql",
    "large_orders_sql",
    "media_audio_roundtrip",
    "media_decode_roundtrip",
    "media_video_roundtrip",
    "media_vision_pack",
    "nation_volume_sql",
    "orc_scan_agg",
    "order_lifecycle_fact",
    "orders_constraint_gate",
    "promo_revenue_sql",
    "region_nation_revenue_share",
    "returned_item_sql",
    "session_conversion",
    "tokenizer_fertility_compare",
    "top_balance_lateral_sql",
    "unigram_encode_byte_fallback",
    "user_retention_cohorts",
    "user_sketch_rollup",
    "window_funcs_sql",
  # changed-path family heads (round loops on operators/rounds.py)
    "purchase_graph_pagerank",
    "purchase_graph_communities",
    "supplier_cosupply_kcore",
    "near_dup_clusters",
    "embedding_semantic_dedup_trained",
    "embedding_ann_pq_trained",
    "embedding_ann_ivf_trained",
    "unigram_train",
  # --- 51+: remaining queries stalest-first (ties by name) —
  # tools/staleness.py ---
    "avg_qty_gated_revenue_sql",
    "bloom_skipping_census",
    "bpe_encode_byte_fallback",
    "bpe_fertility_by_lang",
    "bpe_token_stats",
    "brand_median_price",
    "calendar_dim",
    "compaction_plan",
    "companies_of_interest",
    "complaints_clean",
    "concentrated_supply_sql",
    "corpus_mix_temperature",
    "corpus_mixture_schedule",
    "csv_scan_agg",
    "cust_order_dist_sql",
    "demo_reshape_pipeline",
    "disputed_rank_report",
    "doc_bigram_rarity",
    "doc_c4_line_clean",
    "doc_ccnet_buckets",
    "doc_language_confusion",
    "doc_language_model",
    "doc_line_dedup",
    "doc_pack_bfd",
    "doc_packing_efficiency",
    "doc_pii_luhn",
    "doc_quality_classifier",
    "doc_quality_confusion",
    "doc_quality_pr_curve",
    "doc_substring_sa",
    "doc_winnow_census",
    "drilldown_report",
    "embedding_decontaminate",
    "embedding_dense_topk",
    "events_asof_forward",
    "events_hypertable_rollup",
    "events_props_extract",
    "events_session_window_native",
    "events_window_agg",
    "exact_dedup_docs",
    "insert_if_absent_batch",
    "layout_advisor_report",
    "supplier_cosupply_triangles",
    "training_sequences_text",
    "wordpiece_fertility_by_lang",
    "wordpiece_merges",
    "wordpiece_token_stats",
    "zorder_skipping_census",
    "bloom_prefilter_join",
    "bpe_merges",
    "bpe_publish_encode",
    "brand_mode_type",
    "brand_price_percentiles",
    "containment_capped_join",
    "corpus_cap_per_source",
    "corpus_cap_per_source_best",
    "corpus_curation_capped_funnel",
    "corpus_quality_filter",
    "customer_running_totals",
    "customer_set_ops",
    "customer_spend_quartiles",
    "dedup_keep_best",
    "doc_bm25_topk",
    "doc_substring_sa_dedup",
    "doc_substring_sa_hashed",
    "embedding_semantic_dedup",
    "embedding_semantic_dedup_stats",
    "media_file_ingest",
    "media_resize_roundtrip",
    "min_cost_supplier_sql",
    "nation_value_concentration_sql",
    "near_dup_containment",
    "near_dup_minhash_hashed",
    "near_dup_source_matrix",
    "null_canonical_dedup",
    "null_canonical_join",
    "part_melt",
    "population_fact_build",
    "preaggregate",
    "priority_pivot",
    "priority_pivot_first",
    "product_profit_sql",
    "scd1_upsert_batch",
    "scd2_apply_batch",
    "scd3_apply_batch",
    "segment_ratio_report",
    "ship_speed_priority_sql",
    "shipments_by_quarter",
    "supplier_part_census_sql",
    "top5_orders",
    "top_orders_per_nation",
    "top_supplier_sql",
    "unigram_publish_encode",
    "wordpiece_publish_encode",
    "wordpiece_unk_foreign",
    "xml_scan_agg",
    "containment_prefix_join",
    "containment_probe_skew",
    "doc_balanced_oversample",
    "doc_chunks",
    "doc_decontaminate",
    "doc_dsir_weights",
    "doc_epoch_shuffle",
    "doc_fingerprint",
    "doc_language_id",
    "doc_language_ngram",
    "doc_length_batches",
    "doc_lm_backoff",
    "doc_negative_pairs",
    "doc_pii_redact",
    "doc_quality_score",
    "doc_repetition_ratio",
    "doc_simhash",
    "doc_span_corruption",
    "doc_stratified_sample",
    "doc_tfidf_top_terms",
    "embedding_ann_ivf",
    "embedding_ann_ivfpq",
    "embedding_ann_kmeans",
    "embedding_ann_multiprobe",
    "embedding_ann_pq",
    "embedding_cosine_topk",
    "embedding_lsh_bucket_stats",
    "embedding_lsh_near_dup",
    "embedding_near_dup",
    "embedding_semantic_dedup_trained_stats",
    "event_user_distinct",
    "event_value_band_join",
    "events_props_variant",
    "media_feature_extract",
    "near_dup_capped",
    "near_dup_incremental",
    "order_rollup",
    "quantizer_distortion_compare",
    "recent_order_preview",
    "segment_mode_fill",
    "semantic_dedup_census",
    "semantic_dedup_greedy",
    "semdedup_occupancy_compare",
    "window_frames_sql",
    "boilerplate_ngrams",
    "brand_band_revenue_sql",
    "brand_fuzzy_match",
    "brand_price_outliers",
    "corpus_curation_e2e",
    "corpus_curation_funnel",
    "corpus_mix_sources",
    "customer_order_reconcile",
    "doc_repetition_census",
    "doc_shard_assignment",
    "doc_substring_dedup",
    "doc_substring_dup",
    "embedding_ann_recall",
    "events_asof_join",
    "events_daily_delta",
    "events_keep_latest",
    "events_sessionize",
    "hybrid_rrf_fusion",
    "incremental_agg_refresh",
    "integrity_report",
    "jsonl_scan_agg",
    "late_order_exists_sql",
    "local_supplier_volume_sql",
    "market_share_sql",
    "media_patchify",
    "multikey_category_join",
    "nation_revenue_share",
    "nation_top_customer_list",
    "near_dup_minhash",
    "near_dup_prefix_join",
    "order_cube",
    "orders_profile",
    "price_histogram",
    "pricing_summary_sql",
    "priority_status_sets_sql",
    "salted_flag_join",
    "salted_skew_agg",
    "shipping_priority_sql",
    "simhash_near_dup",
    "small_qty_revenue_sql",
    "training_sequences",
    "unigram_fertility_by_lang",
    "unigram_token_stats",
    "user_sketch_distinct",
    "vocab_top_terms",
    "waiting_supplier_sql",
    "warehouse_dim_build",
    "warehouse_fact_build",
]
# ---------------------------------------------------------------------------
# Flagship (SURVEY §7 step 1): Q1a analog — star join, conditional agg,
# HAVING, double RANK, rank filter.
register("timely_rank_report", analytics.timely_rank_report, analytics.TIMELY_RANK_ORACLE)

# Analytics battery (SURVEY §2.2-2.8)
register("disputed_rank_report", analytics.disputed_rank_report, analytics.DISPUTED_RANK_ORACLE)
register(
    "companies_of_interest", analytics.companies_of_interest, analytics.COMPANIES_OF_INTEREST_ORACLE
)
register("segment_ratio_report", analytics.segment_ratio_report, analytics.SEGMENT_RATIO_ORACLE)
register("preaggregate", analytics.preaggregate, analytics.PREAGGREGATE_ORACLE)
register("drilldown_report", analytics.drilldown_report, analytics.DRILLDOWN_ORACLE)
register("top5_orders", analytics.top5_orders, analytics.TOP5_ORDERS_ORACLE)
register(
    "top_orders_per_nation",
    analytics.top_orders_per_nation,
    analytics.TOP_ORDERS_PER_NATION_ORACLE,
)
register("calendar_dim", analytics.calendar_dim, analytics.CALENDAR_DIM_ORACLE)
register(
    "shipments_by_quarter", analytics.shipments_by_quarter, analytics.SHIPMENTS_BY_QUARTER_ORACLE
)
register("null_canonical_dedup", analytics.null_canonical_dedup, analytics.NULL_CANONICAL_DEDUP_ORACLE)
register(
    "null_canonical_join", analytics.null_canonical_join_counts, analytics.NULL_CANONICAL_JOIN_ORACLE
)
register(
    "multikey_category_join", analytics.multikey_category_join, analytics.MULTIKEY_CATEGORY_JOIN_ORACLE
)
register("priority_pivot", analytics.priority_pivot, analytics.PRIORITY_PIVOT_ORACLE)
register("part_melt", analytics.part_melt, analytics.PART_MELT_ORACLE)
register("brand_median_price", analytics.brand_median_price, analytics.BRAND_MEDIAN_PRICE_ORACLE)
register("brand_mode_type", analytics.brand_mode_type, analytics.BRAND_MODE_TYPE_ORACLE)
register(
    "recent_order_preview", analytics.recent_order_preview, analytics.RECENT_ORDER_PREVIEW_ORACLE
)

# SCD / mutation algebra golden batches (SURVEY §2.9 M1-M4; J9/F8/F9/F10)
register("scd1_upsert_batch", scd_queries.scd1_upsert_batch, scd_queries.SCD1_UPSERT_ORACLE)
register(
    "insert_if_absent_batch",
    scd_queries.insert_if_absent_batch,
    scd_queries.INSERT_IF_ABSENT_ORACLE,
)
register("scd2_apply_batch", scd_queries.scd2_apply_batch, scd_queries.SCD2_APPLY_ORACLE)
register("scd3_apply_batch", scd_queries.scd3_apply_batch, scd_queries.SCD3_APPLY_ORACLE)

# Ingest surfaces + events coverage (S1-S3; §2.10 batch analogs)
register("csv_scan_agg", ingest_queries.csv_scan_agg, ingest_queries.CSV_SCAN_AGG_ORACLE)
register(
    "events_props_extract",
    ingest_queries.events_props_extract,
    ingest_queries.EVENTS_PROPS_EXTRACT_ORACLE,
)
register(
    "events_window_agg", ingest_queries.events_window_agg, ingest_queries.EVENTS_WINDOW_AGG_ORACLE
)
register(
    "events_sessionize", ingest_queries.events_sessionize, ingest_queries.EVENTS_SESSIONIZE_ORACLE
)

# Warehouse build pipeline (SURVEY §2.9 J7/J8, §7 Step 3)
register(
    "warehouse_dim_build", warehouse.warehouse_dim_build, warehouse.WAREHOUSE_DIM_BUILD_ORACLE
)
register(
    "warehouse_fact_build", warehouse.warehouse_fact_build, warehouse.WAREHOUSE_FACT_BUILD_ORACLE
)
register(
    "population_fact_build",
    warehouse.population_fact_build,
    warehouse.POPULATION_FACT_BUILD_ORACLE,
)

# ETL cleaning pipelines (SURVEY §7 Step 5; P8/F11/F12/F13/F14/F16/A8/A9/A10)
register("complaints_clean", etl.complaints_clean, etl.COMPLAINTS_CLEAN_ORACLE)
register("demo_reshape_pipeline", etl.demo_reshape_pipeline, etl.DEMO_RESHAPE_ORACLE)
register("segment_mode_fill", etl.segment_mode_fill, etl.SEGMENT_MODE_FILL_ORACLE)
register(
    "priority_pivot_first", analytics.priority_pivot_first, analytics.PRIORITY_PIVOT_FIRST_ORACLE
)

# LLM-data-pipeline operators over documents (brief; SURVEY §7 Step 6)
register("exact_dedup_docs", llm_queries.exact_dedup_docs, llm_queries.EXACT_DEDUP_DOCS_ORACLE)
register("near_dup_minhash", llm_queries.near_dup_minhash, llm_queries.NEAR_DUP_MINHASH_ORACLE)
register(
    "near_dup_clusters", llm_queries.near_dup_clusters, llm_queries.NEAR_DUP_CLUSTERS_ORACLE
)
register("doc_simhash", llm_queries.doc_simhash, llm_queries.DOC_SIMHASH_ORACLE)
register(
    "simhash_near_dup", llm_queries.simhash_near_dup, llm_queries.SIMHASH_NEAR_DUP_ORACLE
)
register("doc_language_id", llm_queries.doc_language_id, llm_queries.DOC_LANGUAGE_ID_ORACLE)
register(
    "doc_language_ngram", llm_queries.doc_language_ngram, llm_queries.DOC_LANGUAGE_NGRAM_ORACLE
)
register(
    "doc_language_model",
    llm_queries.doc_language_model,
    llm_queries.DOC_LANGUAGE_MODEL_ORACLE,
)
register(
    "doc_language_confusion",
    llm_queries.doc_language_confusion,
    llm_queries.DOC_LANGUAGE_CONFUSION_ORACLE,
)
register(
    "doc_quality_score", llm_queries.doc_quality_score, llm_queries.DOC_QUALITY_SCORE_ORACLE
)
register("doc_fingerprint", llm_queries.doc_fingerprint, llm_queries.DOC_FINGERPRINT_ORACLE)
register(
    "embedding_cosine_topk",
    llm_queries.embedding_cosine_topk,
    llm_queries.EMBEDDING_COSINE_TOPK_ORACLE,
)
register("embedding_ann_ivf", llm_queries.embedding_ann_ivf, llm_queries.EMBEDDING_ANN_IVF_ORACLE)
register(
    "embedding_ann_kmeans",
    llm_queries.embedding_ann_kmeans,
    llm_queries.EMBEDDING_ANN_KMEANS_ORACLE,
)
register(
    "embedding_near_dup", llm_queries.embedding_near_dup, llm_queries.EMBEDDING_NEAR_DUP_ORACLE
)
register(
    "media_feature_extract",
    llm_queries.media_feature_extract,
    llm_queries.MEDIA_FEATURE_EXTRACT_ORACLE,
)
register(
    "media_decode_roundtrip",
    llm_queries.media_decode_roundtrip,
    llm_queries.MEDIA_DECODE_ROUNDTRIP_ORACLE,
)
register(
    "media_file_ingest",
    llm_queries.media_file_ingest,
    llm_queries.MEDIA_FILE_INGEST_ORACLE,
)
register("order_rollup", analytics.order_rollup, analytics.ORDER_ROLLUP_ORACLE)

# Time-series / window-frame / set-op / skew extensions
register(
    "events_asof_join", timeseries_queries.events_asof_join, timeseries_queries.EVENTS_ASOF_JOIN_ORACLE
)
register(
    "event_value_band_join",
    timeseries_queries.event_value_band_join,
    timeseries_queries.EVENT_VALUE_BAND_JOIN_ORACLE,
)
register(
    "salted_skew_agg", timeseries_queries.salted_skew_agg, timeseries_queries.SALTED_SKEW_AGG_ORACLE
)
register(
    "event_user_distinct",
    timeseries_queries.event_user_distinct,
    timeseries_queries.EVENT_USER_DISTINCT_ORACLE,
)
register(
    "customer_running_totals",
    timeseries_queries.customer_running_totals,
    timeseries_queries.CUSTOMER_RUNNING_TOTALS_ORACLE,
)
register(
    "customer_set_ops", timeseries_queries.customer_set_ops, timeseries_queries.CUSTOMER_SET_OPS_ORACLE
)
register("order_cube", timeseries_queries.order_cube, timeseries_queries.ORDER_CUBE_ORACLE)

# Order-statistics / sketch / skew-join extensions
register(
    "brand_price_percentiles",
    timeseries_queries.brand_price_percentiles,
    timeseries_queries.BRAND_PRICE_PERCENTILES_ORACLE,
)
register(
    "user_sketch_distinct",
    timeseries_queries.user_sketch_distinct,
    timeseries_queries.USER_SKETCH_DISTINCT_ORACLE,
)
register(
    "salted_flag_join",
    timeseries_queries.salted_flag_join,
    timeseries_queries.SALTED_FLAG_JOIN_ORACLE,
)

# Raw-SQL surface: the same SQL text runs on spark.sql AND the oracle
register(
    "pricing_summary_sql", sql_api.pricing_summary_sql, sql_api.PRICING_SUMMARY_ORACLE
)
register(
    "shipping_priority_sql", sql_api.shipping_priority_sql, sql_api.SHIPPING_PRIORITY_ORACLE
)
register(
    "local_supplier_volume_sql",
    sql_api.local_supplier_volume_sql,
    sql_api.LOCAL_SUPPLIER_VOLUME_ORACLE,
)
register(
    "late_order_exists_sql", sql_api.late_order_exists_sql, sql_api.LATE_ORDER_EXISTS_ORACLE
)
register(
    "small_qty_revenue_sql", sql_api.small_qty_revenue_sql, sql_api.SMALL_QTY_REVENUE_ORACLE
)

# Corpus-preparation operators (brief: splitting/chunking/vocab/tf-idf/
# shard packing for LLM training-data pipelines)
register("doc_hash_split", corpus_queries.doc_hash_split, corpus_queries.DOC_HASH_SPLIT_ORACLE)
register("doc_chunks", corpus_queries.doc_chunks, corpus_queries.DOC_CHUNKS_ORACLE)
register(
    "vocab_top_terms", corpus_queries.vocab_top_terms, corpus_queries.VOCAB_TOP_TERMS_ORACLE
)
register(
    "doc_tfidf_top_terms",
    corpus_queries.doc_tfidf_top_terms,
    corpus_queries.DOC_TFIDF_TOP_TERMS_ORACLE,
)
register(
    "doc_shard_assignment",
    corpus_queries.doc_shard_assignment,
    corpus_queries.DOC_SHARD_ASSIGNMENT_ORACLE,
)
register(
    "doc_stratified_sample",
    corpus_queries.doc_stratified_sample,
    corpus_queries.DOC_STRATIFIED_SAMPLE_ORACLE,
)
register(
    "doc_decontaminate", corpus_queries.doc_decontaminate, corpus_queries.DOC_DECONTAMINATE_ORACLE
)
register(
    "doc_repetition_ratio",
    corpus_queries.doc_repetition_ratio,
    corpus_queries.DOC_REPETITION_RATIO_ORACLE,
)
register("doc_pii_redact", corpus_queries.doc_pii_redact, corpus_queries.DOC_PII_REDACT_ORACLE)

# Warehouse maintenance: incremental rollup refresh, post-load
# data-quality gate, CDC log compaction
register(
    "incremental_agg_refresh",
    warehouse.incremental_agg_refresh,
    warehouse.INCREMENTAL_AGG_REFRESH_ORACLE,
)
register("integrity_report", warehouse.integrity_report, warehouse.INTEGRITY_REPORT_ORACLE)
register(
    "events_keep_latest",
    ingest_queries.events_keep_latest,
    ingest_queries.EVENTS_KEEP_LATEST_ORACLE,
)
register("jsonl_scan_agg", ingest_queries.jsonl_scan_agg, ingest_queries.JSONL_SCAN_AGG_ORACLE)
register(
    "events_daily_delta",
    timeseries_queries.events_daily_delta,
    timeseries_queries.EVENTS_DAILY_DELTA_ORACLE,
)
register(
    "customer_spend_quartiles",
    timeseries_queries.customer_spend_quartiles,
    timeseries_queries.CUSTOMER_SPEND_QUARTILES_ORACLE,
)
register(
    "price_histogram", timeseries_queries.price_histogram, timeseries_queries.PRICE_HISTOGRAM_ORACLE
)
register(
    "nation_top_customer_list",
    timeseries_queries.nation_top_customer_list,
    timeseries_queries.NATION_TOP_CUSTOMER_LIST_ORACLE,
)
register(
    "priority_status_sets_sql",
    sql_api.priority_status_sets_sql,
    sql_api.PRIORITY_STATUS_SETS_ORACLE,
)

# Data-quality surface: post-load profiling, full-outer reconciliation,
# percent-of-total reporting, and quality-aware dedup refinements
register("orders_profile", quality_queries.orders_profile, quality_queries.ORDERS_PROFILE_ORACLE)
register(
    "customer_order_reconcile",
    quality_queries.customer_order_reconcile,
    quality_queries.CUSTOMER_ORDER_RECONCILE_ORACLE,
)
register(
    "nation_revenue_share",
    timeseries_queries.nation_revenue_share,
    timeseries_queries.NATION_REVENUE_SHARE_ORACLE,
)
register("dedup_keep_best", llm_queries.dedup_keep_best, llm_queries.DEDUP_KEEP_BEST_ORACLE)
register("near_dup_capped", llm_queries.near_dup_capped, llm_queries.NEAR_DUP_CAPPED_ORACLE)
# Production-mode near-dup (xxhash64 shingle ids). xxhash64 is not
# portable SQL, so the oracle replays the RANK-mode pipeline — sound
# because verified-pair values come from true shingle sets (mode-
# independent) and candidate-recall parity between the modes is pytest-
# asserted at the driver's sf (see near_dup_minhash_hashed docstring).
register(
    "near_dup_minhash_hashed",
    llm_queries.near_dup_minhash_hashed,
    llm_queries.NEAR_DUP_MINHASH_HASHED_ORACLE,
)

# Round-3 training-pipeline additions: incremental batch-vs-corpus
# near-dup, weighted source mixing, boilerplate n-gram detection
register(
    "near_dup_incremental",
    llm_queries.near_dup_incremental,
    llm_queries.NEAR_DUP_INCREMENTAL_ORACLE,
)
register(
    "corpus_mix_sources",
    corpus_queries.corpus_mix_sources,
    corpus_queries.CORPUS_MIX_SOURCES_ORACLE,
)
register(
    "boilerplate_ngrams",
    corpus_queries.boilerplate_ngrams,
    corpus_queries.BOILERPLATE_NGRAMS_ORACLE,
)
register(
    "embedding_ann_pq", llm_queries.embedding_ann_pq, llm_queries.EMBEDDING_ANN_PQ_ORACLE
)
register(
    "training_sequences",
    corpus_queries.training_sequences,
    corpus_queries.TRAINING_SEQUENCES_ORACLE,
)
register(
    "doc_pack_bfd",
    corpus_queries.doc_pack_bfd,
    corpus_queries.DOC_PACK_BFD_ORACLE,
)
register(
    "doc_packing_efficiency",
    corpus_queries.doc_packing_efficiency,
    corpus_queries.DOC_PACKING_EFFICIENCY_ORACLE,
)
register(
    "training_sequences_text",
    corpus_queries.training_sequences_text,
    corpus_queries.TRAINING_SEQUENCES_TEXT_ORACLE,
)
register(
    "embedding_ann_ivfpq",
    llm_queries.embedding_ann_ivfpq,
    llm_queries.EMBEDDING_ANN_IVFPQ_ORACLE,
)
register(
    "embedding_ann_multiprobe",
    llm_queries.embedding_ann_multiprobe,
    llm_queries.EMBEDDING_ANN_MULTIPROBE_ORACLE,
)
register(
    "embedding_ann_recall",
    llm_queries.embedding_ann_recall,
    llm_queries.EMBEDDING_ANN_RECALL_ORACLE,
)
register(
    "embedding_ann_recall_matrix",
    llm_queries.embedding_ann_recall_matrix,
    llm_queries.EMBEDDING_ANN_RECALL_MATRIX_ORACLE,
)
register(
    "events_funnel", timeseries_queries.events_funnel, timeseries_queries.EVENTS_FUNNEL_ORACLE
)
register(
    "user_retention_cohorts",
    timeseries_queries.user_retention_cohorts,
    timeseries_queries.USER_RETENTION_COHORTS_ORACLE,
)
register(
    "corpus_quality_filter",
    corpus_queries.corpus_quality_filter,
    corpus_queries.CORPUS_QUALITY_FILTER_ORACLE,
)
register(
    "doc_quality_classifier",
    corpus_queries.doc_quality_classifier,
    corpus_queries.DOC_QUALITY_CLASSIFIER_ORACLE,
)
register(
    "doc_quality_confusion",
    corpus_queries.doc_quality_confusion,
    corpus_queries.DOC_QUALITY_CONFUSION_ORACLE,
)
register(
    "wordpiece_fertility_by_lang",
    corpus_queries.wordpiece_fertility_by_lang,
    corpus_queries.WORDPIECE_FERTILITY_ORACLE,
)
register(
    "wordpiece_merges",
    corpus_queries.wordpiece_merges,
    corpus_queries.WORDPIECE_MERGES_ORACLE,
)
register(
    "wordpiece_token_stats",
    corpus_queries.wordpiece_token_stats,
    corpus_queries.WORDPIECE_TOKEN_STATS_ORACLE,
)
register(
    "bloom_skipping_census",
    layout_queries.bloom_skipping_census,
    layout_queries.BLOOM_SKIPPING_CENSUS_ORACLE,
)
register(
    "doc_quality_pr_curve",
    corpus_queries.doc_quality_pr_curve,
    corpus_queries.DOC_QUALITY_PR_CURVE_ORACLE,
)
register(
    "doc_substring_sa",
    corpus_queries.doc_substring_sa,
    corpus_queries.DOC_SUBSTRING_SA_ORACLE,
)
register(
    "doc_substring_sa_dedup",
    corpus_queries.doc_substring_sa_dedup,
    corpus_queries.DOC_SUBSTRING_SA_DEDUP_ORACLE,
)
# Tokenizer artifact publish/apply (VERDICT r13 #5): train -> catalog
# write -> read back -> encode from the published copy. Each reuses its
# family's train+encode replay oracle verbatim — the replay never
# touches the published file, so the pair differentially proves the
# publish hop lossless (see corpus_queries._publish_read_back).
register(
    "bpe_publish_encode",
    corpus_queries.bpe_publish_encode,
    corpus_queries.BPE_TOKEN_STATS_ORACLE,
)
register(
    "wordpiece_publish_encode",
    corpus_queries.wordpiece_publish_encode,
    corpus_queries.WORDPIECE_TOKEN_STATS_ORACLE,
)
register(
    "unigram_publish_encode",
    corpus_queries.unigram_publish_encode,
    corpus_queries.UNIGRAM_TOKEN_STATS_ORACLE,
)
register(
    "wordpiece_unk_foreign",
    corpus_queries.wordpiece_unk_foreign,
    corpus_queries.WORDPIECE_UNK_FOREIGN_ORACLE,
)
# Production-mode SA (map-side xxhash64 round-0 token ids). xxhash64 is
# not DuckDB-replayable, so the oracle replays the RANK-mode pipeline:
# dup_len is an LCP maximum, invariant under alphabet relabeling, and
# bit-equality of the two modes is pinned by tests/test_suffix.py::
# test_hashed_mode_parity at the driver's sf (see
# doc_substring_sa_hashed docstring).
register(
    "doc_substring_sa_hashed",
    corpus_queries.doc_substring_sa_hashed,
    corpus_queries.DOC_SUBSTRING_SA_ORACLE,
)
register(
    "doc_eval_sample", corpus_queries.doc_eval_sample, corpus_queries.DOC_EVAL_SAMPLE_ORACLE
)
register("nation_volume_sql", sql_api.nation_volume_sql, sql_api.NATION_VOLUME_ORACLE)
register("forecast_revenue_sql", sql_api.forecast_revenue_sql, sql_api.FORECAST_REVENUE_ORACLE)
register("returned_item_sql", sql_api.returned_item_sql, sql_api.RETURNED_ITEM_ORACLE)
register(
    "brand_fuzzy_match", analytics.brand_fuzzy_match, analytics.BRAND_FUZZY_MATCH_ORACLE
)
register(
    "documents_profile",
    quality_queries.documents_profile,
    quality_queries.DOCUMENTS_PROFILE_ORACLE,
)
register(
    "near_dup_source_matrix",
    llm_queries.near_dup_source_matrix,
    llm_queries.NEAR_DUP_SOURCE_MATRIX_ORACLE,
)
register(
    "region_nation_revenue_share",
    timeseries_queries.region_nation_revenue_share,
    timeseries_queries.REGION_NATION_REVENUE_SHARE_ORACLE,
)
register(
    "exact_dedup_by_fingerprint",
    llm_queries.exact_dedup_by_fingerprint,
    llm_queries.EXACT_DEDUP_BY_FINGERPRINT_ORACLE,
)
register(
    "order_lifecycle_fact",
    warehouse.order_lifecycle_fact,
    warehouse.ORDER_LIFECYCLE_FACT_ORACLE,
)
register(
    "orders_constraint_gate",
    quality_queries.orders_constraint_gate,
    quality_queries.ORDERS_CONSTRAINT_GATE_ORACLE,
)
register(
    "events_cdc_apply",
    ingest_queries.events_cdc_apply,
    ingest_queries.EVENTS_CDC_APPLY_ORACLE,
)
register(
    "embedding_dense_topk",
    llm_queries.embedding_dense_topk,
    llm_queries.EMBEDDING_COSINE_TOPK_ORACLE,
)
register(
    "embedding_kmeans_refine",
    llm_queries.embedding_kmeans_refine,
    llm_queries.EMBEDDING_KMEANS_REFINE_ORACLE,
)
register(
    "doc_split_dedup_aware",
    llm_queries.doc_split_dedup_aware,
    llm_queries.DOC_SPLIT_DEDUP_AWARE_ORACLE,
)
register(
    "brand_price_outliers",
    timeseries_queries.brand_price_outliers,
    timeseries_queries.BRAND_PRICE_OUTLIERS_ORACLE,
)
register(
    "event_transitions",
    timeseries_queries.event_transitions,
    timeseries_queries.EVENT_TRANSITIONS_ORACLE,
)
register(
    "session_conversion",
    timeseries_queries.session_conversion,
    timeseries_queries.SESSION_CONVERSION_ORACLE,
)
register(
    "user_sketch_rollup",
    timeseries_queries.user_sketch_rollup,
    timeseries_queries.USER_SKETCH_ROLLUP_ORACLE,
)
register(
    "events_volume_anomaly",
    timeseries_queries.events_volume_anomaly,
    timeseries_queries.EVENTS_VOLUME_ANOMALY_ORACLE,
)
register("market_share_sql", sql_api.market_share_sql, sql_api.MARKET_SHARE_ORACLE)

# Round-4 additions: cosine-LSH embedding near-dup (quantizer-free
# bucketed candidates) and a from-scratch count-min frequency sketch.
register(
    "embedding_lsh_near_dup",
    llm_queries.embedding_lsh_near_dup,
    llm_queries.EMBEDDING_LSH_NEAR_DUP_ORACLE,
)
# Round-10 addition (VERDICT r9 #2): the loud-truncation accounting row
# for the LSH hot-bucket membership cap.
register(
    "embedding_lsh_bucket_stats",
    llm_queries.embedding_lsh_bucket_stats,
    llm_queries.EMBEDDING_LSH_BUCKET_STATS_ORACLE,
)
# Round-14: SemDeDup (cluster-bucketed semantic dedup, Abbas et al.
# 2023). The dedup row is empty on the driver corpus (no within-cell
# pair reaches tau — measured 0.60 max at every sf); the stats row is
# the live driver differential and the generated sf1 corpus proves the
# dup path (see tools/oracle_sf1.py + the family comment).
register(
    "embedding_semantic_dedup",
    llm_queries.embedding_semantic_dedup,
    llm_queries.EMBEDDING_SEMANTIC_DEDUP_ORACLE,
)
register(
    "embedding_semantic_dedup_stats",
    llm_queries.embedding_semantic_dedup_stats,
    llm_queries.EMBEDDING_SEMANTIC_DEDUP_STATS_ORACLE,
)
# Round 15 (VERDICT r14 #3): the TRAINED-quantizer SemDeDup family —
# kmeans_fit centroids instead of the raw first-64 seed, the full Lloyd
# loop replayed unrolled in the oracle, plus the seed-vs-trained
# occupancy census that proves the training balances the cells the cap
# acts on.
register(
    "embedding_semantic_dedup_trained",
    llm_queries.embedding_semantic_dedup_trained,
    llm_queries.EMBEDDING_SEMANTIC_DEDUP_TRAINED_ORACLE,
)
register(
    "embedding_semantic_dedup_trained_stats",
    llm_queries.embedding_semantic_dedup_trained_stats,
    llm_queries.EMBEDDING_SEMANTIC_DEDUP_TRAINED_STATS_ORACLE,
)
register(
    "semdedup_occupancy_compare",
    llm_queries.semdedup_occupancy_compare,
    llm_queries.SEMDEDUP_OCCUPANCY_COMPARE_ORACLE,
)
register(
    "embedding_ann_pq_trained",
    llm_queries.embedding_ann_pq_trained,
    llm_queries.EMBEDDING_ANN_PQ_TRAINED_ORACLE,
)
register(
    "embedding_ann_ivf_trained",
    llm_queries.embedding_ann_ivf_trained,
    llm_queries.EMBEDDING_ANN_IVF_TRAINED_ORACLE,
)
register(
    "quantizer_distortion_compare",
    llm_queries.quantizer_distortion_compare,
    llm_queries.QUANTIZER_DISTORTION_COMPARE_ORACLE,
)
register(
    "events_heavy_hitters_cms",
    timeseries_queries.events_heavy_hitters_cms,
    timeseries_queries.EVENTS_HEAVY_HITTERS_CMS_ORACLE,
)
register(
    "bloom_prefilter_join",
    scale_queries.bloom_prefilter_join,
    scale_queries.BLOOM_PREFILTER_JOIN_ORACLE,
)
register(
    "events_quantile_rollup",
    scale_queries.events_quantile_rollup,
    scale_queries.EVENTS_QUANTILE_ROLLUP_ORACLE,
)
register(
    "doc_priority_sample",
    corpus_queries.doc_priority_sample,
    corpus_queries.DOC_PRIORITY_SAMPLE_ORACLE,
)
register(
    "doc_rarity_score",
    corpus_queries.doc_rarity_score,
    corpus_queries.DOC_RARITY_SCORE_ORACLE,
)
register("orc_scan_agg", ingest_queries.orc_scan_agg, ingest_queries.ORC_SCAN_AGG_ORACLE)
register("bpe_merges", corpus_queries.bpe_merges, corpus_queries.BPE_MERGES_ORACLE)
register(
    "semantic_dedup_census",
    llm_queries.semantic_dedup_census,
    llm_queries.SEMANTIC_DEDUP_CENSUS_ORACLE,
)
register(
    "semantic_dedup_greedy",
    llm_queries.semantic_dedup_greedy,
    llm_queries.SEMANTIC_DEDUP_GREEDY_ORACLE,
)
register("promo_revenue_sql", sql_api.promo_revenue_sql, sql_api.PROMO_REVENUE_ORACLE)
register("large_orders_sql", sql_api.large_orders_sql, sql_api.LARGE_ORDERS_ORACLE)
register(
    "brand_band_revenue_sql",
    sql_api.brand_band_revenue_sql,
    sql_api.BRAND_BAND_REVENUE_ORACLE,
)
register(
    "dormant_balance_sql", sql_api.dormant_balance_sql, sql_api.DORMANT_BALANCE_ORACLE
)
register(
    "bpe_token_stats", corpus_queries.bpe_token_stats, corpus_queries.BPE_TOKEN_STATS_ORACLE
)
register("window_funcs_sql", sql_api.window_funcs_sql, sql_api.WINDOW_FUNCS_ORACLE)
register(
    "events_skew_census",
    scale_queries.events_skew_census,
    scale_queries.EVENTS_SKEW_CENSUS_ORACLE,
)
register(
    "media_audio_roundtrip",
    llm_queries.media_audio_roundtrip,
    llm_queries.MEDIA_AUDIO_ROUNDTRIP_ORACLE,
)
register(
    "media_video_roundtrip",
    llm_queries.media_video_roundtrip,
    llm_queries.MEDIA_VIDEO_ROUNDTRIP_ORACLE,
)
register(
    "events_gap_fill",
    timeseries_queries.events_gap_fill,
    timeseries_queries.EVENTS_GAP_FILL_ORACLE,
)
register(
    "media_resize_roundtrip",
    llm_queries.media_resize_roundtrip,
    llm_queries.MEDIA_RESIZE_ROUNDTRIP_ORACLE,
)
register(
    "media_patchify",
    llm_queries.media_patchify,
    llm_queries.MEDIA_PATCHIFY_ORACLE,
)
register(
    "near_dup_prefix_join",
    llm_queries.near_dup_prefix_join,
    llm_queries.NEAR_DUP_PREFIX_JOIN_ORACLE,
)
register(
    "events_asof_forward",
    timeseries_queries.events_asof_forward,
    timeseries_queries.EVENTS_ASOF_FORWARD_ORACLE,
)
register(
    "events_session_window_native",
    ingest_queries.events_session_window_native,
    ingest_queries.EVENTS_SESSION_WINDOW_NATIVE_ORACLE,
)
register("cust_order_dist_sql", sql_api.cust_order_dist_sql, sql_api.CUST_ORDER_DIST_ORACLE)
register("top_supplier_sql", sql_api.top_supplier_sql, sql_api.TOP_SUPPLIER_ORACLE)
register(
    "doc_bigram_rarity",
    corpus_queries.doc_bigram_rarity,
    corpus_queries.DOC_BIGRAM_RARITY_ORACLE,
)
register(
    "doc_lm_backoff",
    corpus_queries.doc_lm_backoff,
    corpus_queries.DOC_LM_BACKOFF_ORACLE,
)
register(
    "doc_dsir_weights",
    corpus_queries.doc_dsir_weights,
    corpus_queries.DOC_DSIR_WEIGHTS_ORACLE,
)
register(
    "doc_epoch_shuffle",
    corpus_queries.doc_epoch_shuffle,
    corpus_queries.DOC_EPOCH_SHUFFLE_ORACLE,
)
register(
    "doc_length_batches",
    corpus_queries.doc_length_batches,
    corpus_queries.DOC_LENGTH_BATCHES_ORACLE,
)
register(
    "doc_substring_dup",
    corpus_queries.doc_substring_dup,
    corpus_queries.DOC_SUBSTRING_DUP_ORACLE,
)
register(
    "doc_substring_dedup",
    corpus_queries.doc_substring_dedup,
    corpus_queries.DOC_SUBSTRING_DEDUP_ORACLE,
)
register(
    "purchase_graph_pagerank",
    graph_queries.purchase_graph_pagerank,
    graph_queries.PURCHASE_GRAPH_PAGERANK_ORACLE,
)
register(
    "avg_qty_gated_revenue_sql",
    sql_api.avg_qty_gated_revenue_sql,
    sql_api.AVG_QTY_GATED_REVENUE_ORACLE,
)
register(
    "nation_value_concentration_sql",
    sql_api.nation_value_concentration_sql,
    sql_api.NATION_VALUE_CONCENTRATION_ORACLE,
)
register(
    "supplier_part_census_sql",
    sql_api.supplier_part_census_sql,
    sql_api.SUPPLIER_PART_CENSUS_ORACLE,
)
register(
    "purchase_graph_communities",
    graph_queries.purchase_graph_communities,
    graph_queries.PURCHASE_GRAPH_COMMUNITIES_ORACLE,
)
register(
    "near_dup_containment",
    llm_queries.near_dup_containment,
    llm_queries.NEAR_DUP_CONTAINMENT_ORACLE,
)
register(
    "containment_prefix_join",
    llm_queries.containment_prefix_join,
    llm_queries.CONTAINMENT_PREFIX_JOIN_ORACLE,
)
register(
    "containment_capped_join",
    llm_queries.containment_capped_join,
    llm_queries.CONTAINMENT_CAPPED_JOIN_ORACLE,
)
register(
    "containment_probe_skew",
    llm_queries.containment_probe_skew,
    llm_queries.CONTAINMENT_PROBE_SKEW_ORACLE,
)
register(
    "doc_negative_pairs",
    llm_queries.doc_negative_pairs,
    llm_queries.DOC_NEGATIVE_PAIRS_ORACLE,
)
register(
    "doc_balanced_oversample",
    corpus_queries.doc_balanced_oversample,
    corpus_queries.DOC_BALANCED_OVERSAMPLE_ORACLE,
)
register(
    "doc_bm25_topk",
    corpus_queries.doc_bm25_topk,
    corpus_queries.DOC_BM25_TOPK_ORACLE,
)
register(
    "doc_bm25_capped",
    corpus_queries.doc_bm25_capped,
    corpus_queries.DOC_BM25_CAPPED_ORACLE,
)
register(
    "doc_bm25_term_stats",
    corpus_queries.doc_bm25_term_stats,
    corpus_queries.DOC_BM25_TERM_STATS_ORACLE,
)
register(
    "hybrid_rrf_fusion",
    llm_queries.hybrid_rrf_fusion,
    llm_queries.HYBRID_RRF_FUSION_ORACLE,
)
register(
    "doc_span_corruption",
    corpus_queries.doc_span_corruption,
    corpus_queries.DOC_SPAN_CORRUPTION_ORACLE,
)
register(
    "window_frames_sql",
    sql_api.window_frames_sql,
    sql_api.WINDOW_FRAMES_ORACLE,
)
register(
    "waiting_supplier_sql",
    sql_api.waiting_supplier_sql,
    sql_api.WAITING_SUPPLIER_ORACLE,
)
register(
    "events_props_variant",
    ingest_queries.events_props_variant,
    ingest_queries.EVENTS_PROPS_VARIANT_ORACLE,
)

# Round-8 additions: the end-to-end curation ladder (quality filter ->
# near-dup keep-best -> decontaminate -> mix -> pack) as one query
register(
    "corpus_curation_e2e",
    curation.corpus_curation_e2e,
    curation.CORPUS_CURATION_E2E_ORACLE,
)
register(
    "corpus_curation_funnel",
    curation.corpus_curation_funnel,
    curation.CORPUS_CURATION_FUNNEL_ORACLE,
)
# Round-10 additions (VERDICT r9 #5): the per-source frequency cap as a
# direct query and as an engaged curation-ladder stage with its own
# funnel row.
register(
    "corpus_cap_per_source",
    corpus_queries.corpus_cap_per_source,
    corpus_queries.CORPUS_CAP_PER_SOURCE_ORACLE,
)
register(
    "corpus_cap_per_source_best",
    llm_queries.corpus_cap_per_source_best,
    llm_queries.CORPUS_CAP_PER_SOURCE_BEST_ORACLE,
)
register(
    "corpus_curation_capped_funnel",
    curation.corpus_curation_capped_funnel,
    curation.CORPUS_CURATION_CAPPED_FUNNEL_ORACLE,
)
register(
    "top_balance_lateral_sql",
    sql_api.top_balance_lateral_sql,
    sql_api.TOP_BALANCE_LATERAL_ORACLE,
)
register(
    "doc_decontaminate_fuzzy",
    llm_queries.doc_decontaminate_fuzzy,
    llm_queries.DOC_DECONTAMINATE_FUZZY_ORACLE,
)
register(
    "embedding_decontaminate",
    llm_queries.embedding_decontaminate,
    llm_queries.EMBEDDING_DECONTAMINATE_ORACLE,
)
register(
    "media_vision_pack",
    llm_queries.media_vision_pack,
    llm_queries.MEDIA_VISION_PACK_ORACLE,
)

# Round-8 TPC-H completion: the four remaining classic shapes — Q2
# (correlated scalar-MAX-over-a-join), Q9 (derived profit measure by
# nation x year), Q12 (derived ship-speed dimension with dual
# conditional counts), Q20 (nested IN + two-column-correlated scalar).
# With these, all 22 TPC-H query shapes run from the SAME SQL text on
# both engines.
register(
    "min_cost_supplier_sql",
    sql_api.min_cost_supplier_sql,
    sql_api.MIN_COST_SUPPLIER_ORACLE,
)
register(
    "product_profit_sql",
    sql_api.product_profit_sql,
    sql_api.PRODUCT_PROFIT_ORACLE,
)
register(
    "ship_speed_priority_sql",
    sql_api.ship_speed_priority_sql,
    sql_api.SHIP_SPEED_PRIORITY_ORACLE,
)
register(
    "concentrated_supply_sql",
    sql_api.concentrated_supply_sql,
    sql_api.CONCENTRATED_SUPPLY_ORACLE,
)

register(
    "events_hypertable_rollup",
    ingest_queries.events_hypertable_rollup,
    ingest_queries.EVENTS_HYPERTABLE_ROLLUP_ORACLE,
)

register(
    "bpe_fertility_by_lang",
    corpus_queries.bpe_fertility_by_lang,
    corpus_queries.BPE_FERTILITY_BY_LANG_ORACLE,
)

register(
    "doc_repetition_census",
    corpus_queries.doc_repetition_census,
    corpus_queries.DOC_REPETITION_CENSUS_ORACLE,
)

register(
    "unigram_train",
    corpus_queries.unigram_train_report,
    corpus_queries.UNIGRAM_TRAIN_ORACLE,
)

register(
    "unigram_fertility_by_lang",
    corpus_queries.unigram_fertility_by_lang,
    corpus_queries.UNIGRAM_FERTILITY_BY_LANG_ORACLE,
)

register(
    "tokenizer_fertility_compare",
    corpus_queries.tokenizer_fertility_compare,
    corpus_queries.TOKENIZER_FERTILITY_COMPARE_ORACLE,
)

register(
    "unigram_token_stats",
    corpus_queries.unigram_token_stats,
    corpus_queries.UNIGRAM_TOKEN_STATS_ORACLE,
)

register(
    "unigram_encode_byte_fallback",
    corpus_queries.unigram_encode_byte_fallback,
    corpus_queries.UNIGRAM_ENCODE_BYTE_FALLBACK_ORACLE,
)

register(
    "bpe_encode_byte_fallback",
    corpus_queries.bpe_encode_byte_fallback,
    corpus_queries.BPE_ENCODE_BYTE_FALLBACK_ORACLE,
)

register(
    "xml_scan_agg",
    ingest_queries.xml_scan_agg,
    ingest_queries.XML_SCAN_AGG_ORACLE,
)

register(
    "corpus_mix_temperature",
    corpus_queries.corpus_mix_temperature,
    corpus_queries.CORPUS_MIX_TEMPERATURE_ORACLE,
)

register(
    "zorder_skipping_census",
    layout_queries.zorder_skipping_census,
    layout_queries.ZORDER_SKIPPING_CENSUS_ORACLE,
)

register(
    "compaction_plan",
    layout_queries.compaction_plan,
    layout_queries.COMPACTION_PLAN_ORACLE,
)

register(
    "doc_line_dedup",
    corpus_queries.doc_line_dedup,
    corpus_queries.DOC_LINE_DEDUP_ORACLE,
)

register(
    "doc_c4_line_clean",
    corpus_queries.doc_c4_line_clean,
    corpus_queries.DOC_C4_LINE_CLEAN_ORACLE,
)

register(
    "layout_advisor_report",
    layout_queries.layout_advisor_report,
    layout_queries.LAYOUT_ADVISOR_REPORT_ORACLE,
)

register(
    "doc_pii_luhn",
    corpus_queries.doc_pii_luhn,
    corpus_queries.DOC_PII_LUHN_ORACLE,
)

register(
    "doc_ccnet_buckets",
    corpus_queries.doc_ccnet_buckets,
    corpus_queries.DOC_CCNET_BUCKETS_ORACLE,
)

register(
    "doc_winnow_census",
    corpus_queries.doc_winnow_census,
    corpus_queries.DOC_WINNOW_CENSUS_ORACLE,
)

register(
    "corpus_mixture_schedule",
    corpus_queries.corpus_mixture_schedule,
    corpus_queries.CORPUS_MIXTURE_SCHEDULE_ORACLE,
)

register(
    "supplier_cosupply_triangles",
    graph_queries.supplier_cosupply_triangles,
    graph_queries.SUPPLIER_COSUPPLY_TRIANGLES_ORACLE,
)

register(
    "supplier_cosupply_kcore",
    graph_queries.supplier_cosupply_kcore,
    graph_queries.SUPPLIER_COSUPPLY_KCORE_ORACLE,
)
