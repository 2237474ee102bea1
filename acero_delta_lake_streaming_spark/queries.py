"""Unified query registry: every implemented operator + its DuckDB oracle.

The driver contract (``__spark_entry__.py``) exposes ``queries()`` and
``oracle_sql()``; this module is their single source of truth, merged from
the per-domain operator modules. Names present in QUERIES but absent from
ORACLES are non-SQL-expressible (custom stateful/approximate operators) and
receive the driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

import importlib
import importlib.util
import re

from acero_delta_lake_streaming_spark.operators import (  # noqa: E402
    relational,
    tpch,
    windows,
)

_MODULES = [relational, tpch, windows]

# Extension operator modules land incrementally. Gate on find_spec so only
# truly-absent modules are skipped — a genuine import error inside an
# existing module must propagate, not silently drop an operator family.
_OPTIONAL = (
    "acero_delta_lake_streaming_spark.operators.dedup",
    "acero_delta_lake_streaming_spark.operators.similarity",
    "acero_delta_lake_streaming_spark.operators.text",
    "acero_delta_lake_streaming_spark.operators.sessionize",
    "acero_delta_lake_streaming_spark.operators.multimodal",
    "acero_delta_lake_streaming_spark.operators.asof",
    "acero_delta_lake_streaming_spark.operators.curation",
    "acero_delta_lake_streaming_spark.operators.retrieval",
    "acero_delta_lake_streaming_spark.operators.sketch",
    "acero_delta_lake_streaming_spark.operators.scrub",
    "acero_delta_lake_streaming_spark.functions.extract",
    "acero_delta_lake_streaming_spark.storage.queries",
    "acero_delta_lake_streaming_spark.streaming.queries",
)
def _spec_exists(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except ModuleNotFoundError:
        # Parent package itself absent; find_spec never executes module
        # bodies, so this cannot mask a real import-time failure.
        return False


for _name in _OPTIONAL:
    if _spec_exists(_name):
        _MODULES.append(importlib.import_module(_name))


# Verification-priority ordering. The external driver's correctness gate
# walks the registry in iteration order and records a bounded prefix
# (round 2: exactly the first 50 entries). Every query below passes the
# identical local hash-parity gate (tests/test_oracle_parity.py, all SFs),
# so ordering changes no semantics — it decides which queries get a
# *driver-recorded* row. Families the driver has never recorded
# (x*/ud*/s*/st* — dedup, similarity/ANN, text, multimodal, session,
# extraction, storage, streaming) go first; then one representative per
# core family; the long relational/TPC-H tail (all driver-green in round
# 2, CORRECTNESS_r02.json) fills the remainder.
_PRIORITY = [
    # Window layout (the driver records ~the first 50). Rotation rule
    # (VERDICT r4 item 2, executed every round since): fixtures
    # REGENERATE between rounds, so a query's driver proof decays — no
    # query's newest driver-green row should be older than two rounds.
    # Round-13 window (VERDICT r12 item 1): the 3 new never-recorded
    # queries lead (no hashes changed this round — the x3i refactor is
    # output-identical), then the 35 r6-vintage proofs (the stalest
    # block), then the r8-vintage head fills the ~50 window — its
    # remainder leads the r14 window. Blocks below are EXACT staleness
    # order (computed from every CORRECTNESS_r*.json: a query's newest
    # driver-green round), registry order within a block. Everything
    # past the window stays verified by the local tri-scale gate at
    # sf0.001/.01/.1 (test_oracle_parity.py).
    # -- new round 13 (never driver-recorded) --
    "s49b_cluster_by_create", "x76_cross_encoder_rerank",
    "st27_streaming_graph_ann", "x5i_progressive_jpeg_decode",
    "x77_learned_sparse",
    # -- r6-vintage (the stalest; 35) --
    "x37_cluster_balanced_sample", "x38_dsir_importance", "w13_stickiness",
    "st15_delta_cdf_follower", "s19_check_constraints",
    "x30_incremental_neardup", "t3_sort_display", "u4_except_all",
    "a5_value_counts", "p9_boolean_filter", "p2_computed_columns",
    "p3_concat_text", "a3_filtered_count", "w4_sliding_windows",
    "p8_null_default", "q14_promo_revenue_share", "q19_brand_revenue",
    "ud2_explode_tokens", "a2_count_distinct", "a6_two_key_counts",
    "a7_min_max", "t2_topk_breakdown", "u2_union_all", "u3_intersect",
    "f6_json_extract", "f7_regexp_suite", "f8_array_suite",
    "w1_daily_delta", "w2_moving_avg", "w3_rank_in_group",
    "flagship_breakdown", "s3_delta_append_scan", "s3b_skipping_scan",
    "s4_time_travel", "s5_medallion_fanout",
    # -- r8-vintage (head fills the ~50 window; remainder leads r14) --
    "x56_readability", "x57_source_overlap", "x59_cluster_purity",
    "dq8_benford_audit", "x60_containment_pairs", "x61_ql_topk",
    "x62_hybrid_rrf", "st23_streaming_scd2_enrich", "x63_sketch_overlap",
    "x64_matryoshka_recall", "x5e_audio_vad", "dq9_reconciliation",
    "x65_lsh_sweep", "s38_domain_metadata", "s39_column_defaults",
    "s28_replace_where", "x41_bpe_train", "st19_streaming_heavy_hitters",
    "x3h_pq_ann", "s29_identity_columns", "s30_mapped_partitioned",
    "st20_mapped_stream_sink", "x42_temperature_mix", "x43_coverage_select",
    "w16_time_weighted_avg", "x44_luhn_card_scrub",
    "x45_embedding_outliers", "s31_overwrite", "dq4_referential_integrity",
    "x46_boilerplate_grams", "x41b_bpe_encode", "x47_ann_recall_audit",
    "dq5_timeseries_gaps", "dq6_robust_outliers", "s32_dynamic_overwrite",
    "w17_pareto_sources", "s33_overwrite_schema",
    "st21_streaming_dedup_ledger", "a15_grouping_sets",
    "x48_semantic_decontam", "x49_leakage_safe_split", "x50_quality_probe",
    "s34_row_id_lifecycle", "x5d_multimodal_pack", "x51_dedup_roi",
    "f9_datetime_suite", "st22_streaming_quality_mart",
    "s35_generated_partition_pruning", "dq7_token_drift",
    "a16_conditional_aggregates",
    # -- r9-vintage --
    "xj3_asof_tolerance", "x52_quantizer_drift", "s36_identity_merge",
    "s37_mapped_row_ids", "x53_phrase_search", "x54_budget_waterfill",
    "x55_novelty_curve", "s22_mapped_merge_delete", "s23_dv_merge",
    "s24_id_mode_writes", "s25_row_tracking", "st18_streaming_ivf_assign",
    "x34b_substring_trim", "s26_clone_rewrite", "s27_type_widening",
    "x10b_decontaminate_trim", "x39_cluster_topics", "x40_normalized_dedup",
    "x60b_corpus_containment", "st24_delta_append_stream",
    "x2b_simhash_groups", "x2c_ngram_jaccard_pairs", "x2d_dup_clusters",
    "x3b_ann_lsh", "x3c_cosine_neardup", "x4b_lang_profile",
    "x4c_fingerprint", "x4d_langid_ngram", "x4e_bpe_token_stats",
    "x5b_decode_features", "x5c_frame_sample", "x6b_session_stats",
    "xj1_asof_prior_click", "xj2_range_clicks_before_purchase",
    "w5_ohlc_downsample", "w7_scd2_user_state", "w8_funnel",
    "x8_dataset_split", "x9_stratified_sample", "x10_contamination_check",
    "x11_context_chunks", "s6_cached_read", "s7_upsert_merge",
    "s8_delta_format_roundtrip", "s9_zorder_skipping",
    "st1_medallion_ingest", "st2_stateful_totals", "st4_windowed_counts",
    "st7_interval_join", "st8_stream_static_enrich",
    # -- r10-vintage --
    "st24b_partitioned_append_stream", "x5f_media_phash_neardup",
    "s41_bucketed_colocated_join", "x66_tokenizer_fertility",
    "x67_histogram_quantiles", "s42_variant_ingest",
    "s43_collated_grouping", "dq10_key_uniqueness", "x68_training_shards",
    "s44_iceberg_compat_writes", "st25_streaming_shard_tail",
    "x69_bitext_mining", "st26_streaming_quantile_mart",
    "x70_hard_negatives", "s45_log_compaction", "s46_row_lineage_diff",
    "x68b_shard_balance", "x1_exact_dedup", "x2_minhash_near_dup",
    "x3_cosine_topk", "x4_doc_stats", "x5_meta_pruning", "x6_sessionize",
    "x7_sequence_pack", "x12_repetition_quality", "x13_kmv_distinct",
    "x14_semdedup", "x15_mixture_sample", "x16_pii_redaction",
    "x17_cms_heavy_hitters", "x19_line_dedup", "x20_curation_pipeline",
    "x21_bm25_topk", "x22_quantize_error", "x23_fuzzy_linkage",
    "x24_jl_projection", "ud1_extract_categories", "ud2_flatten_actors",
    "ud3_quarantine_stats", "dq1_column_profile", "dq1b_approx_profile",
    "dq2_expectations", "a11_pivot", "a12_cube", "a13_salted_hot_agg",
    "w6_new_users", "w9_gap_fill", "w10_ema", "w11_anomaly_zscore",
    # -- r11-vintage --
    "s47_cdf_obligation", "x5g_png_decode", "dq11_calibration_audit",
    "s1_feed_ingest", "s10_delta_merge", "s10b_partitioned_merge",
    "s11_version_diff", "s12_change_feed", "s12b_incremental_consumer",
    "st9_streaming_ema", "q2_cheapest_part", "q8_market_share",
    "q11_important_parts", "q12_priority_class_shipping",
    "q13_customer_distribution", "q15_top_supplier", "q16_supplier_variety",
    "q17_small_quantity_revenue", "q20_excess_shippers",
    "q21_sole_supplier_orders", "q22_dormant_balances", "x3d_ivf_topk",
    "x3e_quantized_ann", "x21b_bm25_ln_topk", "s13_merge_delete",
    "s14_restore", "s15_stats_skipping", "s16_zorder_real",
    "st10_cdf_follower", "st11_streaming_sessions",
    "a14_sampled_percentiles", "x26_unigram_surprise", "s17_dv_delete",
    "st12_incremental_agg_mart", "j4_bloom_prefilter_join",
    "w12_retention_cohorts", "st13_left_outer_join", "x27_hll_distinct",
    "x28_graph_pagerank", "s18_shallow_clone", "st14_watermark_dedup",
    "ud4_retry_stats", "x29_sequence_patterns", "dq3_profile_drift",
    "x31_source_keywords", "q1_pricing_summary", "q3_shipping_priority",
    # -- r12-vintage (freshest) --
    "s48_version_checksums", "s49_liquid_clustering", "x73_unigram_train",
    "x73b_unigram_fertility", "x74_late_interaction", "x5h_jpeg_decode",
    "x75_two_stage_ann", "dq12_agreement_audit", "x3i_graph_ann",
    "x71_typo_pairs", "x71b_typo_pairs_ed2", "x72_mmr_rerank",
    "q4_late_shipment_priority", "q5_region_revenue", "q6_forecast_revenue",
    "q7_nation_trade", "q9_product_profit", "q10_returned_revenue",
    "q18_large_orders", "p1_project", "p4_membership_filter",
    "p5_date_range_filter", "p6_anti_contains_filter",
    "p7_conjunctive_filter", "j1_semi_join", "j2_left_outer_join",
    "j3_anti_join", "a1_count_star", "a4_daily_counts",
    "a8_grouped_total_order", "a9_rollup", "a10_percentiles", "t1_topk",
    "u1_union_discriminator", "f_scalar_suite",
    "s17b_dv_delete_partitioned", "x3f_ivf_sq_ann", "st16_full_outer_join",
    "x3g_filtered_ann", "x32_weighted_sample", "x33_canonical_dedup",
    "x34_substring_dedup", "w14_rfm_segments", "s20_column_mapping_writes",
    "s20b_drop_column", "s21_v2_checkpoint", "x35_domain_centroids",
    "w15_attribution", "x36_bigram_surprise", "st17_streaming_neardup",
]


def _ordered(d: dict) -> dict:
    rank = {name: i for i, name in enumerate(_PRIORITY)}
    return dict(
        sorted(d.items(), key=lambda kv: (rank.get(kv[0], len(rank)), kv[0]))
    )


def all_queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    for mod in _MODULES:
        dup = set(out) & set(mod.QUERIES)
        if dup:
            raise ValueError(f"duplicate query names {dup} in {mod.__name__}")
        out.update(mod.QUERIES)
    return _ordered(out)


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(getattr(mod, "ORACLES", {}))
    return _ordered({name: materialize_ctes(sql) for name, sql in out.items()})


#: a CTE head ``name [(cols)] AS (`` led by WITH [RECURSIVE] or by the
#: comma between CTEs. CAST's ``AS type`` and ``WINDOW w AS (`` do not
#: match; a second, comma-led entry of a WINDOW list would, and no oracle
#: has one (``tests/test_oracle_parity.py`` pins what the rewrite touches).
_CTE_HEAD = re.compile(
    r"((?:\bWITH(?:\s+RECURSIVE)?|,)\s*\w+\s*(?:\([^()]*\))?\s+AS)(\s*\()",
    re.IGNORECASE,
)


def materialize_ctes(sql: str) -> str:
    """``sql`` with every CTE head ``name AS (`` written ``name AS
    MATERIALIZED (``. DuckDB inlines an unmarked CTE at each reference,
    so an oracle that reads one CTE from several later ones recomputes
    it each time; the materialized form evaluates it once and returns
    the same rows."""
    return _CTE_HEAD.sub(r"\1 MATERIALIZED\2", sql)
