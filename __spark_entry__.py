"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the external-index pruned scan + aggregation
(reference demo Q3 shape) on /root/testdata/sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator
from SURVEY.md §2 (+ the training-data pipeline operators), checked
against DuckDB at sf=0.01 by the driver.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from datafusion_async_parquet_index_spark.queries import q3_or_range_agg

    return q3_or_range_agg(spark, "/root/testdata/sf0.001")


# The order of ``queries()`` and ``oracle_sql()``: these names first, in
# this order, then any registered entry not listed.  Each name appears
# once (tests/test_round_priority.py pins that, and that each is a
# registered query).
_ROUND_PRIORITY = [
    "web_chunked_charset_text", "web_warc_container_stats",
    "web_pagerank_step", "web_crawl_clean_pipeline", "web_pagerank_iterations",
    "web_boilerplate_text", "q67_group_minmax", "q97_change_feed",
    "q98_update_where", "q99_incremental_agg_from_feed",
    "q100_optimize_lifecycle", "text_topk_terms", "text_curation_pipeline",
    "text_deterministic_sample", "text_token_budget_pack",
    "text_stratified_sample", "text_unigram_logprob", "text_sequence_pack",
    "text_quality_classifier", "dedup_source_crosstab", "dedup_cross_modal",
    "dedup_clusters", "dedup_verified_clusters", "sim_range_search",
    "sim_ivfpq_topk", "sim_topk_live", "q101_snapshot_restore",
    "q102_incremental_join_view_from_feed", "q103_append",
    "q104_snapshot_expiry", "dedup_simhash", "dedup_simhash_pairs",
    "dedup_ngram_jaccard", "dedup_embedding_cosine", "dedup_incremental",
    "dedup_incremental_persisted", "dedup_stream_incremental",
    "dedup_embedding_lsh", "dedup_containment", "dedup_keep_policy",
    "dedup_minhash_quality", "sim_bruteforce_topk", "sim_lsh_topk",
    "sim_ivf_topk", "sim_ivf_nprobe_topk", "sim_ivf_layout_topk",
    "sim_sq_topk", "sim_ivfpq_layout_topk", "sim_recall_report",
    "emb_label_centroids", "ev_tumbling_agg", "ev_sliding_agg",
    "mm_decode_jpeg420_stats", "mm_decode_jpeg422_stats",
    "mm_decode_jpeg_prog_stats", "web_warc_metadata", "web_warc_html_text",
    "web_url_canonical_dedup", "web_link_graph_degrees", "dedup_exact",
    "dedup_minhash_lsh", "dedup_verified_pairs", "dedup_cluster_stats",
    "sim_pq_topk", "emb_kmeans_step", "ev_attribution", "ev_funnel_ordered",
    "ev_markov_transitions", "ev_stream_rate", "ev_user_lifecycle",
    "mm_feature_extract", "dedup_snapshot_diff", "q18_semi_join",
    "q19_anti_join", "q20_asof_join", "q21_count_distinct",
    "q22_correlated_subquery", "q23_running_total", "q24_lag_gaps",
    "q25_set_ops", "q26_percentiles", "q27_outer_join_distribution",
    "q28_hll_registers", "q29_argmax_join", "q30_shift_pred",
    "q31_registered_view", "q32_bloom_point_lookup", "q33_range_join",
    "q34_cube", "q36_salted_join", "q52_metadata_minmax",
    "q54_catalog_describe", "q55_colcol_pred", "q61_count_pushdown",
    "q62_sum_pushdown", "q63_group_sum_pushdown", "q68_var_pushdown",
    "q69_remote_catalog", "q71_catalog_profile", "q64_div_pred",
    "q65_decimal_minmax", "q66_topk_pushdown", "mm_decode_jpeg_stats",
    "q107_page_index_scan", "mm_mp4_metadata", "mm_jpeg_ahash_dedup",
    "emb_pca_power_step", "sim_filtered_topk", "sim_hybrid_rrf",
    "ev_stream_sliding", "ev_stream_interval_join", "ev_stream_dedup",
    "ev_session_window_agg", "ev_stream_session_window",
    "text_temperature_resample", "q6_pricing_summary",
    "q7_join_revenue_by_nation", "q8_distinct", "q9_window_topn",
    "q10_like_prefix", "q11_case_when_agg", "q12_in_filter_join",
    "q13_union_set_op", "q14_not_null_arith", "q15_multi_join_lineitem",
    "q16_date_range", "q17_rollup", "q51_partition_group_count",
    "q53_hll_union_merge", "q56_bucketed_join", "q57_rank_family",
    "q58_unpivot", "q59_nullsafe_join", "q60_decimal_pred", "q91_delete_scan",
    "q92_dv_count_sum_pushdown", "q93_dv_compaction", "q94_merge_upsert",
    "q95_dedup_delete_vectors", "q96_stream_retraction",
    "text_quality_metrics", "text_langid", "text_token_counts",
    "text_fingerprint", "text_bigram_logprob", "text_tfidf_topk",
    "text_bm25_score", "text_lang_confusion", "text_hashed_ngram_features",
    "text_zipf_fit", "text_bpe_pair_merge", "text_length_histogram",
    "q105_append_merge_schema", "q106_concurrent_writers",
    "mm_decode_png_stats", "mm_decode_wav_stats", "mm_wav_energy_stats",
    "mm_image_ahash_dedup", "mm_resize_png_stats", "mm_resample_wav_stats",
    "dedup_overlap_kmv", "q1_select_limit", "q2_point_equality",
    "q3_or_range_agg", "q4_and_mixed_columns", "q5_contradictory_and",
    "q35_rowgroup_scan", "q37_case_pred", "q38_exists_subquery",
    "q39_grouping_sets", "q40_range_frame", "q41_pivot", "q42_hll_estimate",
    "q43_in_pred", "q44_isnull_pred", "q45_binned_quantiles",
    "q46_partitioned_scan", "q47_zorder_scan", "q48_metadata_count",
    "q49_token_search", "q50_join_pruned_scan", "q70_group_var_pushdown",
    "q72_schema_evolution", "q73_compaction", "q74_incremental_refresh",
    "q75_hist_quantiles", "q76_group_hist_quantiles", "q77_ndv_pushdown",
    "q78_group_ndv", "q79_catalog_join_strategy", "q80_dict_groupby",
    "q83_time_travel", "q84_snapshot_delta", "q85_asof_pushdown",
    "q86_heavy_hitters", "q87_group_heavy_hitters", "q88_stream_ingest",
    "q89_sql_pushdown", "q90_rtree_plan", "q81_dict_distinct",
    "q82_dict_pruning", "dedup_semantic", "mm_decode_pixel_stats",
    "mm_resize_decoded_stats", "ev_sessionize", "ev_type_funnel",
    "ev_cms_user_counts", "ev_json_extract", "ev_retention", "ev_anomaly",
    "ev_interval_join", "ev_stream_tumbling", "ev_stream_sessionize",
    "mm_metadata_extract", "mm_frame_sample_stats", "mm_modality_stats",
    "mm_resize_stats", "text_pii_scrub", "text_domain_mixture",
    "dedup_substring_ngram", "text_quality_buckets", "text_winnow_fingerprint",
    "dedup_contamination", "text_repetition_stats", "text_gopher_filter",
]


def _prioritize(entries: dict) -> dict:
    ordered = {k: entries[k] for k in _ROUND_PRIORITY if k in entries}
    for k, v in entries.items():
        if k not in ordered:
            ordered[k] = v
    return ordered


# Queries RUNTIME-AUDITED as pure plan builders: on a warm re-entry
# (fixtures/gates already built) the function performs NO Spark action,
# NO driver-side data construction (createDataFrame of computed values)
# and NO table mutation — it only rebuilds an identical lazy plan, at
# 0.1-1 s of driver py4j cost per call.  These are wrapped in
# operators.util.pure_plan (plan memo per session+corpus; cleared by
# clear_caches, so cold passes and fresh processes still price
# construction; every sink/action still computes from parquet).
# Deliberately EXCLUDED: DML/snapshot/stream-ingest rows (mutate state
# or execute inside the call), catalog-arithmetic rows that build their
# result rows driver-side (q45/q48/q5x/q6x/q7x/q8x pushdown family),
# indexed-scan rows that run plan_scan per call (the catalog planning
# IS part of what they measure), and the connected-components family
# (driver union-find per call; its shared artifact is memoized in
# operators.dedup instead).
_PLAN_PURE = frozenset({
    "dedup_containment", "dedup_contamination", "dedup_cross_modal",
    "dedup_embedding_cosine", "dedup_embedding_lsh", "dedup_exact",
    "dedup_incremental", "dedup_incremental_persisted",
    "dedup_minhash_lsh", "dedup_minhash_quality", "dedup_ngram_jaccard",
    "dedup_semantic", "dedup_simhash", "dedup_simhash_pairs",
    "dedup_snapshot_diff", "dedup_source_crosstab",
    "dedup_substring_ngram", "dedup_verified_pairs", "emb_kmeans_step",
    "emb_label_centroids", "emb_pca_power_step", "ev_anomaly",
    "ev_attribution", "ev_cms_user_counts", "ev_funnel_ordered",
    "ev_interval_join", "ev_json_extract", "ev_markov_transitions",
    "ev_retention", "ev_session_window_agg", "ev_sessionize",
    "ev_sliding_agg", "ev_stream_dedup", "ev_stream_interval_join",
    "ev_stream_rate", "ev_stream_session_window", "ev_stream_sessionize",
    "ev_stream_sliding", "ev_stream_tumbling", "ev_tumbling_agg",
    "ev_type_funnel", "ev_user_lifecycle", "mm_decode_jpeg420_stats",
    "mm_decode_jpeg422_stats", "mm_decode_jpeg_prog_stats",
    "mm_decode_jpeg_stats", "mm_decode_pixel_stats", "mm_decode_png_stats",
    "mm_decode_wav_stats", "mm_feature_extract", "mm_frame_sample_stats",
    "mm_image_ahash_dedup", "mm_jpeg_ahash_dedup", "mm_metadata_extract",
    "mm_modality_stats", "mm_mp4_metadata", "mm_resample_wav_stats",
    "mm_resize_decoded_stats", "mm_resize_png_stats", "mm_resize_stats",
    "mm_wav_energy_stats", "q11_case_when_agg", "q12_in_filter_join",
    "q13_union_set_op", "q15_multi_join_lineitem", "q17_rollup",
    "q18_semi_join", "q19_anti_join", "q20_asof_join",
    "q21_count_distinct", "q22_correlated_subquery", "q23_running_total",
    "q24_lag_gaps", "q25_set_ops", "q26_percentiles",
    "q27_outer_join_distribution", "q28_hll_registers", "q29_argmax_join",
    "q31_registered_view", "q33_range_join", "q34_cube", "q36_salted_join",
    "q38_exists_subquery", "q39_grouping_sets", "q40_range_frame",
    "q41_pivot", "q42_hll_estimate", "q53_hll_union_merge",
    "q56_bucketed_join", "q57_rank_family", "q58_unpivot",
    "q59_nullsafe_join", "q6_pricing_summary", "q7_join_revenue_by_nation",
    "q8_distinct", "q9_window_topn", "sim_bruteforce_topk",
    "sim_filtered_topk", "sim_ivf_layout_topk", "sim_ivf_nprobe_topk",
    "sim_ivf_topk", "sim_ivfpq_topk", "sim_lsh_topk", "sim_pq_topk",
    "sim_range_search", "sim_recall_report", "sim_sq_topk",
    "text_bigram_logprob", "text_bm25_score", "text_bpe_pair_merge",
    "text_curation_pipeline", "text_deterministic_sample",
    "text_domain_mixture", "text_fingerprint", "text_gopher_filter",
    "text_hashed_ngram_features", "text_lang_confusion", "text_langid",
    "text_length_histogram", "text_pii_scrub", "text_quality_buckets",
    "text_quality_classifier", "text_quality_metrics",
    "text_repetition_stats", "text_sequence_pack",
    "text_stratified_sample", "text_temperature_resample",
    "text_tfidf_topk", "text_token_budget_pack", "text_token_counts",
    "text_topk_terms", "text_unigram_logprob", "text_winnow_fingerprint",
    "text_zipf_fit", "web_boilerplate_text", "web_chunked_charset_text",
    "web_crawl_clean_pipeline", "web_link_graph_degrees",
    "web_pagerank_iterations", "web_pagerank_step",
    "web_url_canonical_dedup", "web_warc_container_stats",
    "web_warc_html_text", "web_warc_metadata",
})


def _wrap_pure(out):
    from datafusion_async_parquet_index_spark.operators.util import (
        pure_plan,
    )

    return {name: (pure_plan(name, fn) if name in _PLAN_PURE else fn)
            for name, fn in out.items()}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from datafusion_async_parquet_index_spark.queries import RELATIONAL_QUERIES

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out.update(RELATIONAL_QUERIES)
    try:
        from datafusion_async_parquet_index_spark.operators import (
            PIPELINE_QUERIES,
        )
        out.update(PIPELINE_QUERIES)
    except ImportError:
        pass
    return _prioritize(_wrap_pure(out))


def oracle_sql() -> dict[str, str]:
    from datafusion_async_parquet_index_spark.queries import RELATIONAL_ORACLE

    out: dict[str, str] = {}
    out.update(RELATIONAL_ORACLE)
    try:
        from datafusion_async_parquet_index_spark.operators import (
            PIPELINE_ORACLE,
        )
        out.update(PIPELINE_ORACLE)
    except ImportError:
        pass
    return _prioritize(out)
