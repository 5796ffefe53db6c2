"""Query registry: one named entry per implemented operator/query.

Every operator from SURVEY.md §2 (plus the north-star extensions)
lands here as a ``QuerySpec``: a PySpark callable ``(spark, sf_dir) ->
DataFrame`` paired (where SQL-expressible) with an ANSI-SQL oracle
string that DuckDB runs on the same Parquet tables. The driver's
correctness gate compares the two per query.

Convention: every computed/aggregate column is aliased identically in
the Spark code and the oracle SQL; floating aggregates are rounded
(money sums to 2 decimals, ratios/averages to 4) on BOTH sides so the
order-insensitive value hash is stable under reordered float addition.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def _family(name: str) -> str:
    """Family key for interleaving: the name prefix before the first
    underscore (``dedup_minhash_lsh`` -> ``dedup``)."""
    return name.split("_", 1)[0]


# Queries that earned a full rows+schema+hash green row in ANY prior
# external driver correctness gate (union of CORRECTNESS_r01..r15 —
# all 349 registered queries; the r13 late additions were certified
# in r14 and the 3 r15 additions in CORRECTNESS_r15). From
# round 14 this set is the HISTORICAL UNION and is no longer edited
# to force rotation — the per-round rotation is expressed by the two
# explicit rotation sets below, so the tier logic reads as policy:
#
#   tier 0 — never externally checked (not in _DRIVER_GREEN: new
#            additions land here automatically) or in _ROTATE_LEAD
#            (rows the round's verdict names, plus every row whose
#            code path changed this round);
#   tier 1 — _ROTATE_STALE: the staleness-budget block (see below);
#   tier 2 — everything else (regression coverage, flagships first).
#
# STALENESS BUDGET (round-14 policy, r13 verdict #2): no query's
# external check may age past 8 rounds. The driver certifies a ~50-row
# prefix per round and the registry holds ~348 queries, so a full
# rotation takes ~7 rounds. ENFORCED boundary (ADVICE r14 alignment,
# matching scripts/staleness.py): rows AT staleness 8 as of the last
# completed round MUST sit in _ROTATE_LEAD (tier 0); rows at 7 belong
# in _ROTATE_STALE (tier 1) and fill the prefix after tier 0 — the
# few a 50-row prefix can't hold reach exactly 8 and are then forced
# into the next round's lead. Never-checked rows are tier 0
# automatically. scripts/staleness.py computes the table from
# CORRECTNESS_r*.json and exits 1 on violation; its output is
# embedded in SELFCHECK_r{N}.
_DRIVER_GREEN: frozenset[str] = frozenset({
    "agg_approx_distinct", "agg_approx_percentiles", "agg_arg_extremes",
    "agg_bool_aggs", "agg_collect_sorted", "agg_corr_covar",
    "agg_count_min_sketch", "agg_cube", "agg_decimal_money_exact",
    "agg_distinct", "agg_filter_clause", "agg_group_by_all",
    "agg_grouped", "agg_grouping_sets", "agg_having",
    "agg_hll_intersection", "agg_hll_mergeable", "agg_median_mad",
    "agg_minmax_dates", "agg_mode_per_group", "agg_multi_distinct",
    "agg_percentiles", "agg_rollup", "agg_stats", "agg_string_agg",
    "agg_ungrouped", "agg_weighted_median", "basket_brand_pairs",
    "case_when", "csv_corrupt_records", "csv_source_roundtrip",
    "customer_ltv_deciles", "date_dim_generate", "date_expressions",
    "dedup_connected_components", "dedup_contamination_check",
    "dedup_contamination_sweep",
    "dedup_embedding_cosine", "dedup_exact_docs", "dedup_image_phash",
    "dedup_incremental", "dedup_levenshtein", "dedup_lsh_bucket_stats",
    "dedup_minhash_bbit", "dedup_minhash_calibration",
    "dedup_minhash_clusters", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_semdedup", "dedup_shingle_containment", "dedup_simhash",
    "dedup_simhash_candidate_histogram",
    "dedup_simhash_hamming_histogram", "dedup_span_exact",
    "dedup_substring_exact", "dedup_substring_removal_stats",
    "dedup_survivors_weighted", "dedup_threshold_sweep",
    "dedup_tier_report", "dedup_winnowing_incremental",
    "dedup_winnowing_pairs", "distinct_values",
    "embeddings_centroid_drift", "embeddings_cosine_histogram",
    "embeddings_gram_matrix", "embeddings_hard_negative_mining",
    "embeddings_int8_quantize", "embeddings_jl_projection",
    "embeddings_kcenter_coreset", "embeddings_knn_vote",
    "embeddings_label_centroids", "embeddings_matryoshka_energy",
    "embeddings_norm_outliers", "embeddings_pc1_projection",
    "embeddings_power_iteration", "events_ab_funnel", "events_ab_lift",
    "events_ab_mde", "events_ab_sequential", "events_anomaly_zscore",
    "events_attribution_first_touch", "events_attribution_last_touch",
    "events_attribution_linear", "events_attribution_positional",
    "events_autocorr_weekly", "events_bitmap_retention",
    "events_bootstrap_ci", "events_change_point_cusum",
    "events_cohort_ltv", "events_concurrent_sessions",
    "events_concurrent_sessions_segmented", "events_cuped",
    "events_ab_segments",
    "events_daily_trend", "events_dau_stickiness", "events_decay_score",
    "events_diff_in_diff", "events_dow_seasonality", "events_dp_daily_counts",
    "events_ewma_smoothing", "events_funnel", "events_funnel_windowed",
    "events_gap_fill", "events_hopping", "events_hourly_profile",
    "events_interevent_gaps", "events_markov_transitions",
    "events_new_vs_returning", "events_pareto_activity",
    "events_pattern_match", "events_power_law_alpha",
    "events_retention_cohorts", "events_rfm_segments",
    "events_rollup_multires", "events_seasonal_naive_backtest",
    "events_session_paths", "events_session_window", "events_sessionize",
    "events_srm_check", "events_survival_curve",
    "events_time_to_conversion", "events_tumbling",
    "events_user_burstiness", "events_user_type_entropy",
    "events_value_log_histogram", "except_all_keys", "except_keys",
    "explode_token_counts", "filter_predicates", "functions_array",
    "functions_bitwise", "functions_conditional", "functions_datetime",
    "functions_json", "functions_math", "functions_string",
    "functions_try_arith", "functions_variant", "graph_adamic_adar",
    "graph_assortativity", "graph_clustering_coefficient",
    "graph_degree_distribution", "graph_kcore", "graph_khop_reach",
    "graph_label_propagation", "graph_link_prediction",
    "graph_modularity", "graph_pagerank", "graph_triangle_count",
    "graph_triangle_count_lsh", "intersect_all_keys", "intersect_keys",
    "join_anti", "join_asof", "join_asof_nearest", "join_asof_tolerance",
    "join_bloom_pruned", "join_broadcast_dim", "join_bucketed_colocated",
    "join_cross", "join_full_outer", "join_inner_equi", "join_lateral",
    "join_left_outer", "join_non_equi", "join_null_safe",
    "join_range_binned", "join_self", "join_semi", "join_skew_salted",
    "join_skew_salted_demo", "join_star_schema", "json_source_roundtrip",
    "maintenance_column_histogram", "maintenance_compact_small_files",
    "maintenance_drift_psi", "maintenance_incremental_stats",
    "maintenance_referential_audit", "maintenance_skew_report",
    "maintenance_table_stats", "maintenance_table_stats_sketch",
    "multimodal_audio_energy", "multimodal_decode", "multimodal_features",
    "multimodal_frame_sample", "multimodal_image_resize",
    "multimodal_ingest", "multimodal_phash_clusters",
    "orc_source_roundtrip", "orders_open_backlog",
    "pandas_udf_grouped_agg", "pandas_udf_grouped_map",
    "pandas_udf_scalar", "pandas_udf_scalar_iter",
    "pipeline_dataset_card", "pipeline_decontamination_report",
    "pipeline_dynamic_partition_overwrite",
    "pipeline_mv_incremental_refresh", "pipeline_pack_efficiency_curve",
    "pipeline_quality_funnel", "pipeline_scd2_dimension",
    "pipeline_snapshot_diff", "pipeline_snapshot_time_travel",
    "pipeline_snapshot_vacuum", "pipeline_token_budget_mixture",
    "pipeline_decontamination_incremental", "retrieval_eval_mrr",
    "maintenance_plan_metrics_audit",
    "pipeline_training_manifest", "pipeline_upsert_snapshot",
    "pivot_event_type", "project_expressions", "retrieval_hybrid_rrf",
    "sample_coverage_greedy", "sample_deterministic_hash",
    "sample_domain_mixture", "sample_dsir_importance",
    "sample_epoch_shuffle", "sample_kfold_assignment",
    "sample_lang_temperature", "sample_leakage_safe_split",
    "sample_per_group_cap", "sample_quality_top_fraction",
    "sample_quality_weighted", "sample_reservoir_exact_k",
    "sample_split_by_time", "sample_stratified_fixed_n",
    "sample_train_val_test", "scan_dynamic_partition_pruning",
    "scan_metadata_count", "scan_partition_pruned", "scan_point_lookup",
    "scan_project", "scan_schema_merge", "scan_zorder_skipping",
    "similarity_ivf", "similarity_ivf_kmeans", "similarity_ivf_pq",
    "similarity_ivf_recall", "similarity_ivfpq_recall",
    "similarity_kmeans_parallel_init",
    "similarity_lsh_ann", "similarity_lsh_recall",
    "similarity_pairs_above_threshold", "similarity_pq",
    "similarity_pq_recall", "similarity_range_search",
    "similarity_rerank_mmr", "similarity_topk_bruteforce",
    "sort_limit_topk", "source_python_datasource",
    "sql_create_function_udf", "sql_create_table_function",
    "sql_pipe_syntax", "streaming_dedup", "streaming_foreachbatch_upsert",
    "streaming_hopping_counts", "streaming_late_data_metrics",
    "streaming_python_source", "streaming_session_window",
    "streaming_stateful_user_totals", "streaming_static_enrich",
    "streaming_stream_stream_join", "streaming_stream_stream_outer_join",
    "streaming_throughput_progress", "streaming_transform_with_state",
    "streaming_tumbling_counts",
    "subquery_exists_correlated", "subquery_from", "subquery_in",
    "subquery_not_in", "subquery_recursive_cte", "subquery_scalar",
    "text_bigram_logprob", "text_bm25_search", "text_bpe_apply_encode",
    "text_bpe_merge_pairs", "text_bpe_train_merges", "text_c4_rules",
    "text_char_entropy", "text_chunk_documents", "text_fingerprint",
    "text_gopher_rules", "text_heaps_law", "text_js_divergence",
    "text_keyword_tfidf", "text_langid_agreement", "text_language_id",
    "text_length_buckets", "text_naive_bayes_source",
    "text_nb_class_metrics", "text_nb_margin_calibration",
    "text_ngram_topk", "text_pack_sequences", "text_pii_scrub",
    "text_quality_auc",
    "text_quality_score", "text_readability", "text_regex_tokens",
    "text_repetition_ratio", "text_shingle_novelty",
    "text_source_signature_terms", "text_term_pmi", "text_token_count",
    "text_token_entropy", "text_unigram_logprob", "text_vocab_induction",
    "text_zipf_fit", "tpch_q1", "tpch_q10", "tpch_q11", "tpch_q12",
    "tpch_q13", "tpch_q14", "tpch_q15", "tpch_q16", "tpch_q17",
    "tpch_q18", "tpch_q19", "tpch_q2", "tpch_q20", "tpch_q21", "tpch_q22",
    "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6", "tpch_q7", "tpch_q8",
    "tpch_q9", "udtf_word_windows", "union_all", "union_by_name",
    "union_distinct", "unpivot_order_measures",
    "window_distribution_ranks", "window_gaps_islands", "window_lag_lead",
    "window_moving_avg", "window_nulls_ordering", "window_range_frame",
    "window_rank_dense", "window_rolling_median",
    "window_running_distinct", "window_running_revenue",
    "window_share_of_group", "window_time_range_rolling",
    "window_topn_per_group", "window_value_functions"
})

# Round-16 rotation (r15 verdict #1). Tier 0 (leads the prefix):
# (a) the 12 operators performance-rewritten (or lazy-checkpoint
# beneficiaries) in round 15 whose external checks predate the
# rewrites — converting them from builder self-certified to
# driver-certified is the round's first deliverable; (b) the 8 rows
# at staleness 8 as of the r15 artifact (the budget ceiling —
# scripts/staleness.py); (c) rows whose code path changes in round
# 16 (rotation discipline): the semdedup pair-stage rewrite and the
# throughput split's multi-part-file hardening (ADVICE r15).
_ROTATE_LEAD: frozenset[str] = frozenset({
    # r15-rewritten operators + lazy-checkpoint beneficiaries
    "similarity_kmeans_parallel_init", "embeddings_kcenter_coreset",
    "embeddings_power_iteration", "embeddings_pc1_projection",
    "sample_coverage_greedy", "maintenance_table_stats_sketch",
    "graph_triangle_count_lsh", "graph_kcore",
    "dedup_connected_components", "dedup_incremental",
    "multimodal_phash_clusters", "graph_modularity",
    # staleness 8 (last checked r07) — budget ceiling
    "agg_median_mad", "agg_multi_distinct", "agg_weighted_median",
    "events_attribution_first_touch", "events_concurrent_sessions",
    "events_pareto_activity", "events_rfm_segments",
    "events_value_log_histogram",
    # code path changes in round 16
    "dedup_semdedup", "streaming_throughput_progress",
})

# Tier 1: the staleness-7 block (last externally checked r08). 11
# rows; tier 0 (22) + tier 1 (11) = 33, well inside the ~50-row
# prefix, leaving ~17 slots of tier-2 regression coverage.
_ROTATE_STALE: frozenset[str] = frozenset({
    "events_session_paths", "graph_triangle_count",
    "join_asof_tolerance", "maintenance_skew_report",
    "scan_dynamic_partition_pruning", "text_bigram_logprob",
    "text_langid_agreement", "text_source_signature_terms",
    "text_term_pmi", "window_running_distinct",
    "window_time_range_rolling",
    # maintenance_table_stats_sketch is also staleness-7 but sits in
    # tier 0 above as a rewritten row.
})

# Within-family ordering for the interleave: each family's
# highest-signal queries lead (the scale-path / most-complex member,
# not whatever happened to register first), so the driver's ~50-row
# prefix — which takes roughly the first two of every family —
# maximizes information. Unlisted members keep registration order.
_FLAGSHIPS: dict[str, list[str]] = {
    # Round-15 leads (r14 verdict #1): within each family the
    # staleness-8 rows come first, then the changed-code-path rows;
    # the earlier flagships follow for tier-2 regression ordering.
    "dedup": ["dedup_contamination_check", "dedup_contamination_sweep",
              "dedup_lsh_bucket_stats", "dedup_minhash_lsh", "dedup_simhash",
              "dedup_levenshtein"],
    "similarity": ["similarity_ivfpq_recall", "similarity_pq_recall",
                   "similarity_lsh_recall", "similarity_ivf_recall",
                   "similarity_lsh_ann", "similarity_topk_bruteforce"],
    "streaming": ["streaming_throughput_progress",
                  "streaming_stateful_user_totals",
                  "streaming_tumbling_counts"],
    "multimodal": ["multimodal_decode", "multimodal_ingest"],
    "join": ["join_bucketed_colocated", "join_null_safe",
             "join_skew_salted", "join_skew_salted_demo", "join_asof"],
    "agg": ["agg_count_min_sketch", "agg_group_by_all", "agg_hll_mergeable",
            "agg_mode_per_group", "agg_grouped", "agg_rollup"],
    "window": ["window_running_revenue", "window_distribution_ranks"],
    "text": ["text_unigram_logprob", "text_quality_auc",
             "text_length_buckets", "text_ngram_topk",
             "text_pii_scrub", "text_regex_tokens", "text_repetition_ratio",
             "text_shingle_novelty", "text_language_id",
             "text_quality_score", "text_pack_sequences"],
    "events": ["events_gap_fill", "events_ab_sequential",
               "events_sessionize", "events_funnel"],
    "sample": ["sample_per_group_cap", "sample_train_val_test", "sample_domain_mixture"],
    "subquery": ["subquery_exists_correlated", "subquery_not_in"],
    "pandas": ["pandas_udf_grouped_map", "pandas_udf_scalar"],
    "tpch": ["tpch_q11", "tpch_q16", "tpch_q20", "tpch_q21", "tpch_q22",
             "tpch_q1", "tpch_q3"],
    # round-6 families: scale-path members lead future regression
    # prefixes once certified
    "graph": ["graph_triangle_count_lsh", "graph_triangle_count", "graph_pagerank"],
    "maintenance": ["maintenance_column_histogram",
                    "maintenance_compact_small_files",
                    "maintenance_table_stats", "maintenance_drift_psi"],
    "pipeline": ["pipeline_snapshot_diff", "pipeline_snapshot_vacuum",
                 "pipeline_training_manifest", "pipeline_upsert_snapshot"],
    "embeddings": ["embeddings_gram_matrix", "embeddings_label_centroids"],
    "scan": ["scan_point_lookup", "scan_schema_merge",
             "scan_zorder_skipping", "scan_partition_pruned",
             "scan_metadata_count"],
    "functions": ["functions_variant", "functions_array"],
}


def _interleaved(registry: dict[str, "QuerySpec"]) -> dict[str, "QuerySpec"]:
    """Round-robin the registry across families in three tiers.

    The driver's correctness gate checks a prefix of the registry (50
    entries per round, and the prefix has been nearly identical every
    round), so whatever leads is what gets driver-certified. Tier 0 is
    every query that has never earned an external driver-green row
    (new additions) plus the rows the rotation names this round
    (``_ROTATE_LEAD``: the staleness-budget ceiling block and every
    row whose code path changed). Tier 1 is the staleness-budget
    block (``_ROTATE_STALE``). Tier 2 is the certified-and-fresh
    rest, flagships first, for regression coverage in any longer
    prefix. All tiers are round-robined across families so every
    prefix stays family-balanced.
    """
    buckets: dict[str, list[QuerySpec]] = {}
    for spec in registry.values():
        buckets.setdefault(_family(spec.name), []).append(spec)
    for fam, names in _FLAGSHIPS.items():
        if fam in buckets:
            pri = {n: i for i, n in enumerate(names)}
            buckets[fam].sort(key=lambda s: pri.get(s.name, len(names)))

    def round_robin(buckets: dict[str, list[QuerySpec]]) -> list[QuerySpec]:
        ordered: list[QuerySpec] = []
        queues = [q for q in buckets.values() if q]
        while queues:
            next_queues = []
            for q in queues:
                ordered.append(q.pop(0))
                if q:
                    next_queues.append(q)
            queues = next_queues
        return ordered

    tiers: list[dict[str, list[QuerySpec]]] = [{}, {}, {}]
    for fam, specs in buckets.items():
        for spec in specs:
            if spec.name not in _DRIVER_GREEN or spec.name in _ROTATE_LEAD:
                t = 0  # never externally checked, or named by the rotation
            elif spec.name in _ROTATE_STALE:
                t = 1  # staleness-budget block
            else:
                t = 2  # certified and fresh: regression coverage
            tiers[t].setdefault(fam, []).append(spec)
    ordered = [s for tier in tiers for s in round_robin(tier)]
    return {spec.name: spec for spec in ordered}


def all_queries() -> dict[str, QuerySpec]:
    """Import every query module (side effect: registration) and
    return the full registry, interleaved across query families."""
    # Imports are deferred so `import rdbms_scala_spark` stays cheap.
    from rdbms_scala_spark.queries import tpch, tpch_ext, tpch_ps  # noqa: F401
    from rdbms_scala_spark.queries import behavior, sql_surface  # noqa: F401
    from rdbms_scala_spark.functions import scalar, semi_structured, udfs  # noqa: F401
    from rdbms_scala_spark.operators import (  # noqa: F401
        relational,
        joins,
        aggregates,
        setops,
        subqueries,
        windows,
    )
    from rdbms_scala_spark.pipeline import (  # noqa: F401
        chunking,
        dedup,
        retrieval,
        similarity,
        snapshot,
        text,
        multimodal,
        sampling,
    )
    from rdbms_scala_spark.sources import files as _files  # noqa: F401
    from rdbms_scala_spark.sources import stats as _stats  # noqa: F401
    from rdbms_scala_spark.streaming import events as _events  # noqa: F401
    from rdbms_scala_spark.streaming import jobs as _jobs  # noqa: F401

    return _interleaved(_REGISTRY)
