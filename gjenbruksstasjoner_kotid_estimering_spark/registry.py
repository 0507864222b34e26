"""Query registry: the contract surface behind ``__spark_entry__.py``.

Each implemented operator from SURVEY.md §2 registers a :class:`QuerySpec`
binding a name to

- ``builder(spark, sf_dir) -> DataFrame`` — the Spark-first plan, and
- ``oracle`` — the equivalent ANSI SQL DuckDB runs over the same parquet
  views (``None`` for genuinely non-SQL-expressible ops → the driver records
  a weaker rows-only check).

Column names (and, where hashing is type-sensitive, types) are aligned
between the two on purpose: the driver sorts columns by name before value-
hashing, so every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    """Decorator: register ``fn`` as the Spark builder for ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags
        )
        return fn

    return deco


# The driver's correctness sweep walks ``queries()`` in dict-insertion
# order under a ~50-query-per-round budget. Rotation contract (encoded
# in tests/test_registry.py::test_priority_head_is_rotated): after each
# driver round the head is rebuilt STALEST-FIRST from the union of
# CORRECTNESS_r01..rNN — keys with zero driver evidence first, then by
# oldest newest-evidence round (alphabetical within a round).
# Regenerate with: python scripts/rotate_priority.py
_PRIORITY: tuple[str, ...] = (
    # --- newest driver evidence r12 (18 keys) ---
    "stat_kendall_tau_exact",
    "stat_mann_whitney_u_exact",
    "stream_late_data_drop_true",
    "stream_python_datasource_true",
    "stream_scd2_dimension_true",
    "stream_statestore_reader",
    "stream_union_sources_true",
    "string_url_parse",
    "subquery_not_in_null_semantics",
    "text_heavy_hitter_tokens",
    "text_quality",
    "text_token_counts",
    "text_ttr_lexical_diversity",
    "text_url_canonical_dedup",
    "timeseries_ewma_dyadic",
    "udf_map_in_arrow",
    "unpivot_melt",
    "window_running_distinct",
    # --- newest driver evidence r13 (47 keys) ---
    "agg_approx_top_k",
    "agg_bitmap_distinct_rollup",
    "agg_distinct_exact_vs_approx",
    "agg_max_by_min_by",
    "agg_weighted_median",
    "dedup_text_normalized",
    "dq_constraint_checks",
    "embedding_dim_stats",
    "join_dynamic_partition_pruning",
    "join_fuzzy_levenshtein",
    "join_geo_gridblock",
    "join_runtime_bloom",
    "merge_tx_delete_cdf",
    "merge_tx_evolve_conditional",
    "merge_tx_full_clause_matrix",
    "merge_tx_restore_version",
    "merge_tx_sync_delete_scope",
    "merge_tx_vacuum_retention",
    "merge_tx_when_matched_delete",
    "multimodal_image_phash_dedup",
    "multimodal_image_tiles",
    "pandas_api_pipeline",
    "profile_skew_keys",
    "sample_repeat_epochs",
    "scan_csv_permissive_corrupt",
    "scan_csv_roundtrip",
    "scan_hive_partitioned",
    "scan_jsonl_roundtrip",
    "scan_parquet_merge_schema",
    "scan_zorder_skipping",
    "sink_dynamic_partition_overwrite",
    "sql_parameterized",
    "sql_pipe_syntax",
    "sql_session_variables",
    "sql_udf_functions",
    "stream_file_sink_exactly_once",
    "stream_jsonl_ingest_true",
    "stream_ohlc_true",
    "stream_sliding_window_true",
    "stream_static_enrich_true",
    "stream_txn_multi_table_true",
    "text_bigram_coverage",
    "text_feature_hashing",
    "text_vocab_zipf_stats",
    "timeseries_merge_intervals",
    "window_cume_dist_deciles",
    "window_running_median_exact",
    # --- newest driver evidence r14 (49 keys) ---
    "agg_approx_quantile",
    "agg_histogram",
    "agg_hll_sketch",
    "agg_percentiles",
    "agg_salted_skew",
    "array_funcs",
    "array_predicates",
    "asof_interp_join",
    "date_arith",
    "decimal_cast",
    "dedup_clusters",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_exact_substring_spans",
    "dedup_fingerprint",
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "explode_unpivot",
    "join_asof_nearest",
    "join_lateral",
    "join_salted_skew",
    "json_extract",
    "json_struct_parse",
    "map_funcs",
    "null_funcs",
    "queue_estimate",
    "regex_extract_timestamp",
    "set_intersect_except",
    "set_union",
    "set_union_all",
    "similarity_pairs_lsh",
    "similarity_topk",
    "sort_multi",
    "stream_tumbling_window",
    "string_funcs2",
    "struct_map_funcs",
    "subquery_correlated_scalar",
    "subquery_exists",
    "text_exact_substring_rewrite",
    "timeseries_resample_ohlc",
    "topk_per_group",
    "tpch_q1",
    "tpch_q18",
    "tpch_q3",
    "tpch_q5",
    "txn_multi_table_atomic",
    "udf_arrow_scalar",
    "udtf_table_arg_topk",
    # --- newest driver evidence r15 (43 keys) ---
    "agg_bitwise",
    "array_funcs2",
    "corpus_to_shards_pipeline",
    "dedup_time_bounded",
    "doc_pack_sequences",
    "embedding_centroids",
    "explode_outer_slices",
    "graph_pagerank",
    "join_asof_tolerance",
    "join_interval_events",
    "join_null_safe",
    "json_variant_get",
    "map_hof_funcs",
    "queue_estimate_ml",
    "sample_stratified_exact",
    "scd2_intervals",
    "session_window_agg",
    "sessionize_gaps",
    "similarity_knn_join",
    "stream_sliding_window",
    "text_decontaminate",
    "text_pii_redact",
    "text_repetition_filter",
    "text_tfidf",
    "text_tfidf_exact",
    "text_vocab_encode",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q16",
    "tpch_q6",
    "try_funcs",
    "udaf_grouped_stats",
    "udtf_bigrams",
    "upsert_last_write_wins",
    "upsert_sink_shape",
    "window_first_last_nth",
    "window_frame_agg",
    "window_lag_lead",
    "window_ntile",
    "window_time_range_rolling",
    # --- newest driver evidence r16 (46 keys) ---
    "agg_approx_distinct",
    "agg_basic",
    "agg_cube",
    "agg_distinct",
    "agg_filtered",
    "agg_grouping_sets",
    "agg_pivot",
    "agg_rollup",
    "bpe_pair_stats",
    "corpus_split_assign",
    "date_trunc_agg",
    "dedup_containment_rare_shingle",
    "dedup_winnow_pairs",
    "doc_chunk_overlap",
    "events_ab_test",
    "events_pattern_peaks",
    "events_transition_matrix",
    "graph_triangle_count",
    "join_asof_abs_nearest",
    "join_asof_forward",
    "merge_tx_compact_read",
    "merge_tx_delete_update",
    "merge_tx_pruned_read",
    "multimodal_audio_stats",
    "multimodal_binary_stats",
    "multimodal_frame_sample",
    "profile_columns",
    "recursive_cte_hierarchy",
    "scan_python_datasource",
    "similarity_topk_pq",
    "stat_regression_exact",
    "text_bm25_rank",
    "text_gopher_quality_flags",
    "text_pmi_positive_pairs",
    "text_segment_dedup",
    "tpch_q17",
    "tpch_q19",
    "tpch_q2",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "tpch_q4",
    "tpch_q7",
    "window_percent_rank",
    "window_range_frame",
    "window_rank",
    # --- newest driver evidence r17 (50 keys) ---
    "agg_collect",
    "agg_stats_exact",
    "case_when_threshold",
    "conditional_projection",
    "corpus_prep_pipeline",
    "derived_arithmetic",
    "embedding_pq_codes",
    "events_top_paths",
    "filter_predicates",
    "image_pipeline_stats",
    "join_anti",
    "join_bucketed_colocated",
    "join_cross",
    "join_full_outer",
    "join_inner",
    "join_outer",
    "join_range",
    "join_right_outer",
    "join_semi",
    "merge_tx_changes",
    "merge_tx_schema_evolution",
    "posexplode_tokens",
    "range_filter",
    "regex_extract_all_tokens",
    "sample_stratified",
    "scalar_math_projection",
    "scan_limit1",
    "scan_orc_roundtrip",
    "scan_project",
    "scan_xml_roundtrip",
    "sink_python_datasource",
    "sql_ddl_roundtrip",
    "stream_dedup_true",
    "stream_error_followup_join",
    "stream_merge_sink_true",
    "stream_session_window_true",
    "stream_stateful_tracker",
    "stream_tumbling_window_true",
    "string_collation_ci",
    "string_funcs",
    "string_regexp_replace",
    "subquery_scalar",
    "text_bpe_tokens",
    "text_lang_agg",
    "text_langid",
    "text_winnow_fingerprints",
    "timeseries_rollup_cascade",
    "tpch_q8",
    "tpch_q9",
    "window_ignore_nulls",
    # --- newest driver evidence r18 (50 keys) ---
    "agg_count_min_sketch",
    "agg_kmv_sketch_rollup",
    "agg_listagg_ordered",
    "agg_median_mode",
    "agg_transpose_matrix",
    "basket_part_pairs",
    "bpe_train_merges",
    "corpus_mixture_weights",
    "date_tz_convert",
    "dedup_incremental",
    "dedup_semantic_kmeans",
    "er_resolve_parts",
    "events_anomaly_mad",
    "events_attribution_touch",
    "events_feature_store_pit",
    "events_funnel",
    "events_regex_sequence_match",
    "events_retention_cohorts",
    "graph_bfs_distance",
    "graph_sssp_weighted",
    "join_aqe_skew",
    "join_strategy_hints",
    "merge_tx_cdf_to_scd2",
    "merge_tx_ivm_aggregate",
    "merge_tx_time_travel",
    "ml_als_recommend",
    "ml_classifier_eval",
    "ml_kmeans_one_step_exact",
    "sample_importance_weighted",
    "scan_file_metadata",
    "scan_nested_schema_pruning",
    "scan_observe_metrics",
    "set_intersect_except_all",
    "similarity_topk_ivf",
    "sql_ddl_default_columns",
    "sql_execute_immediate",
    "sql_group_by_all",
    "sql_interval_arithmetic",
    "sql_lateral_column_alias",
    "sql_scripting_block",
    "stat_chi_square_independence",
    "stat_corr_covar_exact",
    "stat_ks_two_sample_exact",
    "stat_spearman_rank_exact",
    "timeseries_gapfill",
    "tpch_q15",
    "udf_pandas_grouped_agg",
    "udtf_polymorphic_split",
    "upsert_merge_tx",
    "window_islands_runs",
)


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    # --- round-1 driver-unverified surface first ---
    from .operators import (  # noqa: F401
        asof_interp,
        upsert,
        dedup,
        similarity,
        clusters,
        udaf,
        udtf,
        skew,
    )
    from .plans import (  # noqa: F401
        windows,
        tpch,
        advanced,
        setops,
    )
    from .streaming import windows as stream_windows  # noqa: F401
    from .streaming import filesink  # noqa: F401  # round-6 additions
    from .streaming import jsonl  # noqa: F401  # round-7 additions
    from .streaming import enrich  # noqa: F401  # round-7 additions
    from .streaming import txn_stream  # noqa: F401  # round-7 additions
    from .ml import models  # noqa: F401
    from .plans import tpch2  # noqa: F401  # round-2 additions
    from .operators import traindata  # noqa: F401  # round-2 additions
    from .operators import traindata2  # noqa: F401  # round-3 additions
    from .operators import merge_tx  # noqa: F401  # round-4 additions
    from .operators import traindata3  # noqa: F401  # round-4 additions
    from .operators import traindata4  # noqa: F401  # round-4 additions
    from .plans import analytics  # noqa: F401  # round-4 additions
    from .plans import stats  # noqa: F401  # round-4 additions
    from .sources import pyds  # noqa: F401  # round-4 additions
    from .operators import pq  # noqa: F401  # round-4 additions
    from .sources import images  # noqa: F401  # round-5 additions
    from .plans import bucketed  # noqa: F401  # round-5 additions
    from .sources import files  # noqa: F401  # round-5 additions
    from .plans import ddl  # noqa: F401  # round-5 additions
    from .plans import advanced2  # noqa: F401  # round-2 additions
    from .plans import advanced3  # noqa: F401  # round-4 additions
    from .plans import advanced4  # noqa: F401  # round-6 additions
    from .operators import traindata5  # noqa: F401  # round-6 additions
    from .plans import advanced5  # noqa: F401  # round-6 additions
    from .plans import advanced6  # noqa: F401  # round-7 additions
    from .plans import advanced7  # noqa: F401  # round-7 additions
    from .plans import advanced8  # noqa: F401  # round-7 additions
    from .plans import advanced9  # noqa: F401  # round-7 additions
    from .plans import pandas_api  # noqa: F401  # round-7 additions
    from .plans import advanced10  # noqa: F401  # round-8 additions
    from .operators import traindata6  # noqa: F401  # round-8 additions
    from .streaming import multisrc  # noqa: F401  # round-8 additions
    from .plans import advanced11  # noqa: F401  # round-8 additions
    from .plans import advanced12  # noqa: F401  # round-8 additions
    from .ml import recommend  # noqa: F401  # round-8 additions
    from .operators import merge_ivm  # noqa: F401  # round-9 additions
    from .plans import advanced13  # noqa: F401  # round-9 additions
    from .operators import graph2  # noqa: F401  # round-9 additions
    from .streaming import pystream  # noqa: F401  # round-9 additions
    from .plans import advanced14  # noqa: F401  # round-9 additions
    from .plans import advanced15  # noqa: F401  # round-9 additions
    from .streaming import latedrop  # noqa: F401  # round-9 additions
    from .streaming import scd2_stream  # noqa: F401  # round-9 additions
    from .plans import advanced16  # noqa: F401  # round-9 additions
    from .operators import udaf2  # noqa: F401  # round-9 additions
    from .plans import advanced17  # noqa: F401  # round-9 additions
    from .operators import txn  # noqa: F401  # round-7 additions
    from .operators import graph  # noqa: F401  # round-2 additions

    # --- driver-green in round 1 ---
    from .plans import (  # noqa: F401
        aggregates,
        corpus,
        joins,
        relational,
        text,
    )


def all_specs() -> dict[str, QuerySpec]:
    _load_all()
    # A typo'd or renamed _PRIORITY entry would silently lose its slot and
    # the driver's per-round budget would land on the wrong queries — fail
    # loudly instead so tests catch the drift.
    stale = [name for name in _PRIORITY if name not in _REGISTRY]
    if stale:
        raise LookupError(
            f"_PRIORITY names missing from the registry: {stale!r} — "
            "update _PRIORITY after renaming/removing operators"
        )
    ordered = {name: _REGISTRY[name] for name in _PRIORITY}
    ordered.update(_REGISTRY)
    return ordered


def queries() -> dict[str, Builder]:
    return {name: spec.builder for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
