"""Driver contract: named queries + DuckDB oracle SQL twins.

Every implemented operator from SURVEY.md §2 (plus the scale extensions)
is exposed as a named query callable ``(spark, sf_dir) -> DataFrame``
with, where SQL-expressible, an ANSI-SQL twin that DuckDB runs on the
same parquet tables. Each module in QUERY_MODULES keeps its twins in a
``TWINS`` dict, each entry directly after its ``q_<name>`` function,
and names the queries that have none in ``ROWS_ONLY``; SQL fragments
that twins of several modules share live in ``twin_sql``. Aliases and
types are kept IDENTICAL on both sides (the driver hash-compares values
column-name-sorted), and every float produced by arithmetic is rounded
the same way in both engines.

Determinism rules used throughout:
- time arithmetic in integer microseconds (exact);
- double aggregates rounded (2-6 dp) in BOTH engines;
- rankings ordered by (rounded value, id) so ties break identically.
"""

from __future__ import annotations

import collections
import inspect
from collections.abc import Callable, Iterable, Sequence
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

from kickstarter_etl_pipeline_spark import qdefs_embeddings, qdefs_star_events
from kickstarter_etl_pipeline_spark.operators import (
    analytics_queries,
    classifier,
    corpus_queries,
    eval_queries,
    graph_queries,
    lm_queries,
    mining_queries,
    retail_queries,
    stats_queries,
    timeseries_queries,
)
from kickstarter_etl_pipeline_spark.plans import tpch_queries, warehouse_queries
from kickstarter_etl_pipeline_spark.session import ensure_runtime_confs

QueryFn = Callable[[SparkSession, str], DataFrame]

#: The modules that define the registry's ``q_<name>`` functions.
QUERY_MODULES: tuple[ModuleType, ...] = (
    tpch_queries,
    analytics_queries,
    graph_queries,
    stats_queries,
    timeseries_queries,
    retail_queries,
    warehouse_queries,
    corpus_queries,
    qdefs_star_events,
    qdefs_embeddings,
    mining_queries,
    lm_queries,
    classifier,
    eval_queries,
)

# Contract surface
# ---------------------------------------------------------------------------

# Ordering contract: the grading driver sweeps the FIRST 50 names;
# new queries are ALWAYS inserted at the head (never-graded first —
# tests/test_oracle_parity.py::test_grading_window_invariants enforces
# the rotation). Each name ``n`` binds the function ``q_<n>`` defined
# in exactly one of QUERY_MODULES.
QUERY_NAMES: tuple[str, ...] = (
    "bpe_train_merges",
    "bpe_tokenized_stats",
    "bpe_pack_manifest",
    "dpp_join_prune_agg",
    "recursive_cte_ancestor_paths",
    "pipe_syntax_pricing",
    "collated_dedup_counts",
    "lateral_topn_orders",
    "sql_scripting_rollup",
    "quality_perceptron_trajectory",
    "classifier_curation_manifest",
    "documents_stream_classifier_scores",
    "events_stream_state_split",
    "documents_stream_near_dup",
    "events_tws_evolved_totals",
    "events_tws_state_at_rest",
    "events_tws_restart_totals",
    "events_tws_ttl_counts",
    "preference_dataset_manifest",
    "char_entropy_per_doc",
    "lorenz_curve_events",
    "cube_status_priority",
    "price_stats_by_status",
    "part_string_ops",
    "csv_roundtrip_agg",
    "clean_corpus",
    "q1_pricing_summary_sql",
    "doc_fingerprints",
    "lang_id",
    "quality_scores",
    "ngram_jaccard_pairs",
    "multimodal_features",
    "customers_without_orders",
    "customers_with_orders_count",
    "custkeys_both_years",
    "project_rename_filter",
    "dedup_components_star",
    "decontaminate_overlap",
    "scd1_merge_agg",
    "idempotent_append_agg",
    "token_frequency",
    "stratified_sample",
    "tfidf_top_terms",
    "source_quota",
    "repetition_stats",
    "window_rank_topn",
    "ivf_recall_report",
    "simhash_twin_containment",
    "price_percentile_bands",
    "events_asof_next_purchase",
    "simhash_near_dup_clusters",
    "embedding_pca_top",
    "readability_scores",
    "embedding_dim_robust_stats",
    "embedding_outlier_report",
    "events_stream_static_enrich",
    "schema_evolution_agg",
    "countmin_heavy_hitters",
    "hll_manual_report",
    "ann_ivf_topk",
    "rfm_segments",
    "events_stream_hourly_daily",
    "graph_pagerank",
    "bpe_token_counts",
    "corr_price_quantity",
    "dedup_components",
    "curation_pack_manifest",
    "image_decode_stats",
    "events_tws_sessions",
    "events_tws_timeout_sessions",
    "events_tws_user_profile",
    "events_tws_warm_start",
    "preference_bt_strengths",
    "custkeys_1998_not_1999",
    "pivot_status_priority",
    "events_sessionize",
    "events_json_kv",
    "events_sliding",
    "events_distinct_pairs",
    "events_asof_purchase_click",
    "char_jaccard_pairs",
    "distinct_counts",
    "events_stream_sliding",
    "embedding_topk",
    "text_stats",
    "dim_state",
    "dim_date",
    "dim_category",
    "region_rollup",
    "topk_customers",
    "shipping_priority",
    "events_tumbling",
    "window_running_sum",
    "local_supplier_volume",
    "above_avg_orders",
    "group_count_ordered",
    "conditional_flag_agg",
    "ship_delay_by_priority",
    "scalable_rank_events",
    "token_coverage_topk",
    "touch_attribution",
    "temperature_resample",
    "kneser_ney_bigrams",
    "shard_balance_report",
    "ngram_novelty_curve",
    "ccnet_quality_tiers",
    "ann_pq_topk",
    "pq_recall_report",
    "negative_sampling_table",
    "tokenizer_fertility",
    "daily_trend_by_type",
    "events_mad_anomaly",
    "user_activity_streaks",
    "traffic_burstiness",
    "rake_keywords",
    "media_frame_stats",
    "session_interval_overlap",
    "benford_price_audit",
    "dedup_cluster_histogram",
    "bigram_entropy_rate",
    "lexical_diversity_by_source",
    "holt_linear_forecast",
    "holt_winters_forecast",
    "graph_harmonic_centrality",
    "graph_rotor_walks",
    "graph_betweenness",
    "coverage_selection_report",
    "walk_skipgram_pairs",
    "graph_distance_distribution",
    "community_modularity",
    "croston_forecast",
    "weekday_seasonal_decomposition",
    "graph_ktruss",
    "graph_ppr",
    "price_index_report",
    "tail_index_report",
    "mean_excess_report",
    "order_backlog_profile",
    "atkinson_index",
    "activity_decile_lift",
    "pretraining_manifest",
    "cooccurrence_cap_report",
    "events_stream_conversions",
    "frame_dedup_report",
    "price_quartiles_by_brand",
    "degree_histogram",
    "token_length_quartiles_by_source",
    "graph_communities",
    "pit_priority_revenue",
    "time_travel_agg",
    "duplicate_ngram_spans",
    "priority_weighted_sample",
    "source_diversity_report",
    "events_cusum_drift",
    "mmr_diversified_topk",
    "bpe_merge_candidates",
    "hard_negative_mining",
    "table_diff_report",
    "sketch_accuracy_report",
    "minhash_jaccard_estimate",
    "bloom_prefiltered_join",
    "events_stream_dedup",
    "zipf_slope",
    "l_diversity_report",
    "quality_percentile_filter",
    "session_bounce_rate",
    "graph_link_prediction",
    "perplexity_proxy",
    "k_anonymity_report",
    "traffic_seasonality",
    "supplier_hhi",
    "vocab_growth_curve",
    "fact_star",
    "events_stream_tumbling",
    "transition_entropy",
    "adamic_adar_links",
    "association_rules_topk",
    "abc_xyz_matrix",
    "mase_seasonal_naive",
    "hurst_exponent",
    "winsorized_mean_by_status",
    "elasticity_by_brand",
    "ann_lsh_topk",
    "ann_recall_report",
    "bigram_collocations",
    "boilerplate_stats",
    "chi2_type_by_dow",
    "chunk_documents",
    "containment_pairs",
    "curation_decision",
    "events_ewma",
    "events_ohlc_bars",
    "events_stateful_sessions",
    "events_stateful_timeout_sessions",
    "events_stream_full_join",
    "events_stream_left_join",
    "minhash_dedup_pairs",
    "events_stream_upsert",
    "events_stream_sessions",
    "pack_sequences",
    "source_mixing_weights",
    "events_variant_stats",
    "jsonl_pyds_roundtrip_agg",
    "pystream_replay_agg",
    "range_clustered_prune_agg",
    "yoy_customer_activity",
    "semantic_dedup",
    "seq_length_histogram",
    "user_triangle_counts",
    "inverted_index",
    "source_overlap_report",
    "user_clustering_coeffs",
    "quantized_topk",
    "zorder_layout_report",
    "skipgram_cooccurrence",
    "exact_median_by_group",
    "rolling_active_users",
    "events_twap",
    "gini_by_status",
    "session_paths",
    "exact_quartiles_by_status",
    "session_basket_lift",
    "knn_label_vote",
    "lang_confusion_matrix",
    "fellegi_sunter_linkage",
    "theil_index_by_status",
    "markov_stationary",
    "winnowing_fingerprints",
    "embedding_similarity_histogram",
    "psi_drift_report",
    "acf_daily_revenue",
    "binseg_changepoint",
    "mann_whitney_report",
    "funnel_latency_percentiles",
    "kendall_tau_nations",
    "graph_assortativity",
    "cohens_kappa_quality",
    "session_window_native",
    "interpurchase_gap_percentiles",
    "cdc_apply_agg",
    "cohort_retention",
    "compaction_roundtrip_agg",
    "dedup_canonical_docs",
    "domain_mix_report",
    "dq_quarantine_report",
    "embedding_near_dup_exact",
    "embedding_norms",
    "error_blast_radius",
    "event_transition_matrix",
    "events_anomaly_zscore",
    "events_funnel",
    "events_gap_fill",
    "events_lag_lead",
    "grouping_sets_status_year",
    "incremental_rollup_agg",
    "label_centroid_distances",
    "length_filter_funnel",
    "nation_share_of_region",
    "null_safe_join_agg",
    "oov_rate",
    "partitioned_prune_agg",
    "pii_scrub",
    "priority_mode_by_status",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q17_small_qty_revenue",
    "q18_large_orders",
    "q20_promo_part_suppliers",
    "q21_waiting_suppliers",
    "q4_order_priority",
    "range_join_price_bands",
    "train_val_test_split",
    "ab_experiment_report",
    "ann_ivf_anchor_topk",
    "simhash_md5_candidates",
    "dq_star_report",
    "embedding_dim_stats",
    "embedding_quantization",
    "except_all_priorities",
    "hash_sample",
    "histogram_price",
    "json_roundtrip_agg",
    "levenshtein_pairs",
    "orc_roundtrip_agg",
    "q10_returned_items",
    "q13_order_count_distribution",
    "q14_promo_revenue",
    "q19_or_predicates",
    "q22_idle_balances",
    "q7_nation_volume",
    "q8_market_share",
    "scd2_priority_history",
    "skew_salted_join",
    "unpivot_metrics",
    "window_first_last",
    "window_moving_avg",
    "window_ntile_percent",
    "star_flagship",
    "q1_pricing_summary",
    "dedup_exact",
    "q2_min_cost_supplier",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q11_important_values",
    "q12_priority_class",
    "jaccard_prefix_join",
    "bootstrap_ci_report",
    "mutual_information_report",
    "welch_ttest_report",
    "pareto_frontier_parts",
    "kaplan_meier_survival",
    "multitouch_attribution",
    "bleu_overlap_report",
    "graph_spectral_partition",
    "fuzzy_name_pairs",
    "ols_daily_trend",
    "time_weighted_value",
    "conversion_wilson_ci",
    "fd_violation_report",
    "phrase_search_hits",
    "item_cooccurrence_topk",
    "scd2_customer_priority",
    "capped_running_balance",
    "did_estimate_report",
    "rolling_wau_report",
    "cohort_ltv_curve",
    "abc_classification",
    "graph_weighted_distances",
    "correlation_matrix",
    "cramers_v_status_priority",
    "dsir_selection_report",
    "part_hierarchy_rollup",
    "snm_blocking_report",
    "window_cume_dist",
    "intersect_all_priorities",
    "rrf_fusion_topk",
    "ndcg_report",
    "graph_bfs_depths",
    "graph_kcore",
    "js_divergence_sources",
    "t_closeness_report",
    "bm25_topk",
    "rank_correlation_report",
    "trimmed_mean_by_group",
    "graph_hits",
    "events_stream_unattributed",
    "quality_auc_report",
    "quality_calibration_report",
    "source_ks_drift",
    "blocking_quality_report",
    "theil_sen_daily_trend",
    "good_turing_unigrams",
    "weighted_median_by_group",
    "matryoshka_recall_report",
    "bloom_fpr_report",
    "simhash_candidates",
    "distinct_users_rollup",
    "approx_aggregates",
)


def _query_functions(mod: ModuleType) -> Iterable[tuple[str, QueryFn]]:
    """``(name, fn)`` for each ``q_<name>`` function defined in ``mod``,
    by ``fn.__module__``, so re-exports are ignored."""
    for attr, fn in vars(mod).items():
        if attr.startswith("q_") and inspect.isfunction(fn) and fn.__module__ == mod.__name__:
            yield attr[2:], fn


def _resolve(
    names: Sequence[str], modules: Iterable[ModuleType]
) -> dict[str, QueryFn]:
    """Bind each name to the ``q_<name>`` function defined in one of
    ``modules``. A function counts where ``fn.__module__`` says it was
    defined, so re-exports are ignored. Raises, naming the offenders,
    if a name binds to no function or to two, is listed twice, or if a
    defined ``q_*`` function is missing from ``names``."""
    defined: dict[str, list[QueryFn]] = {}
    for mod in modules:
        for name, fn in _query_functions(mod):
            defined.setdefault(name, []).append(fn)
    problems = {
        "no function": [n for n in names if n not in defined],
        "two functions": sorted(n for n, fns in defined.items() if len(fns) > 1),
        "listed twice": sorted(
            n for n, c in collections.Counter(names).items() if c > 1
        ),
        "not listed": sorted(set(defined) - set(names)),
    }
    problems = {k: v for k, v in problems.items() if v}
    if problems:
        raise RuntimeError(f"query registry out of sync: {problems}")
    return {n: defined[n][0] for n in names}


def _resolve_twins(
    names: Sequence[str], modules: Iterable[ModuleType]
) -> dict[str, str]:
    """Collect the DuckDB twins each of ``modules`` keeps in ``TWINS``,
    in ``names`` order. A module names its queries that have no twin in
    ``ROWS_ONLY``. Raises, naming the offenders, if a twin or rows-only
    entry has no ``q_<name>`` function in its own module, a query has
    neither a twin nor a rows-only entry or has both, or a name has a
    twin in two modules."""
    twins: dict[str, list[str]] = {}
    problems: dict[str, list[str]] = collections.defaultdict(list)
    for mod in modules:
        own = vars(mod).get("TWINS", {})
        rows_only = vars(mod).get("ROWS_ONLY", frozenset())
        defined = {name for name, _ in _query_functions(mod)}
        problems["no query in its module"] += sorted((set(own) | rows_only) - defined)
        problems["neither twin nor rows-only"] += sorted(defined - set(own) - rows_only)
        problems["twin and rows-only"] += sorted(set(own) & rows_only)
        for name, sql in own.items():
            twins.setdefault(name, []).append(sql)
    problems["twins in two modules"] = sorted(n for n, sqls in twins.items() if len(sqls) > 1)
    problems = {k: v for k, v in problems.items() if v}
    if problems:
        raise RuntimeError(f"twin registry out of sync: {problems}")
    return {n: twins[n][0] for n in names if n in twins}


_QUERIES = _resolve(QUERY_NAMES, QUERY_MODULES)
_TWINS = _resolve_twins(QUERY_NAMES, QUERY_MODULES)

#: Registry entries that run a Structured Streaming query (state-store
#: init, checkpoint dir, one or two AvailableNow runs — a fixed
#: ~3-30 s setup each, regardless of sf): every name containing
#: ``stream``, ``tws`` or ``stateful``. ``certify --tier`` routes these
#: to a DEDICATED process while the batch tier shards round-robin, so
#: the streaming tier's fixed costs stop inflating every batch shard.
STREAMING_QUERIES: frozenset[str] = frozenset(
    n for n in QUERY_NAMES if "stream" in n or "tws" in n or "stateful" in n
)


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for every SQL-expressible query, in registry order.
    The queries without one are listed in their module's ``ROWS_ONLY``,
    each with its reason."""
    return dict(_TWINS)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full star-schema build + rollup at sf0.001."""
    ensure_runtime_confs(spark)
    q_star_flagship = _QUERIES["star_flagship"]
    return q_star_flagship(spark, "/root/testdata/sf0.001")
