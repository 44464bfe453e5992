"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship query (rule-scored documents → tier ladder → top-k)
               on /root/testdata/sf0.001.
queries()    — operator registry from osmgraft.contract / contract_text
               (one entry per implemented SURVEY.md §2 operator).
oracle_sql() — DuckDB-equivalent SQL for every oracle-expressible query;
               hash/sample-based ops are registered rows-only.

Registration order: the driver's CORRECTNESS file records the FIRST 50
``queries()`` entries in dict-insertion order.  Rounds 1-2 verified the 50
entries listed in ``_R02_VERIFIED`` (see CORRECTNESS_r02.json); to give every
operator a driver-green row across rounds, ``queries()`` now emits the
never-driver-verified entries (cell-index, dedup/ANN, media layers, plus any
new round-3 additions) FIRST, followed by the r02-verified entries in their
original order.  Cumulative r02+r03 coverage is then the full registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osmgraft import contract as _contract  # noqa: E402
from osmgraft import contract_text as _contract_text  # noqa: E402,F401  (registers entries)
from osmgraft import contract_media as _contract_media  # noqa: E402,F401  (registers entries)
from osmgraft import contract_cells as _contract_cells  # noqa: E402,F401  (registers entries)
from osmgraft import contract_tracks as _contract_tracks  # noqa: E402,F401  (registers entries)
from osmgraft import contract_corpus as _contract_corpus  # noqa: E402,F401  (registers entries)
from osmgraft import contract_web as _contract_web  # noqa: E402,F401  (registers entries)
from osmgraft import contract_select as _contract_select  # noqa: E402,F401  (registers entries)
from osmgraft import contract_mining as _contract_mining  # noqa: E402,F401  (registers entries)
from osmgraft import contract_science as _contract_science  # noqa: E402,F401  (registers entries)
from osmgraft import contract_stats as _contract_stats  # noqa: E402,F401  (registers entries)
from osmgraft import contract_infer as _contract_infer  # noqa: E402,F401  (registers entries)
from osmgraft import contract_raster as _contract_raster  # noqa: E402,F401  (registers entries)
from osmgraft import contract_classics as _contract_classics  # noqa: E402,F401  (registers entries)

# The 50 entries that received green driver rows in CORRECTNESS_r02.json
# (frozen literal — evidence already recorded; these sort AFTER the rest).
_R02_VERIFIED = frozenset(
    {
        "agg_conditional", "agg_having_rollup", "agg_tier_histogram",
        "anti_join_unsold_parts", "asof_daily_rate", "bar_chart_normalized",
        "bbox_region_query", "cell_assign_counts", "completeness_profile",
        "criteria_query", "distinct_users_sketch", "dwithin_count",
        "exclusion_filter", "fuzzy_coverage_join", "geomean_by_type",
        "knn_pois", "lang_id", "length_rollup", "matched_keywords",
        "mode_event_type", "mode_profile", "orders_status_cube",
        "pct_of_total", "pip_tile_counts", "pivot_dow_by_type",
        "priority_union_cascade", "props_json_rollup",
        "quality_filter_cascade", "range_band_join", "revenue_by_nation",
        "revenue_rollup", "scored_documents", "semi_join_colocation",
        "session_stats", "session_window_counts", "set_ops_users",
        "string_agg_sorted", "substring_rollup", "tag_filtered_sample",
        "theta_pairs_same_region", "topk_orders", "topn_per_group",
        "tumbling_window_counts", "union_all_metrics", "user_value_trend",
        "value_deciles", "value_percentiles", "window_rank", "word_freq",
        "yaml_scored_documents",
    }
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _contract.QUERIES["scored_documents"](spark, "/root/testdata/sf0.001")


# Round-4 driver window (judge's explicit priority list, VERDICT.md "Next
# round" #3): LLM-pipeline and reference-surface operators first, then the
# two post-green rewrites (`window_rank`, `value_deciles`) for
# re-verification, then 12 more brief-relevant never-verified entries to
# fill the 50-row window.  These are FORCED to the front regardless of
# prior green rows (re-verification is the point for the two rewrites).
_R04_WINDOW = (
    # judge's pick list, in the judge's order
    "dup_span_stats", "line_dedup_stats", "contamination_check",
    "semdedup_prune", "html_text_extract", "winnowing_fingerprints",
    "sequence_packing_plan", "pq_quant_recall", "int8_quant_recall",
    "mrl_trunc_recall", "media_waveform_stats", "media_ahash_groups",
    "bpe_train_merges", "bpe_encode_stats", "inverted_index",
    "bm25_top_docs", "pmi_cooccurrence", "unigram_logprob",
    "hot_cell_salted_profile", "quadkey_tile_counts", "geohash_cell_counts",
    "url_host_rollup", "crawl_latest_snapshot", "snapshot_diff",
    "blocklist_filter_stats", "robots_allow_audit", "leakage_safe_split",
    "corpus_mix_plan", "dsir_importance_select", "lang_balance_resample",
    "pii_scrub_stats", "cms_heavy_hitters", "hist_quantile_sketch",
    "bloom_prune_join", "track_simplify", "map_match_points",
    # re-verification slots: rewritten after their r02 green rows
    "window_rank", "value_deciles",
    # window fill: more LLM/web-corpus operators, never driver-verified
    "lsh_tuning_curve", "dedup_eval_pr", "dedup_funnel_report",
    "vocab_coverage_curve", "trigram_like_search", "anchor_text_index",
    "containment_pairs", "ngram_novelty_decay", "trending_terms",
    "readability_bands", "zipf_vocab_fit", "lang_confusion_matrix",
)

# Round-5 driver window, queued behind any still-unverified round-4 names:
# re-verification slots for queries rewritten AFTER their last green row
# (round-3 verdict, What's missing #3) lead, then geo-tier operators
# (this graft's tier — cell clustering, spatial stats, rasters), then
# movement/track analytics, the web/text tail, the retrieval-eval
# metrics, and lakehouse table-management ops. Window names retire on
# their first green row (see _ordered_names), so this list only ever
# surfaces entries that still need driver evidence.
_R05_WINDOW = (
    # re-verification: refine rewritten to cogroup GEMM after the r01
    # green row (retires only on a round >= 5 green)
    "embedding_neardup_pairs",
    # geo tier
    "dense_cell_clusters", "quadtree_leaves", "cell_compact",
    "kde_heatmap", "nn_distance_profile", "colocation_quotient",
    "morans_i_autocorrelation",
    "getis_ord_hotspots", "ripley_k_function", "dbscan_point_clusters",
    "idw_grid_interpolation", "haversine_band_counts",
    "cell_trend_hotspots", "flow_vector_field", "od_flow_matrix",
    "areal_interpolation", "gravity_model_od", "raster_slope_aspect",
    "flow_accumulation_d8",
    # movement / tracks
    "track_stats", "track_crossings", "track_turning_stats",
    "stay_point_episodes", "radius_of_gyration", "geofence_dwell_stats",
    "co_movement_pairs", "track_hausdorff_pairs",
    "geometric_median_tracks", "bbox_intersect_pairs",
    # web/text tail
    "rrf_fusion", "tfidf_cosine_pairs", "stored_query_match",
    "symspell_typo_pairs", "rake_keyphrases", "textrank_keywords",
    "title_editdist_pairs", "mirror_source_matrix",
    "quantile_normalize_lengths", "embedding_drift_check",
    "embedding_top_component", "bigram_logprob_interp",
    # retrieval-eval metrics
    "roc_auc_eval", "average_precision_eval", "ndcg_eval",
    "calibration_bins", "isotonic_calibration",
    # lakehouse / table management
    "merge_upsert_apply", "scd2_dimension_build",
    "time_travel_file_state", "compaction_bin_plan",
    "zonemap_prune_audit",
)


# Round-6 driver window, queued behind any still-unverified round-4/5
# names (round-4 verdict, Next round #4): the most plan-interesting of
# the never-windowed tail — iterative graph kernels first (the shapes
# whose per-round scan/shuffle budget the judge audits), then the
# lakehouse/table-management audits (the Iceberg-semantics surface
# SURVEY §1.1 names), web behavioral analytics, and the drift-test
# battery. Window names retire on their first green row.
_R06_WINDOW = (
    # iterative / graph kernels
    "pagerank_cosupply", "hits_hub_authority", "kcore_peel",
    "lpa_communities", "frontier_bfs_depths", "triangle_count",
    "graph_reciprocity", "degree_assortativity", "bellman_ford_distances",
    "adamic_adar_linkpred", "host_h_index", "outlink_host_graph",
    "closeness_centrality", "local_clustering_coeff",
    "edge_triangle_support",
    # lakehouse / table management / audits
    "mor_delete_apply", "vacuum_retention_audit", "ivm_agg_delta",
    "ivm_join_delta", "fk_orphan_audit", "merkle_partition_tree",
    "partition_skew_audit", "merge_conflict_audit",
    "join_cardinality_audit", "selectivity_estimate_audit",
    "zorder_prune_audit", "schema_evolution_audit", "expectations_audit",
    "encoding_advisor",
    # web behavioral analytics
    "funnel_conversion", "session_paths", "click_attribution",
    "cohort_retention", "crawl_schedule_timeline", "redirect_resolution",
    "bot_regularity_profile", "interval_union_coverage",
    "late_arrival_audit", "k_anonymity_audit", "l_diversity_audit",
    "json_key_profile",
    # drift / anomaly battery
    "ks_value_drift", "chi2_category_drift", "cusum_changepoints",
    "psi_score_drift", "mann_whitney_drift", "benford_audit",
    "daily_anomalies", "mahalanobis_outliers",
    # temporal-join tail
    "pit_join_orders", "bitemporal_asof", "markov_steady_state",
)


def _driver_history() -> tuple[frozenset[str], frozenset[str]]:
    """(verified, terminal_no_oracle) from CORRECTNESS_r*.json on disk.

    verified  — green row in any round (hash match, or rows-only pass for
                entries recorded without a hash key): sort LAST.
    terminal  — every recorded row says ``err == "no_oracle"`` and the name
                never went green: by documented design these can never
                hash-match, so they must also sort LAST instead of burning
                window slots every round (round-3 verdict, What's wrong #1).
    """
    import glob
    import json

    import re

    seen = set(_R02_VERIFIED)
    seen_r4plus = set()
    seen_r5plus = set()
    no_oracle = set()
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            data = json.load(open(path))
        except Exception:
            continue
        if not isinstance(data, dict):
            continue
        m = re.search(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") or (
                row.get("rows_match") and "hash_match" not in row
            ):
                seen.add(name)
                if rnd >= 4:
                    seen_r4plus.add(name)
                if rnd >= 5:
                    seen_r5plus.add(name)
            elif row.get("err") == "no_oracle":
                no_oracle.add(name)
    _driver_history.seen_r4plus = frozenset(seen_r4plus)
    _driver_history.seen_r5plus = frozenset(seen_r5plus)
    return frozenset(seen), frozenset(no_oracle - seen)


def _ordered_names() -> list[str]:
    names = list(_contract.QUERIES)
    verified, terminal = _driver_history()
    # window names retire on their first green row — without this, a past
    # round's forced window would re-occupy all 50 slots forever after its
    # greens land (the same slot-burn failure the no_oracle fix addresses).
    # Still-unverified names from an older window stay ahead of newer ones.
    # Re-verification entries carry stale pre-rewrite greens by design:
    # the r04 pair (rewritten round 3) retires on a round >= 4 green, the
    # r05 entry (refine rewritten round 4) on a round >= 5 green.
    fresh4 = getattr(_driver_history, "seen_r4plus", frozenset())
    fresh5 = getattr(_driver_history, "seen_r5plus", frozenset())
    reverify4 = {"window_rank", "value_deciles"}
    reverify5 = {"embedding_neardup_pairs"}
    window = [
        n for queue in (_R04_WINDOW, _R05_WINDOW, _R06_WINDOW) for n in queue
        if n in names and n not in terminal
        and (
            n not in fresh4
            if n in reverify4
            else n not in fresh5
            if n in reverify5
            else n not in verified
        )
    ]
    placed = set(window)
    fresh = [
        n for n in names
        if n not in placed and n not in verified and n not in terminal
    ]
    seen = [n for n in names if n not in placed and n in verified]
    dead = [
        n for n in names
        if n not in placed and n in terminal and n not in verified
    ]
    return window + fresh + seen + dead


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: _contract.QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle for each oracle-expressible query."""
    return {n: _contract.ORACLES[n] for n in _ordered_names() if n in _contract.ORACLES}
