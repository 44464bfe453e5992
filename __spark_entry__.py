"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship query (rule-scored documents → tier ladder → top-k)
               on /root/testdata/sf0.001.
queries()    — operator registry from osmgraft.contract / contract_text
               (one entry per implemented SURVEY.md §2 operator).
oracle_sql() — DuckDB-equivalent SQL for every oracle-expressible query;
               hash/sample-based ops are registered rows-only.

Registration order: the driver's CORRECTNESS file records the FIRST 50
``queries()`` entries in dict-insertion order, so the order is the
verification schedule. ``_ordered_names`` applies one rule over the green
rows already on disk (``_green_rounds``): unverified ``_PRIORITY`` names
first, then the other unverified oracle-paired names, then the green ones,
and the rows-only names last.
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


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _contract.QUERIES["scored_documents"](spark, "/root/testdata/sf0.001")


# Oracle-paired names the driver has not yet recorded green, fronted in
# this order (the remaining round-5 lakehouse pair, then the iterative
# graph kernels, lakehouse audits, web behavioural analytics, drift
# battery and temporal-join tail). A name leaves the front on its first
# green row; names with no driver row stay in front until they get one.
_PRIORITY = (
    "compaction_bin_plan", "zonemap_prune_audit",
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
    # web behavioural analytics
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


def _green_rounds() -> dict[str, int]:
    """{name: first round with a green row} from CORRECTNESS_r*.json.

    A row is green on a hash match, or on a rows match when the row was
    recorded without a hash key. The files are written by the driver, so
    unreadable files and non-dict payloads or rows are skipped.
    """
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    green: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not m or not isinstance(data, dict):
            continue
        rnd = int(m.group(1))
        for name, row in data.items():
            if isinstance(row, dict) and (
                row.get("hash_match")
                or (row.get("rows_match") and "hash_match" not in row)
            ):
                green[name] = min(rnd, green.get(name, rnd))
    return green


def _ordered_names() -> list[str]:
    """Registry names in driver-window order.

    Four groups: ``_PRIORITY`` names with no green row (in ``_PRIORITY``
    order), other oracle-paired names with no green row, green names,
    then rows-only names (no oracle, so the driver can never hash-match
    them). Groups after the first keep registry order.
    """
    names = list(_contract.QUERIES)
    green = _green_rounds()
    rows_only = [n for n in names if n not in _contract.ORACLES]
    front = [n for n in _PRIORITY if n in _contract.ORACLES and n not in green]
    rest = [n for n in names if n not in front and n not in rows_only]
    return (
        front
        + [n for n in rest if n not in green]
        + [n for n in rest if n in green]
        + rows_only
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: _contract.QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle for each oracle-expressible query."""
    return {n: _contract.ORACLES[n] for n in _ordered_names() if n in _contract.ORACLES}
