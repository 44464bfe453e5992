"""Regenerate COVERAGE.md from the live registry (round-3 verdict item #4).

One row per ``queries()`` entry, derived mechanically so the document can
never drift from the registry again:

- **Surface** — SURVEY §2 row (explicit map below for the reference-surface
  operators), an LLM-pipeline brief tag, a tier tag (geo), or "extension".
- **Where** — module:line of the registered callable (via ``inspect``).
- **Oracle** — ✓ oracle-paired, or "rows-only" with the documented reason.
- **Driver** — first round with a green row in CORRECTNESS_r*.json
  ("r01"/"r02"/"r03"/…, read by ``__spark_entry__._green_rounds``),
  "no_oracle" for the rows-only entries the driver can never hash-match,
  or "—" (not yet windowed).
- **Tests** — test files under tests/ that reference the query name, plus
  the universal ``test_contract_oracle.py`` parametrization.

Usage: python tools/gen_coverage.py   (writes COVERAGE.md)
"""

from __future__ import annotations

import glob
import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# SURVEY §2 reference-surface mapping (query name -> §2 row ids). Names not
# listed fall back to a module-level surface tag.
SURVEY_MAP = {
    "tag_filtered_sample": "S4 tag-filtered sampler; T3/T5/T6 seeded sample/LIMIT",
    "exclusion_filter": "F1–F4 exclusion/inclusion filters",
    "priority_union_cascade": "F1–F6 filters+projection; J1 dedup cascade; U2/U3 priority union",
    "criteria_query": "F7 CRITERIA predicate builder",
    "scored_documents": "F8 threshold gate; C1–C4 CASE-chain scorers; C5/C6 tier ladders",
    "yaml_scored_documents": "C7 YAML rule system",
    "red_flags": "C7 suspicion triggers",
    "matched_keywords": "C8 matched-keywords extractor",
    "anti_join_unsold_parts": "J1 NOT-IN/anti dedup",
    "fuzzy_coverage_join": "J2/J6 fuzzy containment coverage join",
    "theta_pairs_same_region": "J3 theta/cross near-match join",
    "knn_pois": "J4 proximity kNN join",
    "dwithin_count": "J4 proximity DWithin",
    "hex_kring_poi_join": "J4 (hex k-ring variant)",
    "s2_dwithin_count": "J4 (S2 variant)",
    "semi_join_colocation": "J5 co-location semi-join",
    "bbox_region_query": "J7 bbox overlap window",
    "s2_bbox_refine": "J7 (S2 cover+refine variant)",
    "agg_having_rollup": "A1/A3/A7 grouped aggs + HAVING",
    "revenue_by_nation": "A1/A3/A7 grouped aggs",
    "agg_conditional": "A2/A4/A5 conditional aggs",
    "substring_rollup": "A6 substring-key group-by",
    "string_agg_sorted": "A8/A9 ordered-DISTINCT string_agg / array_agg",
    "agg_tier_histogram": "A10 histogram banding",
    "mode_profile": "A11 per-column mode",
    "mode_event_type": "A11 per-column mode",
    "pct_of_total": "A12 percent-of-total; W2 SUM(COUNT) OVER ()",
    "word_freq": "A13/A14 unnest word mining",
    "refinement_opportunities": "A13 keyword mining",
    "completeness_profile": "A15 completeness profile",
    "topn_per_group": "A16 top-N-per-dimension",
    "window_rank": "W1 ROW_NUMBER rank (r3 distributed top-k rewrite)",
    "bar_chart_normalized": "W3 MAX(COUNT) OVER () bar chart",
    "topk_orders": "T1/T2 top-k / sorted write",
    "stratified_sample": "T4 stratified per-tier sample",
    "union_all_metrics": "U1 UNION ALL dashboards",
    "pip_tile_counts": "§2.9 geo: point-in-polygon + tile rollup",
    "length_rollup": "§2.9 geo: ST_Length rollup",
    "wkb_validity": "§2.9 geo: WKB validity",
    "tumbling_window_counts": "§2.10 streaming: tumbling windows",
    "session_window_counts": "§2.10 streaming: session windows",
    "sliding_window_counts": "§2.10 streaming: sliding windows",
    # LLM-pipeline brief, named explicitly in the build brief
    "dedup_exact": "brief: exact dedup (hash-groupBy)",
    "dedup_clusters": "brief: near-dup clustering (min-contraction CC)",
    "minhash_lsh_pairs": "brief: MinHash+LSH banding",
    "simhash_signatures": "brief: SimHash signatures",
    "simhash_neardup_pairs": "brief: SimHash banded pairs",
    "ngram_jaccard_pairs": "brief: n-gram Jaccard near-dup",
    "embedding_neardup_pairs": "brief: embedding-cosine near-dup (pivot-angle banded)",
    "ann_bruteforce_top10": "brief: ANN brute-force cosine top-k",
    "ann_lsh_top10": "brief: ANN LSH-bucketed",
    "ann_ivf_top10": "brief: ANN IVF",
    "ann_batch_topk": "brief: ANN batch top-k",
    "lang_id": "brief: language-ID (n-gram heuristic)",
    "quality_scores": "brief: quality scoring",
    "token_counts": "brief: token counting",
    "doc_fingerprints": "brief: document fingerprinting (rolling hash)",
    "quality_filter_cascade": "brief: Gopher-style quality cascade",
}

MODULE_SURFACE = {
    "osmgraft.contract": "core analytics (SURVEY §2 family)",
    "osmgraft.contract_text": "LLM pipeline: text/dedup/ANN",
    "osmgraft.contract_corpus": "LLM pipeline: corpus ops (Lee-et-al./MOSS/decontam/packing)",
    "osmgraft.contract_select": "LLM pipeline: data selection / mixing / splits",
    "osmgraft.contract_media": "LLM pipeline: multimodal media",
    "osmgraft.contract_web": "web-corpus analytics (crawl/host/graph)",
    "osmgraft.contract_cells": "tier geo: cell indexes (hex/S2/quadkey/geohash)",
    "osmgraft.contract_tracks": "tier geo: tracks/trajectories",
    "osmgraft.contract_raster": "tier geo: raster/grid",
    "osmgraft.contract_mining": "extension: mining/eval/audit statistics",
    "osmgraft.contract_science": "extension: scientific statistics",
    "osmgraft.contract_stats": "extension: statistics",
    "osmgraft.contract_infer": "extension: inference/spatial statistics",
    "osmgraft.contract_classics": "extension: classical tests",
}

ROWS_ONLY_REASON = {
    "minhash_lsh_pairs": "xxhash64 payload — engine-hash-defined; recall-vs-exact pytest",
    "simhash_signatures": "xxhash64 payload; pytest invariants",
    "simhash_neardup_pairs": "xxhash64 payload; blocked==all-pairs pytest",
    "stratified_sample": "engine RNG; pytest invariants",
    "distinct_users_sketch": "HLL sketch estimate — engine-defined; pytest bounds",
}


def test_index(repo: str) -> dict[str, list[str]]:
    """query name -> test files mentioning it (word-boundary match)."""
    texts = {}
    for path in glob.glob(os.path.join(repo, "tests", "test_*.py")):
        texts[os.path.basename(path)] = open(path).read()
    return texts


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.chdir(repo)
    import __spark_entry__ as entry
    from osmgraft import contract

    names = entry._ordered_names()
    oracles = contract.ORACLES
    rounds = {n: f"r{r:02d}" for n, r in entry._green_rounds().items()}
    rounds |= {
        n: "no_oracle" for n in names if n not in oracles and n not in rounds
    }
    tests = test_index(repo)

    lines = [
        "# COVERAGE — full registry map (generated by tools/gen_coverage.py)",
        "",
        "One row per `queries()` entry, derived from the live registry — do",
        "not hand-edit; re-run the generator. **Surface** maps the entry to",
        "its SURVEY §2 row, the LLM-pipeline brief, the geo tier, or marks it",
        "an extension. **Driver** is the first round with a green row in",
        "CORRECTNESS_r*.json (`no_oracle` = terminal rows-only entries the",
        "driver can never hash-match — invariant-tested in pytest instead).",
        "Every oracle-paired entry is additionally hash-compared against",
        "DuckDB at sf0.01 by `tests/test_contract_oracle.py` (parametrized",
        "over the whole registry) on every pytest run; the Tests column",
        "lists files that reference the entry beyond that universal gate.",
        "",
    ]

    # counts block — the single source of truth (verdict item #8)
    n = len(names)
    n_or = sum(1 for x in names if x in oracles)
    n_green = sum(1 for x in names if rounds.get(x, "").startswith("r"))
    n_no = sum(1 for x in names if rounds.get(x) == "no_oracle")
    lines += [
        "## Counts (registry-derived)",
        "",
        f"- registered queries: **{n}**",
        f"- oracle-paired: **{n_or}** (rows-only by design: {n - n_or})",
        f"- driver-green (any round): **{n_green}**",
        f"- terminal no_oracle driver rows: **{n_no}**",
        f"- never driver-windowed: **{n - n_green - n_no}**",
        "",
    ]

    by_mod: dict[str, list[str]] = {}
    for nm in names:
        by_mod.setdefault(contract.QUERIES[nm].__module__, []).append(nm)

    mod_order = sorted(by_mod, key=lambda m: (-len(by_mod[m]), m))
    # keep core + brief modules first for readability
    pri = [
        "osmgraft.contract", "osmgraft.contract_text",
        "osmgraft.contract_corpus", "osmgraft.contract_select",
        "osmgraft.contract_media", "osmgraft.contract_cells",
        "osmgraft.contract_tracks", "osmgraft.contract_raster",
        "osmgraft.contract_web",
    ]
    mod_order = [m for m in pri if m in by_mod] + [
        m for m in mod_order if m not in pri
    ]

    for mod in mod_order:
        lines += [f"## {mod}  ({MODULE_SURFACE.get(mod, 'extension')})", ""]
        lines += [
            "| Query | Surface | Where | Oracle | Driver | Tests |",
            "|---|---|---|---|---|---|",
        ]
        for nm in sorted(by_mod[mod]):
            fn = contract.QUERIES[nm]
            try:
                src = os.path.relpath(inspect.getsourcefile(fn), repo)
                line = inspect.getsourcelines(fn)[1]
                where = f"`{src}:{line}`"
            except (OSError, TypeError):
                where = f"`{mod}`"
            surface = SURVEY_MAP.get(
                nm, MODULE_SURFACE.get(mod, "extension")
            )
            if nm in oracles:
                oracle = "✓"
            else:
                oracle = "rows-only (" + ROWS_ONLY_REASON.get(
                    nm, "documented in docstring"
                ) + ")"
            drv = rounds.get(nm, "—")
            pat = re.compile(r"\b" + re.escape(nm) + r"\b")
            hits = sorted(
                f for f, txt in tests.items()
                if f != "test_contract_oracle.py" and pat.search(txt)
            )
            t = ", ".join(h.replace("test_", "").replace(".py", "") for h in hits) or "oracle gate"
            lines.append(
                f"| `{nm}` | {surface} | {where} | {oracle} | {drv} | {t} |"
            )
        lines.append("")

    # library surfaces with no queries() entry (SURVEY §2 rows S1-S8 etc.)
    lines += [
        "## Library surfaces without a `queries()` entry (pytest-only)",
        "",
        "| Ref | Surface | Where | Tests |",
        "|---|---|---|---|",
        "| S1/S2 | bulk import → tables | `osmgraft/datagen/fixtures.py`, `osmgraft/sources/catalog.py` | test_pipeline, test_submit_job |",
        "| S3 | resumable ingest → checkpoint-resume | `osmgraft/pipeline/runner.py` | test_pipeline |",
        "| S5/S6 | CSV export | `osmgraft/sources/export.py` | test_analytics |",
        "| S7 | JSON report sink | `osmgraft/sources/export.py` | test_analytics |",
        "| S8 | markdown report sink | `osmgraft/sources/export.py` | test_analytics |",
        "| §2.10 | stream-stream interval join, stream-static enrichment, watermarked dedup, stateful sessionize | `osmgraft/streaming/` | test_streaming |",
        "| §2.11 | vectorized-UDF-only surface + plan audits | `osmgraft/extract/page_extract.py`, `tests/test_plans.py` | plans (95 audits) |",
        "",
    ]
    out = os.path.join(repo, "COVERAGE.md")
    open(out, "w").write("\n".join(lines))
    print(f"wrote {out}: {n} registry rows, {n_or} oracle-paired, "
          f"{n_green} driver-green, {n_no} terminal no_oracle")


if __name__ == "__main__":
    main()
