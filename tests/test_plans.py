"""Physical-plan audits: the 100 TB posture is enforced here, not just in
prose. Each test pins a plan property that must survive refactors:
broadcasts where build sides are small, no nested-loop joins on anti-join
paths, filter/column pushdown reaching the parquet scan, partial (map-side)
aggregation, and the hybrid PIP staying JVM-only for interior cells."""

from __future__ import annotations

from pyspark.sql import functions as F

import osmgraft.contract_cells  # noqa: F401  (registers cell-index queries)
from osmgraft.contract import QUERIES, SPEC, CELL_RES
from tests.conftest import SF_CORRECT


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_anti_join_is_hash_not_bnlj(spark):
    """NOT-IN → left_anti must plan a (Broadcast)HashJoin, never the
    null-aware BroadcastNestedLoopJoin (SURVEY.md §7.3 item 2)."""
    df = QUERIES["anti_join_unsold_parts"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "HashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_join_broadcasts_expanded_pois(spark):
    """kNN k-ring equi-join must broadcast the exploded POI side — the big
    point side is never shuffled."""
    df = QUERIES["knn_pois"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


def test_pip_interior_path_has_no_python(spark):
    """Hybrid PIP on cell-aligned tiles: zero boundary cells ⇒ the whole
    join is JVM (no ArrowEvalPython / mapInPandas stage in the plan)."""
    df = QUERIES["pip_tile_counts"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


def test_pip_boundary_cells_one_scan_no_python(spark, tmp_path, monkeypatch):
    """A tiling with boundary cells: building the index from parquet-backed
    boundaries runs no Python node (the cell map is an Arrow table the JVM
    reads), and both join modes plan one scan of the points and no Python
    node (the boundary cells ray-cast in the same projection)."""
    import numpy as np

    from osmgraft.geo import pip
    from osmgraft.geo.geometry import polygon_wkb

    rings = [
        np.array([[0, 0], [4e5, 0], [3e5, 7e5], [0, 7e5], [0, 0]], dtype=float),
        np.array([[4e5, 0], [7e5, 0], [7e5, 7e5], [3e5, 7e5], [4e5, 0]], dtype=float),
    ]
    spark.createDataFrame(
        [(i, bytearray(polygon_wkb(r))) for i, r in enumerate(rings)],
        "boundary_id long, polygon_wkb binary",
    ).write.parquet(str(tmp_path / "bounds"))
    spark.range(1000).selectExpr("id", "rand(1) * 7e5 AS x", "rand(2) * 7e5 AS y") \
        .write.parquet(str(tmp_path / "points"))
    cut_plans = []
    real_cut = pip.cut

    def recording_cut(df):
        cut_plans.append(plan_of(df))
        return real_cut(df)

    monkeypatch.setattr(pip, "cut", recording_cut)
    index = pip.PipIndex.build(spark.read.parquet(str(tmp_path / "bounds")))
    assert index.any_boundary_cells and len(cut_plans) == 1
    assert "EvalPython" not in cut_plans[0] and "InPandas" not in cut_plans[0], cut_plans[0]
    for how in ("left", "inner"):
        df = pip.pip_join(spark.read.parquet(str(tmp_path / "points")), how=how, index=index)
        plan = plan_of(df)
        assert "EvalPython" not in plan and "InPandas" not in plan, plan
        assert plan.count("FileScan parquet") == 1, plan
        assert df.count() == 1000


def test_filter_pushdown_reaches_parquet(spark):
    """Predicate + column pruning must reach the scan (PushedFilters /
    ReadSchema) — free Catalyst wins the engine relies on (SURVEY.md §4)."""
    orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    df = orders.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in plan
    assert "o_totalprice" not in plan.split("ReadSchema")[1][:200]


def test_groupby_has_partial_aggregation(spark):
    """Aggregations must show two HashAggregate phases (map-side combine
    before the exchange) so the shuffle carries group counts, not rows."""
    df = QUERIES["cell_assign_counts"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_cell_expr_is_codegen(spark):
    """Morton cell assignment must live inside WholeStageCodegen, not a UDF."""
    from osmgraft.geo.cells import with_cell

    pts = spark.range(100).select(
        (F.col("id") * 1.0).alias("x"), (F.col("id") * 2.0).alias("y")
    )
    df = with_cell(pts, "x", "y", SPEC, CELL_RES)
    plan = plan_of(df)
    # '*(n)' prefixes mark whole-stage-codegen spans in the plan string
    assert "*(1)" in plan
    assert "Python" not in plan


def test_scored_documents_single_scan(spark):
    """The score + tier + threshold pipeline must collapse into one scan
    (view inlining ≡ plan composition, SURVEY.md §3.1)."""
    df = QUERIES["scored_documents"](spark, SF_CORRECT)
    opt = optimized_of(df)
    assert opt.count("Relation") == 1


def test_coverage_join_is_bnlj_by_design(spark):
    """The fuzzy containment join (18-row build side) correctly plans a
    BroadcastNestedLoopJoin — the right plan for a tiny non-equi build."""
    df = QUERIES["fuzzy_coverage_join"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan


def test_hex_cell_ops_stay_jvm(spark):
    """The hex index hot path (assignment, parent rollup) must be pure JVM
    whole-stage codegen — no Arrow/Python eval nodes anywhere in the plan."""
    for name in ("hex_cell_counts", "hex_parent_rollup"):
        plan = plan_of(QUERIES[name](spark, SF_CORRECT))
        assert "EvalPython" not in plan, name  # Batch- and Arrow-
        assert "HashAggregate" in plan, name


def test_hex_kring_join_broadcasts_ring(spark):
    """k-ring proximity join: tiny expanded-POI side must broadcast so the
    big side never shuffles (reference J4 as a broadcast equi-join)."""
    plan = plan_of(QUERIES["hex_kring_poi_join"](spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


_S2_QUERIES = ("s2_cell_counts", "s2_bbox_refine", "s2_dwithin_count", "s2_tile_vectors", "s2_parent_rollup")


def test_s2_queries_plan_no_python(spark):
    """S2 cells and cell corners are SQL steps: none of the S2 plans has a
    Python node, and the cover + refine predicates stay JVM Filters."""
    plans = {n: plan_of(QUERIES[n](spark, SF_CORRECT)) for n in _S2_QUERIES}
    for name, plan in plans.items():
        for node in ("EvalPython", "InPandas", "InArrow"):
            assert node not in plan, (name, node)
    assert "Filter" in plans["s2_bbox_refine"]


def test_s2_cell_filter_stays_above_steps(spark):
    """A filter on with_s2_cell's output is not pushed into the step
    projections: there each step would be inlined into every reference,
    and each Hilbert step reads the one before twice, so the optimized
    plan would double per step (MBs and tens of seconds to optimize)."""
    from osmgraft.geo import s2

    df = spark.range(100).selectExpr("50.0e0 + id * 1.0e-3 AS lat", "-1.0e0 + id * 1.0e-3 AS lng")
    cells = s2.with_s2_cell(df, "lat", "lng", 12, out="c")
    ids = [int(v) for v in s2.cell_np([50.0, 50.05], [-1.0, -0.95], 12)]
    base = len(optimized_of(cells))
    for filtered in (cells.where(F.col("c").isin(ids)), cells.where(F.col("c").between(*sorted(ids)))):
        assert len(optimized_of(filtered)) <= 2 * base
    assert cells.where(F.col("c").isin(ids)).count() > 0


def test_s2_generated_methods_stay_jit_compilable(spark):
    """Spark generates each S2 step chain into one Java method, and HotSpot
    leaves a method above 8,000 bytes of bytecode interpreted: a chain
    past that ran s2_dwithin_count's scan about twice as slow."""
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in _S2_QUERIES:
            nodes = [QUERIES[name](spark, SF_CORRECT)._jdf.queryExecution().executedPlan()]
            sizes = []
            while nodes:
                node = nodes.pop()
                if node.nodeName().startswith("WholeStageCodegen"):
                    sizes.append(codegen.compile(node.doCodeGen()._2())._2().maxMethodCodeSize())
                children = node.children().iterator()
                while children.hasNext():
                    nodes.append(children.next())
            assert sizes and max(sizes) < 8000, (name, sizes)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_coverage_report_broadcasts_known_side(spark):
    """Round-2 regression (VERDICT r1 item 2): the known-supplier coverage
    join must broadcast the 18-row known side (BuildLeft) and stream the
    unbounded candidates side — never the reverse."""
    from osmgraft.analytics.coverage import coverage_report
    from osmgraft.datagen import gen_known_suppliers, gen_osm_features
    from osmgraft.datagen.spark_io import to_spark
    from osmgraft.pipeline.runner import run_reference_pipeline

    feats = to_spark(spark, gen_osm_features(300), "features")
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        final = run_reference_pipeline(spark, feats, d)
        ks = to_spark(spark, gen_known_suppliers(), "suppliers")
        plan = plan_of(coverage_report(final, ks))
    assert "BroadcastNestedLoopJoin BuildLeft" in plan


def test_yaml_scorer_single_scan_no_python(spark):
    """The 31-rule 10-tier YAML system must fold into ONE parquet scan with
    no exchange and no Python stage — the whole CASE chain is JVM codegen."""
    df = QUERIES["yaml_scored_documents"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1
    assert "EvalPython" not in plan
    opt = optimized_of(df)
    assert opt.count("Relation") == 1


def test_geometry_queries_plan_no_python(spark):
    """The track length and the ring validity are SQL over the sorted
    coordinate arrays: neither plan has a Python node, and the length
    rollup keeps map-side partial aggregation."""
    plans = {n: plan_of(QUERIES[n](spark, SF_CORRECT)) for n in ("length_rollup", "wkb_validity")}
    for name, plan in plans.items():
        for node in ("EvalPython", "InPandas", "InArrow"):
            assert node not in plan, (name, node)
    assert "partial_" in plans["length_rollup"]


def test_mode_profile_partial_agg(spark):
    """All-columns mode: unpivot feeds ONE partial-agg shuffle, then the
    per-column top-1 window on the (tiny) aggregated set."""
    plan = plan_of(QUERIES["mode_profile"](spark, SF_CORRECT))
    assert "partial_" in plan
    assert "EvalPython" not in plan


def test_bucketed_join_elides_shuffle(spark, tmp_path):
    """Round-2 co-location lever: joining two tables bucketed on the join
    key (same bucket count) must plan with NO Exchange — the shuffle was
    paid once at write time. The same join on plain parquet shuffles."""
    from osmgraft.sources import TableIO

    io = TableIO(spark, str(tmp_path))
    ev = spark.range(2000).select(
        (F.col("id") % 64).alias("user_id"), F.col("id").alias("event_id")
    )
    us = spark.range(64).select(
        F.col("id").alias("user_id"), (F.col("id") * 2).alias("segment")
    )
    io.write_bucketed(ev, "b_events_t", ["user_id"], n_buckets=8)
    io.write_bucketed(us, "b_users_t", ["user_id"], n_buckets=8)
    try:
        a = io.read_bucketed("b_events_t")
        b = io.read_bucketed("b_users_t")
        # force SMJ so the test isolates bucketing (not broadcast)
        joined = a.hint("merge").join(b, "user_id")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # control: identical join on non-bucketed data DOES shuffle
        plain = ev.hint("merge").join(us, "user_id")
        assert "Exchange" in plan_of(plain)
        # result parity
        assert joined.count() == 2000
    finally:
        spark.sql("DROP TABLE IF EXISTS b_events_t")
        spark.sql("DROP TABLE IF EXISTS b_users_t")


def test_aqe_splits_skewed_join_partition(spark):
    """Round-2: the hotspot-cell skew story must hold at the AQE layer too
    — a 90%-hot-key shuffled join's final adaptive plan shows
    SortMergeJoin(skew=true), i.e. the runtime split the hot partition
    into advisory-sized reads (salting covers what AQE can't)."""
    from osmgraft.runtime.salting import aqe_skew_configs

    saved = {}
    tuned = dict(aqe_skew_configs("32k", "16k", 2))
    tuned["spark.sql.autoBroadcastJoinThreshold"] = "-1"
    for k, v in tuned.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        big = spark.range(200000).select(
            F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("v"),
        )
        small = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = big.join(small, "k")
        assert len(j.collect()) == 200000
        plan = plan_of(j)
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_range_join_is_broadcast_equi_not_bnlj(spark):
    """Round-2 interval join: the bucketed form must plan a
    BroadcastHashJoin on the bucket key — never the quadratic
    BroadcastNestedLoopJoin the raw range condition would produce."""
    plan = plan_of(QUERIES["range_band_join"](spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_spatial_cell_join_no_shuffle(spark, tmp_path):
    """The bucketing and spatial stories composed: two BIG point tables
    pre-bucketed on their cell id join cell-to-cell with zero Exchange —
    the co-located big-big spatial join (neither side broadcastable at
    10^12 rows; the shuffle was paid once at ingest)."""
    from osmgraft.geo.cells import with_cell
    from osmgraft.sources import TableIO

    io = TableIO(spark, str(tmp_path))
    a = with_cell(
        spark.range(5000).select(
            (F.col("id") % 700000 * 1.0).alias("x"),
            (F.col("id") % 690000 * 1.0).alias("y"),
            F.col("id").alias("pid"),
        ),
        "x", "y", SPEC, CELL_RES, out="cell", keep_ixy=False,
    )
    b = with_cell(
        spark.range(3000).select(
            (F.col("id") % 695000 * 1.0).alias("x"),
            (F.col("id") % 688000 * 1.0).alias("y"),
            F.col("id").alias("qid"),
        ),
        "x", "y", SPEC, CELL_RES, out="cell", keep_ixy=False,
    )
    io.write_bucketed(a.select("cell", "pid"), "sp_a_t", ["cell"], n_buckets=8)
    io.write_bucketed(b.select("cell", "qid"), "sp_b_t", ["cell"], n_buckets=8)
    try:
        j = io.read_bucketed("sp_a_t").hint("merge").join(
            io.read_bucketed("sp_b_t"), "cell"
        )
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS sp_a_t")
        spark.sql("DROP TABLE IF EXISTS sp_b_t")


def test_window_rank_uses_distributed_topk(spark):
    """window_rank must not single-partition-sort the raw table: the top-k
    filter plans as TakeOrderedAndProject (per-partition heaps); the
    ROW_NUMBER window only ever sees the 10-row result (round-3 fix)."""
    df = QUERIES["window_rank"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    # the only Window sits above the TakeOrdered, never above the scan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_value_deciles_has_no_single_partition_exchange(spark):
    """value_deciles' exact NTILE must run the two-level ranking plan:
    the ROW_NUMBER window partitions by the range bucket (64-way parallel)
    and no stage collapses to a single partition (round-3 fix)."""
    df = QUERIES["value_deciles"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "_rk_bucket" in plan
    assert "SinglePartition" not in plan


def test_repetition_ratio_single_shuffle(spark):
    """The Gopher repetition signal computes the per-doc top-bigram count
    WITHIN the row (nested higher-order functions) — the only Exchange in
    the plan is the 3-row band rollup's partial-agg shuffle, never a
    shuffle of exploded bigrams."""
    import osmgraft.contract_text  # noqa: F401

    df = QUERIES["repetition_ratio"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert plan.count("Exchange") <= 2  # partial-agg hash + final sort
    assert "Generate" not in plan  # no explode anywhere


def test_bigram_freq_one_count_shuffle(spark):
    """Bigrams are built by zipping the token array against its own tail
    in-row; only the (bigram, count) partial aggregation shuffles."""
    import osmgraft.contract_text  # noqa: F401

    df = QUERIES["bigram_freq"](spark, SF_CORRECT)
    plan = plan_of(df)
    # explode of the in-row bigram array is expected (Generate), but there
    # must be exactly one hash-partitioned Exchange (the count rollup) —
    # the top-20 is TakeOrdered, not a global sort exchange
    assert plan.count("hashpartitioning") == 1
    assert "TakeOrderedAndProject" in plan


def test_tfidf_windows_partition_by_source(spark):
    """tfidf_top_terms ranks via the salted two-phase top-k: phase 1's
    window partitions by (source, salt) — so no task ever ranks a full
    source vocabulary — and phase 2 ranks only the per-salt survivors.
    Never a bare global window."""
    import osmgraft.contract_text  # noqa: F401

    df = QUERIES["tfidf_top_terms"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "SinglePartition" not in plan
    assert "xxhash64" in plan  # phase-1 content-hash salt present
    assert plan.count("Window") >= 2  # both ranking phases windowed


def test_char_entropy_scan_only(spark):
    """char_entropy_bands is a pure scan + band rollup: no explode, no join,
    only the tiny band aggregation exchanges."""
    import osmgraft.contract_text  # noqa: F401

    df = QUERIES["char_entropy_bands"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "Generate" not in plan
    assert "Join" not in plan


def test_hot_cell_profile_aggregates_through_salt(spark):
    """hot_cell_salted_profile must plan the explicit two-phase skew
    rewrite: a partial stage keyed by (hex_cell, _salt) — the content-hash
    salt shows up as xxhash64 — and a final stage keyed by hex_cell alone.
    Two hash-partitioned exchanges, no single-partition stage."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["hot_cell_salted_profile"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "xxhash64" in plan  # deterministic content salt feeds the key
    assert "_salt" in plan
    assert plan.count("hashpartitioning") >= 2  # (cell,salt) then (cell)
    assert "SinglePartition" not in plan


def test_contamination_probe_broadcasts_benchmark_grams(spark):
    """The decontamination probe joins the (small) benchmark gram set by
    broadcast — the corpus-side gram stream must never shuffle for the
    probe itself (only the per-doc rollup hashes on doc_id)."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["contamination_check"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_inverted_index_bounds_postings_before_collect(spark):
    """Posting lists are cut to k rows per term by a row_number INSIDE the
    term partition before any collect_list — the plan must show the
    Window stage feeding the aggregation, and no single-partition sort."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["inverted_index"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_line_dedup_no_cartesian(spark):
    """Cross-doc line dedup joins lines back on the line key (hash join)
    and re-aggregates per doc — never a nested-loop/cartesian pair plan."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["line_dedup_stats"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_topk_is_take_ordered(spark):
    """BM25's global top-20 must plan as TakeOrderedAndProject (distributed
    partial top-k), never a single-partition full sort; the idf/scalar
    sides join by broadcast."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["bm25_top_docs"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    # the only single-partition stage allowed is the scalar (N, avgdl)
    # aggregate, which reduces map-side partials — its input must be a
    # partial aggregation, and the doc ranking itself must never be a
    # global Sort
    assert "partial_count" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_pmi_pairs_generated_in_row(spark):
    """PMI pair generation happens inside the row (per-offset zip_with of
    the token array against its shifted self) — no positional self-join.
    The pair/word counts are cut (each feeds a scalar
    total AND the scoring join), so the returned plan scans ExistingRDD;
    the audit asserts the scoring stage joins only by broadcast and that
    the checkpointed inputs are in place (the generation itself executed
    eagerly inside the checkpoint with no join stage at all)."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["pmi_cooccurrence"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "ExistingRDD" in plan
    assert plan.count("BroadcastHashJoin") == 2  # w1, w2 marginals
    assert plan.count("BroadcastNestedLoopJoin") == 2  # 1-row tp, tw


def test_track_simplify_single_user_shuffle(spark):
    """Douglas-Peucker tracks: ONE explicit hash exchange on user_id
    (AQE-coalescing-proof partition count) delivers whole tracks sorted
    within partitions; the kernel is one partition-level Arrow batch
    (MapInPandas — no per-track FlatMapGroupsInPandas slicing), and
    nothing plans cartesian."""
    import osmgraft.contract_tracks  # noqa: F401

    df = QUERIES["track_simplify"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("hashpartitioning") <= 1  # the track delivery shuffle
    assert "Sort" in plan  # (user_id, event_id) within partitions
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_blocklist_suffix_join_is_broadcast(spark):
    """The suffix-expansion blocklist join must broadcast the rule table
    (equi-join on the exploded suffix) — never LIKE-shaped nested-loop."""
    import osmgraft.contract_web  # noqa: F401

    df = QUERIES["blocklist_filter_stats"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hist_quantile_sketch_no_value_sort(spark):
    """The histogram sketch never sorts raw values: the cum-sum window is
    keyed by event_type over the post-agg bins, the range stats broadcast
    back, and both aggs are partial (map-side combine)."""
    import osmgraft.contract_web  # noqa: F401

    df = QUERIES["hist_quantile_sketch"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_int8_quant_recall_scores_in_arrow_gemm(spark):
    """Probe scoring is ONE Arrow-batched numpy GEMM over the corpus
    (MapInPandas — the ann batch-scoring doctrine; no join at all, the
    probe matrices ride the closure), ranking windows are keyed by probe
    id (no single-partition window), and no row-at-a-time Python eval
    appears anywhere."""
    import osmgraft.contract_text  # noqa: F401

    df = QUERIES["int8_quant_recall"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "MapInPandas" in plan
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan


def test_crawl_schedule_window_keyed_by_host(spark):
    """Politeness serialization is a host-keyed window — the plan must
    hash-partition on host and never collapse to one partition."""
    import osmgraft.contract_web  # noqa: F401

    df = QUERIES["crawl_schedule_timeline"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "Window" in plan
    assert "hashpartitioning(host" in plan
    assert "SinglePartition" not in plan


def test_frontier_bfs_hash_joins_only(spark):
    """Every BFS round is an equi-join + left-anti join on the node key —
    no nested-loop pair plan anywhere in the unrolled expansion."""
    import osmgraft.contract_web  # noqa: F401

    df = QUERIES["frontier_bfs_depths"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan


def test_html_extract_is_scan_only_codegen(spark):
    """The extraction chain is pure per-row expression work: one scan, no
    exchange before the final sort, no Python eval — and the expensive
    regex chain is evaluated behind a Generate barrier, NOT inlined by
    CollapseProject into every downstream reference (md5/length/ratio
    would otherwise each recompute it)."""
    import osmgraft.contract_web  # noqa: F401

    df = QUERIES["html_text_extract"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" in plan
    # txt + n_tags inside the one Generate struct — never 3+ copies from
    # CollapseProject inlining
    assert plan.count("(?s)<head") <= 2
    # only the output ORDER BY doc_id may shuffle (rangepartitioning);
    # the extraction itself must not hash-shuffle
    assert "hashpartitioning" not in plan


def test_robots_audit_broadcast_rules_page_keyed_window(spark):
    """REP rule evaluation: rules broadcast, winner selection is a
    page-keyed window, never single-partition."""
    import osmgraft.contract_web  # noqa: F401

    df = QUERIES["robots_allow_audit"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(doc_id" in plan
    assert "SinglePartition" not in plan


def test_winnowing_two_shuffle_shape(spark):
    """Winnowing: shingle/window-min selection is in-row; the corpus-wide
    stats are one fp-keyed agg + one fp equi-join + one doc-keyed agg —
    no cartesian, no Python."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["winnowing_fingerprints"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_map_match_broadcasts_road_cells(spark):
    """Map matching: the exploded road-cell side broadcasts (points never
    shuffle for the join); argmin is a per-point window; no BNLJ."""
    import osmgraft.contract_tracks  # noqa: F401

    df = QUERIES["map_match_points"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(event_id" in plan  # per-point argmin window


def test_skyline_no_global_window_over_raw_rows(spark):
    """Skyline: in-bucket prefix maxima are windows PARTITIONED by
    bucket; only the bounded bucket list may pass through a single
    partition; the join back to points is a broadcast equi-join."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["skyline_pareto_front"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "hashpartitioning(b" in plan  # in-bucket windows keyed by bucket
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_span_window_partitioned_by_doc(spark):
    """Duplicated-substring spans: the island merge is a doc-keyed
    window (never global); the dup-gram set joins back on the gram key
    as a shuffled equi-join; no Python eval anywhere."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["dup_span_stats"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "hashpartitioning(doc_id" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # round-5 shape pins: the gram stream is materialized ONCE (the cut
    # hides the explode behind a checkpointed scan — no Generate may
    # remain in the query plan), and the dup-gram set is the min/max
    # partial agg, never the expand-based count-distinct rewrite
    assert "Generate" not in plan
    assert "Expand" not in plan


def test_interval_union_windows_keyed_by_user(spark):
    """Interval union + sweep line: every window is user-keyed; no
    single-partition window over raw events."""
    import osmgraft.contract_web  # noqa: F401

    df = QUERIES["interval_union_coverage"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan


def test_hits_iterations_are_hash_joins(spark):
    """HITS: each iteration is an edge-list equi-join + partial agg;
    top-k per role is TakeOrderedAndProject, not a global sort. (The
    only nested-loop joins are the 1-row max-normaliser broadcasts —
    scalar builds, constant cost at any scale.)"""
    import osmgraft.contract_web  # noqa: F401

    df = QUERIES["hits_hub_authority"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # the edge list and each iteration's raw scores are cut
    # (lineage-doubling fix), so iteration joins executed eagerly inside
    # the checkpoints; the final plan consumes the checkpointed last
    # iteration and must stay scan + 1-row-broadcast normalise + top-k —
    # no shuffle or join machinery may remain
    assert "ExistingRDD" in plan
    assert "SortMergeJoin" not in plan and "hashpartitioning" not in plan


def test_encoding_advisor_runs_partitioned_by_file(spark):
    """Encoding advisor: run detection windows are (column, file)-keyed
    — runs never cross file boundaries, no global sort."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["encoding_advisor"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "hashpartitioning(col_name" in plan
    assert "SinglePartition" not in plan


def test_tfidf_cosine_pairs_equi_joins_only(spark):
    """Weighted sparse-vector join: candidates and dot products are hash
    equi-joins on term/doc keys — no cartesian, no Python. (The only
    nested-loop joins are 1-row scalar broadcasts of the corpus count —
    constant cost at any scale.)"""
    import osmgraft.contract_text  # noqa: F401

    df = QUERIES["tfidf_cosine_pairs"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # candidate + dot-product joins are hash equi-joins on term/doc keys
    # (at fixture scale AQE broadcasts the small sides — any of the three
    # equi-join operators is acceptable; the point is no quadratic join)
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_stored_query_match_broadcasts_query_terms(spark):
    """Percolation: the stored-query term set broadcasts; the document
    side never shuffles for the semi-join."""
    import osmgraft.contract_text  # noqa: F401

    df = QUERIES["stored_query_match"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dense_cell_clusters_points_never_self_join(spark):
    """Hotspot clusters: the adjacency self-join runs over DENSE CELLS
    (threshold-bounded), never points; CC label propagation is hash
    equi-joins."""
    import osmgraft.contract_cells  # noqa: F401

    df = QUERIES["dense_cell_clusters"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(cx" in plan  # the one point-level shuffle


def test_bpe_training_topk_is_take_ordered(spark):
    """BPE: per-round best pair is TakeOrderedAndProject over the pair
    counts; the merge applies via a 1-row broadcast, and the corpus is
    touched once (word-frequency compression)."""
    import osmgraft.contract_text  # noqa: F401

    df = QUERIES["bpe_train_merges"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" not in plan


def test_morans_i_neighbor_join_is_cell_bounded(spark):
    """Moran's I: the queen-contiguity cross-sum joins the CELL table to
    its broadcast copy; raw points appear only in the one grid
    aggregation."""
    import osmgraft.contract_cells  # noqa: F401

    df = QUERIES["morans_i_autocorrelation"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "hashpartitioning(cx" in plan
    assert "CartesianProduct" not in plan


def test_ripley_pairs_join_is_cell_keyed(spark):
    """Ripley's K: the pair join is an equi-join on ring cells — raw
    points never cross-join."""
    import osmgraft.contract_cells  # noqa: F401

    df = QUERIES["ripley_k_function"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "hashpartitioning" in plan or "BroadcastHashJoin" in plan


def test_cluster_canonicals_argmax_is_cluster_keyed(spark):
    """Canonical selection: the keep-longest argmax window is
    PARTITIONED by cluster_id, never global."""
    import osmgraft.contract_text  # noqa: F401

    df = QUERIES["cluster_canonicals"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "hashpartitioning(cluster_id" in plan
    assert "CartesianProduct" not in plan


def test_selectivity_audit_single_histogram_pass(spark):
    """Selectivity audit: the histogram build is one bucket-keyed
    partial agg; no join touches raw rows more than the two stats
    scans."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["selectivity_estimate_audit"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "hashpartitioning(bucket" in plan
    assert "CartesianProduct" not in plan


def test_partition_skew_audit_is_one_agg(spark):
    """Skew audit: one (keying, part) partial agg over the doubled rows;
    no window, no join."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["partition_skew_audit"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_dbscan_neighbor_join_is_cell_keyed(spark):
    """DBSCAN's eps-ball candidate join must be a hash equi-join on the
    (cx, cy) cell keys — never a cartesian/BNLJ over the points."""
    import osmgraft.contract_cells  # noqa: F401

    df = QUERIES["dbscan_point_clusters"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kde_heatmap_is_scan_plus_one_agg(spark):
    """KDE contributes via the 9-cell Generate — no join at all — and
    tops with TakeOrderedAndProject, never a global sort."""
    import osmgraft.contract_cells  # noqa: F401

    df = QUERIES["kde_heatmap"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Generate explode" in plan


def test_roc_auc_windows_partition_by_bucket(spark):
    """The in-bucket cumulative window must partition by the range
    bucket; the only unpartitioned window runs over the ~30-row bucket
    relation (post-agg, constant-bounded) — the distinct-value relation
    never sorts through one task."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["roc_auc_eval"](spark, SF_CORRECT)
    plan = plan_of(df)
    # the value-level window carries the bucket key in its partition spec
    assert "Window" in plan
    assert any(
        "windowspecdefinition(b#" in ln.lower()
        for ln in plan.splitlines()
    )


def test_semdedup_pair_join_is_list_keyed(spark):
    """SemDeDup's within-cluster pair join must be an equi-join on
    list_id (SortMerge/Hash), never cartesian."""
    import osmgraft.contract_text  # noqa: F401

    df = QUERIES["semdedup_prune"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_subtree_rollup_no_join(spark):
    """Closed-form ancestor enumeration: Generate + partial agg, zero
    joins, zero windows."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["subtree_rollup"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "Join" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_ols_is_single_reduction(spark):
    """OLS normal equations: one scan, one single-row aggregate — no
    shuffle of data rows (only the final 1-row exchange), no join."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["ols_multifeature"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "Join" not in plan
    assert "Window" not in plan


def test_sequence_packing_single_shard_exchange(spark):
    """One shard-keyed hash exchange; the NFD fold is post-agg in-row
    (no window, no join)."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["sequence_packing_plan"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("hashpartitioning(shard") == 1


def test_scd2_windows_share_one_user_exchange(spark):
    """Snapshot agg + LAG/version/LEAD windows all key on user_id: at
    most two user-hash exchanges (agg + window ordering re-use), no
    global window."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["scd2_dimension_build"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "SinglePartition" not in plan.replace(
        "rangepartitioning", ""
    ) or "Window" not in plan.split("SinglePartition")[0]
    assert plan.count("hashpartitioning(user_id") <= 2


def test_haversine_scan_only(spark):
    """Spherical banding is in-row math + one band agg: no join, no
    window, no Python stage."""
    import osmgraft.contract_cells  # noqa: F401

    df = QUERIES["haversine_band_counts"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "Join" not in plan
    assert "InPandas" not in plan and "EvalPython" not in plan
    assert "Window" not in plan


def test_mann_whitney_window_over_post_agg_only(spark):
    """The rank walk's (single-partition) window consumes the <=1000-row
    post-agg bin relation — a HashAggregate sits strictly between the
    scan and the Window."""
    import osmgraft.contract_web  # noqa: F401

    df = QUERIES["mann_whitney_drift"](spark, SF_CORRECT)
    plan = plan_of(df)
    win = plan.index("Window")
    agg = plan.index("HashAggregate")
    assert agg < win or plan.count("HashAggregate") >= 2


def test_bellman_ford_equi_joins_only(spark):
    """Every relaxation round is an equi-join + min partial agg: no
    cartesian, no BNLJ (the scalar n_reached broadcast excepted), no
    window, no sort before the presentation orderBy."""
    import osmgraft.contract_web  # noqa: F401

    df = QUERIES["bellman_ford_distances"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_mobility_pair_user_keyed_only(spark):
    """stay_point_episodes: every window user-keyed (no SinglePartition
    window); radius_of_gyration: no window and no join at all."""
    import osmgraft.contract_tracks  # noqa: F401

    sp = plan_of(QUERIES["stay_point_episodes"](spark, SF_CORRECT))
    assert "Window" in sp
    assert "SinglePartition, " not in sp.split("Sort")[0]
    rg = plan_of(QUERIES["radius_of_gyration"](spark, SF_CORRECT))
    assert "Window" not in rg
    assert "Join" not in rg


def test_winsorized_bounds_broadcast_back(spark):
    """The 5-row bounds relation joins back by broadcast, never a
    shuffle of the big side on event_type alone before the clamp."""
    import osmgraft.contract  # noqa: F401

    df = QUERIES["winsorized_value_stats"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mrl_probe_harness_shape(spark):
    """Probes score as one prefix-sliced GEMM per rung inside a single
    Arrow MapInPandas scan (the pq/int8 batch-scoring form — no fanned
    pair join); rank windows key on (d, qid) — never a global window."""
    import osmgraft.contract_text  # noqa: F401

    df = QUERIES["mrl_trunc_recall"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(d" in plan


# ---------------------------------------------------------------------------
# session-10 plan audits
# ---------------------------------------------------------------------------


def test_getis_ord_neighbor_join_is_cell_bounded(spark):
    """Gi*: the queen cross-sum joins the CELL relation to its broadcast
    copy; raw points aggregate onto the grid exactly once."""
    import osmgraft.contract_cells  # noqa: F401

    df = QUERIES["getis_ord_hotspots"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "hashpartitioning(cx" in plan
    assert "CartesianProduct" not in plan


def test_item_cf_pair_join_is_customer_keyed(spark):
    """Item CF: pair expansion is an equi-join on custkey (never a
    cross-join) and the final top-20 is TakeOrderedAndProject."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["item_cf_similarity"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "custkey" in plan


def test_co_movement_join_is_bucket_cell_keyed(spark):
    """Co-movement: the candidate join is equi on (bucket, cell); the
    final 50 rows come from TakeOrderedAndProject."""
    import osmgraft.contract_tracks  # noqa: F401

    df = QUERIES["co_movement_pairs"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_lpa_rounds_are_equi_joins(spark):
    """LPA: every propagation round is an equi-join + node-keyed window;
    no cartesian anywhere."""
    import osmgraft.contract_web  # noqa: F401

    df = QUERIES["lpa_communities"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_rfm_has_no_single_partition_window(spark):
    """RFM: quintiles come from the bucketed two-level rank — every
    Window in the plan is partitioned by the rank bucket and NO
    SinglePartition exchange remains (the one-row scalar MAX(orderdate)
    aggregate now lives inside the checkpointed per-customer relation,
    so the ranking plan starts from its bounded materialization)."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["rfm_segments"](spark, SF_CORRECT)
    plan = plan_of(df)
    win_lines = [
        line for line in plan.splitlines() if "windowspecdefinition" in line
    ]
    assert win_lines  # the three quintile rank windows are present
    for line in win_lines:
        # with_global_ranks names its bucket columns _rkb_<rank_col>
        assert "_rkb_" in line, line
    assert plan.count("SinglePartition") == 0


def test_mad_median_joins_are_broadcast(spark):
    """MAD: both median join-backs are broadcast-sized post-agg
    relations; the big side never shuffles for them."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["mad_outliers"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_geofence_uses_one_user_exchange(spark):
    """Geofence: the PIP flag is scan-local; both windows and both aggs
    share ONE user-keyed hash exchange."""
    import osmgraft.contract_tracks  # noqa: F401

    df = QUERIES["geofence_dwell_stats"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "CartesianProduct" not in plan


def test_lang_balance_window_is_lang_keyed(spark):
    """Balanced resample: the selection ROW_NUMBER is partitioned by
    lang; keep_n arrives via a broadcast scalar."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["lang_balance_resample"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "hashpartitioning(lang" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "lang" in line, line


def test_average_precision_has_no_global_window(spark):
    """AP: both rankings ride the bucketed two-level rank — every Window
    is partitioned by the rank bucket."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["average_precision_eval"](spark, SF_CORRECT)
    plan = plan_of(df)
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_rk_bucket" in line, line


def test_expectations_audit_is_single_scan(spark):
    """Expectations audit: all five contracts evaluate in ONE scan
    (conditional aggregate), never one pass per rule."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["expectations_audit"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1


def test_dow_anomalies_has_no_window(spark):
    """DOW-adjusted anomalies: dow stats and global moments join back
    broadcast; no window function anywhere."""
    import osmgraft.contract_web  # noqa: F401

    df = QUERIES["dow_adjusted_anomalies"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "windowspecdefinition" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_d8_argmin_window_is_cell_keyed(spark):
    """D8: the steepest-descent argmin window is partitioned by cell;
    accumulation rounds are equi-joins."""
    import osmgraft.contract_cells  # noqa: F401

    df = QUERIES["flow_accumulation_d8"](spark, SF_CORRECT)
    plan = plan_of(df)
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "cx" in line and "cy" in line, line


def test_ndcg_rankings_are_bucketed(spark):
    """nDCG: both the score ranking and the ideal ranking ride the
    two-level bucketed rank — every window is bucket-partitioned."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["ndcg_eval"](spark, SF_CORRECT)
    plan = plan_of(df)
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_rk_bucket" in line, line


def test_embedding_drift_is_partial_agg(spark):
    """Drift check: the dim fan-out aggregates map-side; half-count
    joins broadcast."""
    import osmgraft.contract_text  # noqa: F401

    df = QUERIES["embedding_drift_check"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "partial_" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_holt_fold_has_no_window_over_raw(spark):
    """Holt: the recursion is ONE in-row fold over the daily array —
    no window function anywhere in the plan."""
    import osmgraft.contract_web  # noqa: F401

    df = QUERIES["holt_linear_forecast"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "windowspecdefinition" not in plan


def test_areal_overlap_join_is_bounded(spark):
    """Areal interpolation: the zone-overlap join is a bounded range
    join on zone indexes (broadcast zones), never a cross join of the
    raw relation."""
    import osmgraft.contract_cells  # noqa: F401

    df = QUERIES["areal_interpolation"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "partial_" in plan


def test_gravity_reuses_od_window_shape(spark):
    """Gravity fit: the trip extraction is (user, day)-keyed windows
    sharing one exchange; moments are a 1-row agg."""
    import osmgraft.contract_cells  # noqa: F401

    df = QUERIES["gravity_model_od"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning(user_id") <= 2
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "user_id" in line and "day" in line, line


def test_isotonic_cubic_runs_on_post_agg_only(spark):
    """Isotonic: raw docs aggregate once; the minimax joins touch only
    the checkpointed 20-row bin relation (broadcast)."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["isotonic_calibration"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2


def test_duplicate_txn_window_includes_amount_key(spark):
    """Dup-txn: the LAG window partitions by (user, dollars) — finer
    than user-only, so heavy users cannot skew one task."""
    import osmgraft.contract_corpus  # noqa: F401

    df = QUERIES["duplicate_txn_flags"](spark, SF_CORRECT)
    plan = plan_of(df)
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "user_id" in line and "dollars" in line, line


# ---------------------------------------------------------------------------
# session-12 operator plan audits
# ---------------------------------------------------------------------------


def test_snm_window_pairs_are_hash_join(spark):
    """Sorted-neighborhood candidate pairs must come from the overlap-
    block EQUI-join (hash), never a rank-range BNLJ — the whole point
    of the block encoding."""
    import osmgraft.contract_mining  # noqa: F401

    df = QUERIES["sorted_neighborhood_pairs"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "HashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_variogram_pairs_are_cell_blocked_equi_join(spark):
    """Variogram pair generation must join on the (tx, ty) cell keys —
    an equi hash join — with the distance predicate as a residual
    filter, never the join strategy."""
    import osmgraft.contract_mining  # noqa: F401

    df = QUERIES["empirical_variogram"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "HashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_membership_is_broadcast_semi_join(spark):
    """Bloom probe membership must plan as a broadcast LeftSemi on the
    position key (the bit set is bounded by m)."""
    import osmgraft.contract_mining  # noqa: F401

    df = QUERIES["bloom_fpr_audit"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan


def test_hard_negative_pairs_equi_join_on_bucket(spark):
    """Hard-negative candidates come from the LSH-bucket equi-self-join
    — never an all-pairs product."""
    import osmgraft.contract_mining  # noqa: F401

    df = QUERIES["hard_negative_mining"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "HashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lindley_windows_are_user_keyed(spark):
    """The Lindley closed form must run its windows PARTITIONED by
    user — no single-partition global sort anywhere in the plan."""
    import osmgraft.contract_mining  # noqa: F401

    df = QUERIES["queue_wait_lindley"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "SinglePartition" not in plan


def test_peak_concurrency_sweep_is_hour_keyed(spark):
    """The +-1 sweep's running sum must be hour-partitioned (the carry
    decomposition exists precisely to avoid a global ordered window)."""
    import osmgraft.contract_mining  # noqa: F401

    df = QUERIES["peak_concurrency"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "SinglePartition" not in plan


def test_track_crossings_dedup_is_a_filter_not_a_shuffle(spark):
    """Candidate pairs must live inside the cell-cogrouped numpy kernel
    (second r04 rewrite) — the plan carries the FlatMapGroupsInPandas
    stage and no join that would materialize the pair stream as JVM
    rows, no aggregate-based distinct, no cartesian fallback. The only
    aggregates allowed are the final (user_a, user_b) rollup."""
    import osmgraft.contract_tracks  # noqa: F401

    df = QUERIES["track_crossings"](spark, SF_CORRECT)
    plan = plan_of(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # one partial+final pair for the rollup, one for the top-k ordering —
    # a distinct over the pair stream would add a third HashAggregate pair
    assert plan.count("HashAggregate") <= 4, plan


def test_pipeline_job_plans_have_no_python(spark, tmp_path):
    """The two stage plans of jobs/run_pipeline.py, composed as the job
    composes them (dedup → extract → widen, then the four candidate kinds
    and the priority union over the staged features), run no Python
    worker: no EvalPython or *InPandas node in either executed plan."""
    from osmgraft.datagen import gen_pages
    from osmgraft.datagen.spark_io import to_spark
    from osmgraft.extract.page_extract import extract_features
    from osmgraft.extract.widen import widen_features
    from osmgraft.pipeline.candidates import candidate_stage
    from osmgraft.pipeline.union import priority_dedup_union
    from osmgraft.rules.reference_rules import PRIORITY_ORDER
    from osmgraft.text.dedup import dedup_pages_keep_first

    src = str(tmp_path / "pages")
    to_spark(spark, gen_pages(200), "pages").write.parquet(src)
    widened = widen_features(
        extract_features(dedup_pages_keep_first(spark.read.parquet(src)))
    ).drop("text")
    staged = str(tmp_path / "features")
    widened.write.parquet(staged)
    features = spark.read.parquet(staged)
    final = priority_dedup_union(
        {k: candidate_stage(features, k) for k in PRIORITY_ORDER}, PRIORITY_ORDER
    )
    assert final.count() > 0
    for df in (widened, final):
        plan = plan_of(df)
        assert "EvalPython" not in plan and "InPandas" not in plan, plan
