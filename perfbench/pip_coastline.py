"""pip_coastline: broadcast PIP join over an irregular tiling, cell rollup.

One shot: scan the points parquet → pip_join(how="left") against the
prebuilt PipIndex → with_cell at res 7 → (boundary_id, cell) count,
collected to the driver.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np

import common
import gen
import registry_interactive

SCALES = {"full": 1_000_000, "tiny": 200_000}
RES = 7
SAMPLE_ROWS = 20_000  # Bernoulli sample re-checked on the driver
WARMUP_SHOTS = 2
SETUP_ROUNDS = 3


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from osmgraft.geo import cells as cells_mod
    from osmgraft.geo import pip as pip_mod
    from osmgraft.geo.cells import GridSpec

    n_points = SCALES[ctx.scale]
    points_path = os.path.join(ctx.work, "points")
    spec = GridSpec()
    tracer = ctx.tracer

    with common.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = common.start_spark(ctx.work, ctx.trace, "perfbench-pip")
        session_s = time.perf_counter() - t0
        bpdf = gen.boundaries_pdf(ctx.seed)
        if tracer:
            tracer.wrap(pip_mod.PipIndex, "build", "geo.pip.index_build")
        state = {}

        def setup_round():
            # the shots read the first round's points and index; later rounds
            # (repeated for a median) write elsewhere, so no shot's file
            # listing goes stale
            path = points_path + (f".round{len(rounds)}" if rounds else "")
            bounds = spark.createDataFrame(
                [(int(b), bytearray(w)) for b, w in zip(bpdf.boundary_id, bpdf.polygon_wkb)],
                "boundary_id long, polygon_wkb binary",
            )
            state["gen"] = gen.write_points(spark, path, ctx.seed, n_points)
            index = pip_mod.PipIndex.build(bounds, res=RES, spec=spec)
            state.setdefault("index", index)

        rounds = []
        rounds += common.timed_setups(setup_round, 1)
        index = state["index"]

        def shot(traced: bool):
            def sp(name):
                return tracer.span(name) if traced else nullcontext()

            if traced:
                tracer.lazy.clear()  # probe only the last traced shot
                tracer.wrap(pip_mod, "pip_join", "geo.pip", lazy=True)
                tracer.wrap(cells_mod, "with_cell", "geo.cells", lazy=True)
            try:
                with sp("op"):
                    with sp("scan.points"):
                        pts = spark.read.parquet(points_path)
                    assigned = pip_mod.pip_join(pts, how="left", index=index)
                    celled = cells_mod.with_cell(assigned, "x", "y", spec, RES,
                                                 out="cell", keep_ixy=False)
                    with sp("agg.rollup"):
                        rollup = celled.groupBy("boundary_id", "cell").agg(
                            F.count("*").alias("n"))
                    with sp("op.collect"):
                        rows = rollup.collect()
                if traced:
                    tracer.lazy["scan.points"].append((pts, []))
                    tracer.lazy["agg.rollup"].append((rollup, [celled]))
            finally:
                if traced:
                    tracer.unwrap_all()
            return rows

        warm_shots = common.timed_setups(lambda: shot(False), WARMUP_SHOTS)
        warm_s = sum(warm_shots)  # codegen, broadcast, Python workers, JIT

        shots, traced_shots, canaries = [], [], [common.canary()]
        attempted = failed = 0
        first = None
        # the measured time is split into windows with the other set-up
        # rounds between them: spread over the run, one burst of host
        # contention does not decide the median
        window, windows = 0, SETUP_ROUNDS
        deadline = time.perf_counter() + ctx.seconds / windows
        while True:
            if time.perf_counter() >= deadline and window < windows - 1:
                rounds += common.timed_setups(setup_round, 1)
                window += 1
                deadline = time.perf_counter() + ctx.seconds / windows
            traced = bool(tracer) and len(shots) > len(traced_shots)
            t0 = time.perf_counter()
            try:
                rows = shot(traced)
                dt = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 - count it, keep measuring
                ctx.log(f"shot failed: {exc!r}")
                rows, dt = None, None
            attempted += 1
            ok = rows is not None and _check_rollup(rows, n_points)
            if ok:
                key = sorted((r[0] if r[0] is not None else -1, r[1], r[2]) for r in rows)
                first = first or key
                ok = key == first
            failed += not ok
            if dt is not None:
                (traced_shots if traced else shots).append(dt)
            if (time.perf_counter() >= deadline and window == windows - 1 and shots
                    and (traced_shots or not tracer)):
                break
        peak_mb = rss.peak_mb
        setup_s = session_s + common.median(rounds) + warm_s
        canaries.append(common.canary())

    # sampled correctness, outside every timed region
    checked, mismatch = _sample_check(spark, pip_mod, points_path, index, ctx.seed, n_points)
    attempted += 1
    failed += mismatch > 0
    boundary_frac = index.cellmap.agg(
        F.avg(F.col("_cell_boundary").cast("double"))).head()[0]

    artifact = {
        "why": "PIP join over wavy shared edges: scan, cell map join and the "
               "boundary-sliver ray cast that the straight-edged flagship never runs",
        "generator": {**state["gen"], "boundaries": len(bpdf),
                      "boundary_cell_frac": boundary_frac},
        "setup_rounds_s": rounds, "session_start_s": session_s, "warmup_shots_s": warm_shots,
        "shots_s": shots, "traced_shots_s": traced_shots,
        "rss_peak_parts": rss.peak_parts,
        **common.canary_record(canaries),
        "sample_checked": checked, "sample_mismatch": mismatch,
    }
    out = {
        "attempted": attempted, "failed": failed, "artifact": artifact,
        "e2e": {"setup_s": setup_s, "job_s": common.median(shots),
                "query_p50_s": common.median(shots), "peak_rss_mb": peak_mb},
    }
    if tracer:
        # the registry mix rides on the traced run only (see registry_interactive)
        mix = registry_interactive.trace_mix(ctx, spark, tracer)
        out["attempted"] += mix.attempted
        out["failed"] += mix.failed
        artifact["registry_failures"] = mix.failures
        out["layers"] = _layers(ctx, spark, tracer, pip_mod, index, points_path,
                                shots, traced_shots, session_s, boundary_frac,
                                canaries, out["attempted"], out["failed"])
    spark.stop()
    return out


def _check_rollup(rows, n_points: int) -> bool:
    return sum(r["n"] for r in rows) == n_points and all(r["n"] > 0 for r in rows)


def _sample_check(spark, pip_mod, points_path, index, seed, n_points):
    """Re-assign a seeded Bernoulli sample of the joined rows on the driver
    with a brute-force STRtree.contains over all rings (no cell map) and
    count disagreements. With n checked rows, an error rate above 3/n is
    missed with probability below 5 %."""
    frac = min(1.0, SAMPLE_ROWS / n_points)
    joined = pip_mod.pip_join(spark.read.parquet(points_path), how="left", index=index)
    pdf = joined.sample(False, frac, seed).select("x", "y", "boundary_id").toPandas()
    x, y = pdf["x"].to_numpy(float), pdf["y"].to_numpy(float)
    pi, ri = pip_mod.STRtree(index.tree.rings).contains(x, y)
    expect = np.full(len(pdf), -1, dtype=np.int64)
    expect[pi[::-1]] = index.ids[ri[::-1]]  # first containing ring wins
    got = pdf["boundary_id"].fillna(-1).to_numpy(np.int64)
    return int(len(pdf)), int((expect != got).sum())


def _layers(ctx, spark, tracer, pip_mod, index, points_path, shots, traced_shots,
            session_s, boundary_frac, canaries, attempted, failed) -> dict:
    from spans import EventLog

    # interior-only twin of the index: every point takes its cell-centre
    # owner through the JVM broadcast join, no sliver branch
    interior = pip_mod.PipIndex(spark, index.tree, index.ids, index.spec, index.res,
                                index.cellmap, any_boundary_cells=False)
    pts = spark.read.parquet(points_path)
    tracer.lazy["geo.pip.interior"].append(
        (pip_mod.pip_join(pts, how="left", index=interior), [pts]))
    probes = tracer.probe_self_times()
    pip_full = probes["geo.pip"]
    interior_s = probes["geo.pip.interior"]
    n_traced = len(traced_shots)
    op_spans = [s for s in tracer.spans if s["name"] == "op"]
    spark.stop()  # flushes the event log
    ev = EventLog.latest(os.path.join(ctx.work, "eventlog"))
    op_jobs = [j for s in op_spans for j in ev.job_ids(window=(s["start"], s["end"]))]
    tot = ev.task_totals(op_jobs)
    sliver_rows = file_scans = 0.0
    for ex in ev.executions(op_jobs):
        for node in ev.nodes(ex):
            if node["nodeName"] == "MapInPandas" and "assign(" in node["simpleString"]:
                sliver_rows += ev.metric(node, "number of output rows")
            if node["nodeName"].startswith("Scan parquet") and points_path in node["simpleString"]:
                file_scans += 1
    driver_only = sum(
        (s["end"] - s["start"]) - ev.busy_seconds(ev.job_ids(window=(s["start"], s["end"])),
                                                  (s["start"], s["end"]))
        for s in op_spans)
    st = tracer.self_times()
    registry = registry_interactive.layers(tracer, ev)
    op_wall = sum(s["end"] - s["start"] for s in op_spans)
    builds = tracer.durations("geo.pip.index_build")
    return {
        "session.start_s": session_s,
        "geo.pip.index_build_s": common.median(builds),
        "geo.pip.boundary_cell_frac": boundary_frac,
        "geo.pip.sliver_rows": sliver_rows / n_traced,
        "geo.pip.sliver_s": max(0.0, pip_full - interior_s),
        "geo.pip.interior_s": interior_s,
        "geo.cells.self_s": probes["geo.cells"],
        "scan.points_s": probes["scan.points"],
        "scan.file_scans": file_scans / n_traced,
        "agg.rollup_s": probes["agg.rollup"],
        "agg.shuffle_bytes": tot["shuffle_write"] / n_traced,
        "spark.driver_only_s": driver_only / n_traced,
        "spark.task_s": tot["run_s"] / n_traced,
        "spark.gc_s": tot["gc_s"] / n_traced,
        "spark.spill_bytes": tot["spill"] / n_traced,
        "spark.failed_tasks": tot["failed"],
        "trace.overhead_ratio": common.median(traced_shots) / common.median(shots),
        "trace.span_coverage": 1.0 - st.get("op", 0.0) / op_wall,
        "host.canary_s": common.median(canaries),
        "error_rate": failed / attempted,
        **registry,
    }
