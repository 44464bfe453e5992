"""pipeline_e2e: the shipped batch job, exactly as spark-submit runs it.

    spark-submit --master local[<cores>] --py-files osmgraft.zip \\
        jobs/run_pipeline.py --pages <parquet> --workdir <dir> --out <dir>

One shot is one job, from spark-submit to exit, with a fresh workdir (a
reused one would resume from its stage manifests).
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import common
import gen

SCALES = {"full": (2000, 3), "tiny": (150, 2)}  # (base pages, replicas)
JOB_TIMEOUT_S = 170
TILE_RES = 8  # run_pipeline.py --tile-res default
KNN_RADIUS = 120000.0  # run_pipeline.py's knn_join radius


def run(ctx) -> dict:
    n_base, replicas = SCALES[ctx.scale]
    pages = os.path.join(ctx.work, "pages")
    zip_path = os.path.join(ctx.work, "osmgraft.zip")
    sys.path.insert(0, os.path.join(ctx.root, "jobs"))
    import package

    state = {}

    def setup_round():
        package.build(zip_path)
        state["gen"], state["xy"] = gen.write_pages(pages, ctx.seed, n_base, replicas)

    # the job starts its own JVM: set-up is packaging and input generation
    rounds = common.timed_setups(setup_round, 3)
    expect = state["gen"]
    tiles_expected = _expected_tiles(state["xy"], replicas)

    canaries = [common.canary()]
    shots, peaks, results = [], [], []
    if ctx.trace:
        # one job under the span wrapper with the event log on; a second,
        # untraced job for trace.overhead_ratio would not fit the run's time
        evconf = [a for k, v in common.eventlog_conf(ctx.work).items()
                  for a in ("--conf", f"{k}={v}")]
        plan = [("t", os.path.join(ctx.work, "spans.json"))]
    else:
        evconf, plan = [], None
    attempted = failed = 0
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while True:
        tag, traced = plan[i] if plan else (str(i), None)
        dt, peak, res = _submit(ctx, zip_path, pages, tag, traced, evconf)
        attempted += 1
        problems = _check(ctx, res, expect, tiles_expected, replicas, tag) if res else ["job failed"]
        if problems:
            ctx.log(f"job {tag}: {problems}")
        failed += bool(problems)
        shots.append(dt)
        peaks.append(peak)
        results.append(res)
        i += 1
        done = i == len(plan) if plan else time.perf_counter() >= deadline
        if done:
            break
    canaries.append(common.canary())
    if len({json.dumps({k: v for k, v in r.items() if k not in ("wall_sec", "rss_peak_parts")},
                       sort_keys=True)
            for r in results if r}) > 1:
        ctx.log("jobs on the same input disagree")
        failed += 1

    out = {
        "attempted": attempted, "failed": failed,
        "artifact": {
            "why": "the shipped spark-submit job: Arrow extraction, rule scoring, "
                   "staged parquet writes and manifests; write-heavy, no PIP",
            "generator": expect, "setup_rounds_s": rounds, "shots_s": shots,
            "job_results": results, **common.canary_record(canaries),
        },
        "e2e": {"setup_s": common.median(rounds), "job_s": common.median(shots),
                "query_p50_s": common.median(shots), "peak_rss_mb": max(peaks)},
    }
    if ctx.trace and results[-1]:
        out["layers"] = _layers(ctx, canaries, attempted, failed, out["artifact"])
    return out


def _submit(ctx, zip_path, pages, i, traced: str | None, extra):
    """Run one job; return (wall s, peak RSS MB of its process tree, result).
    `traced` names a spans file: the job then runs under traced_job.py."""
    script = os.path.join(ctx.root, "jobs", "run_pipeline.py")
    job_args = ["--pages", pages, "--workdir", os.path.join(ctx.work, f"wd{i}"),
                "--out", os.path.join(ctx.work, f"out{i}")]
    entry = [script] + job_args
    if traced is not None:
        entry = [os.path.join(ctx.root, "perfbench", "traced_job.py"), traced, *entry]
    cmd = ["spark-submit", "--master", f"local[{common.cores()}]",
           "--conf", "spark.ui.enabled=false",
           "--conf", "spark.ui.showConsoleProgress=false",
           "--conf", "spark.local.dir=" + os.path.join(ctx.work, "spark-local"),
           *extra, "--py-files", zip_path, *entry]
    env = dict(os.environ)
    # the job must import osmgraft from the zip, as on a cluster
    env.pop("PYTHONPATH", None)
    log = open(os.path.join(ctx.work, f"job{i}.log"), "w")
    t0 = time.perf_counter()
    with log:
        # own process group, so a job that hangs is killed with its children
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=ctx.work, env=env, start_new_session=True)
        with common.RssSampler(proc.pid, include_root=True) as rss:
            try:
                stdout, _ = proc.communicate(timeout=JOB_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.communicate()
                stdout = ""
    dt = time.perf_counter() - t0
    lines = [ln for ln in stdout.splitlines() if ln.startswith('{"job"')]
    res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    if res is not None:
        res["rss_peak_parts"] = rss.peak_parts
    return dt, rss.peak_mb, res


def _expected_tiles(xy, replicas: int) -> dict[int, int]:
    """Hex res-8 tile -> pages, from the coordinates the generator embedded,
    through the numpy twin of the JVM hex expression."""
    from osmgraft.geo.hexgrid import cell_np

    cells, counts = np.unique(cell_np(xy[:, 0], xy[:, 1], TILE_RES), return_counts=True)
    return {int(c): int(n) * replicas for c, n in zip(cells, counts)}


def _expected_nearest(cand: pd.DataFrame) -> pd.DataFrame:
    """Brute-force nearest POI within the job's radius for each candidate."""
    from osmgraft.datagen.fixtures import gen_poi_airports

    pois = gen_poi_airports().sort_values("poi_id")
    c = cand.dropna(subset=["longitude", "latitude"])
    d = np.hypot(c["longitude"].to_numpy()[:, None] - pois["x"].to_numpy()[None, :],
                 c["latitude"].to_numpy()[:, None] - pois["y"].to_numpy()[None, :])
    best = d.argmin(axis=1)  # first minimum: ties go to the lower poi_id
    keep = d[np.arange(len(c)), best] <= KNN_RADIUS
    return pd.DataFrame({"osm_id": c["osm_id"].to_numpy()[keep],
                         "poi_id": pois["poi_id"].to_numpy()[best[keep]]})


def _check(ctx, res, expect, tiles_expected, replicas, i) -> list[str]:
    """Expectations derived from the generator, not from the engine: the
    dedup report lists exactly the re-crawled digests; the tiles equal the
    generator's coordinates binned by the numpy hex twin; candidates come
    in whole copy sets; nearest POIs equal a brute-force search over the
    candidates."""
    out = os.path.join(ctx.work, f"out{i}")
    problems = []
    dup = pq.read_table(os.path.join(out, "dedup_report"))
    if dup.num_rows != expect["expected_dup_digests"] or res["dup_digests"] != dup.num_rows:
        problems.append(f"dup_digests {dup.num_rows} != {expect['expected_dup_digests']}")
    if dup.num_rows and set(dup.column("n_dropped").to_pylist()) != {1}:
        problems.append("a re-crawled page was dropped more than once")
    tiles = pq.read_table(os.path.join(out, "tiles")).to_pydict()
    if dict(zip(tiles["hex_cell"], tiles["n_pages"])) != tiles_expected or \
            len(tiles_expected) != res["tiles"]:
        problems.append("tiles differ from the generator's coordinates")
    # copies share name and location; distinct base pages rarely do, and
    # when they do their group is still a whole number of copy sets
    cand = pq.read_table(os.path.join(out, "candidates"),
                         columns=["osm_id", "name", "latitude", "longitude"]).to_pandas()
    sets = cand.groupby(["name", "latitude", "longitude"], dropna=False).size()
    if cand.empty or len(cand) != res["candidates"] or (sets % replicas).any():
        problems.append("candidates are not whole copy sets")
    if cand["osm_id"].duplicated().any():
        problems.append("duplicate candidate osm_id")
    near = pq.read_table(os.path.join(out, "nearest_poi"), columns=["osm_id", "poi_id"])
    got = near.to_pandas().sort_values("osm_id").reset_index(drop=True)
    want = _expected_nearest(cand).sort_values("osm_id").reset_index(drop=True)
    if len(got) != res["nearest_poi"] or not got.equals(want):
        problems.append(f"nearest_poi: {len(got)} rows, brute force finds {len(want)}")
    return problems


def _layers(ctx, canaries, attempted, failed, artifact) -> dict:
    from spans import EventLog

    t = json.load(open(os.path.join(ctx.work, "spans.json")))
    ev = EventLog.latest(os.path.join(ctx.work, "eventlog"))
    job = next(s for s in t["spans"] if s["name"] == "job")
    win = (job["start"], job["end"])
    in_job = ev.job_ids(window=win)
    st, probes, counts = t["self_s"], t["probe_s"], t["counts"]
    tot = ev.task_totals(in_job)
    stages = [x for x in t["spans"] if x["name"] == "pipeline.runner.stage"]
    stage_jobs = {j for x in stages for j in ev.job_ids(window=(x["start"], x["end"]))}
    extract_rows = sum(
        ev.metric(node, "number of output rows")
        for ex in ev.executions(in_job) for node in ev.nodes(ex)
        if node["nodeName"] == "MapInPandas" and "_extract_batch" in node["simpleString"])
    wall = job["end"] - job["start"]
    artifact["trace_counts"] = counts
    probe_wall = artifact["probe_wall_s"] = {}
    for x in t["spans"]:
        if x["name"].startswith("probe."):
            probe_wall[x["name"]] = probe_wall.get(x["name"], 0.0) + x["end"] - x["start"]
    return {
        "session.start_s": st.get("session.start", 0.0),
        "text.dedup.self_s": probes["text.dedup"],
        "text.dedup.shuffle_bytes": ev.task_totals(
            ev.job_ids(groups={"probe.text.dedup"}))["shuffle_write"],
        "extract.page_extract.self_s": probes["extract.page_extract"],
        "extract.page_extract.passes": extract_rows / counts["pages_after_dedup"],
        "extract.widen.self_s": probes["extract.widen"],
        "pipeline.candidates.self_s": probes["pipeline.candidates"],
        "pipeline.candidates.selectivity": counts["candidate_rows_out"] / counts["candidate_rows_in"],
        "pipeline.union.self_s": probes["pipeline.union"],
        "pipeline.runner.stage_s": sum(x["end"] - x["start"] for x in stages),
        "pipeline.runner.bytes_written": ev.task_totals(stage_jobs)["bytes_written"],
        "pipeline.runner.jobs": len(stage_jobs),
        "geo.hexgrid.tiles_s": probes["geo.hexgrid.tiles"],
        "geo.knn.self_s": probes["geo.knn"],
        "spark.driver_only_s": wall - ev.busy_seconds(in_job, win),
        "spark.task_s": tot["run_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.spill_bytes": tot["spill"],
        "spark.failed_tasks": tot["failed"],
        # the job's wall over the same wall less the tracer's bookkeeping
        "trace.overhead_ratio": wall / (wall - t["job_overhead_s"]),
        "trace.span_coverage": 1.0 - st.get("job", 0.0) / wall,
        "host.canary_s": common.median(canaries),
        "error_rate": failed / attempted,
    }
