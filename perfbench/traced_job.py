"""Run jobs/run_pipeline.py under spark-submit with benchmark spans.

    spark-submit ... perfbench/traced_job.py <out.json> jobs/run_pipeline.py <job args>

Patches the public functions the job calls with span wrappers (see
spans.py), runs the job's script unchanged, then probes the lazy layers
and writes spans, self times, probe times, row counts and the tracer's
own bookkeeping time inside the job to <out.json>.
"""

from __future__ import annotations

import json
import os
import runpy
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer  # noqa: E402


def main() -> None:
    out_path, script, *job_args = sys.argv[1:]

    from pyspark.sql import DataFrameWriter, SparkSession

    tracer = Tracer()
    write_parquet = DataFrameWriter.parquet
    get_or_create = SparkSession.Builder.getOrCreate

    def traced_parquet(writer, path, *a, **k):
        leaf = path.rstrip("/").rsplit("/", 1)[-1]
        if leaf == "tiles":  # the job's tile rollup, built inline in main()
            widened = tracer.lazy["extract.widen"][-1][0]
            tracer.lazy["geo.hexgrid.tiles"].append((writer._df, [widened]))
        with tracer.span(f"io.write.{leaf}"):
            return write_parquet(writer, path, *a, **k)

    def traced_get_or_create(builder):
        with tracer.span("session.start"):
            spark = get_or_create(builder)
        # osmgraft modules build pandas UDFs at import, so they are
        # imported (and wrapped) once a session exists
        if not tracer._patched:
            _wrap_layers(tracer)
        return spark

    SparkSession.Builder.getOrCreate = traced_get_or_create
    DataFrameWriter.parquet = traced_parquet

    # the job ends with spark.stop(); keep the session for the probes
    stop = SparkSession.stop
    SparkSession.stop = lambda self: None
    sys.argv = [script, *job_args]
    t0 = time.time()
    with tracer.span("job"):
        runpy.run_path(script, run_name="__main__")
    wall = time.time() - t0
    job_overhead = tracer.overhead_s
    tracer.unwrap_all()
    DataFrameWriter.parquet = write_parquet
    SparkSession.Builder.getOrCreate = get_or_create
    record = {
        "job_wall_s": wall,
        "job_overhead_s": job_overhead,
        "spans": tracer.spans,
        "self_s": tracer.self_times(),
        "probe_s": tracer.probe_self_times(),
        "counts": _counts(tracer),
    }
    with open(out_path, "w") as fh:
        json.dump(record, fh)
    SparkSession.stop = stop
    SparkSession.getActiveSession().stop()


def _wrap_layers(tracer) -> None:
    import osmgraft.extract.page_extract as page_extract
    import osmgraft.extract.widen as widen
    import osmgraft.geo.knn as knn
    import osmgraft.pipeline.runner as runner
    import osmgraft.text.dedup as dedup

    tracer.wrap(dedup, "dedup_pages_keep_first", "text.dedup", lazy=True)
    tracer.wrap(page_extract, "extract_features", "extract.page_extract", lazy=True)
    tracer.wrap(widen, "widen_features", "extract.widen", lazy=True)
    tracer.wrap(runner, "run_reference_pipeline", "pipeline.runner")
    tracer.wrap(runner.StageRunner, "run_stage", "pipeline.runner.stage")
    tracer.wrap(runner, "candidate_stage", "pipeline.candidates", lazy=True)
    tracer.wrap(runner, "priority_dedup_union", "pipeline.union", lazy=True)
    tracer.wrap(runner, "assert_final_invariants", "pipeline.invariants")
    tracer.wrap(knn, "knn_join", "geo.knn", lazy=True)


def _counts(tracer) -> dict:
    with tracer.span("probe.counts"):
        deduped = tracer.lazy["text.dedup"][-1][0]
        cands = tracer.lazy["pipeline.candidates"]
        return {
            "pages_after_dedup": deduped.count(),
            "candidate_rows_in": sum(ins[0].count() for _, ins in cands),
            "candidate_rows_out": sum(df.count() for df, _ in cands),
        }


if __name__ == "__main__":
    main()
