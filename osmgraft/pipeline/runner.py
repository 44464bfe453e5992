"""Staged pipeline runner: checkpoint-resumable, with per-partition lineage.

The reference restarts whole stages by DROP/CREATE of staging tables
(07_pipeline_*.sh STEP 3). Here every stage writes to a stage directory with
a JSON **manifest** recording per-partition row counts and the stage's input
fingerprint; a re-run skips stages whose manifest is valid (idempotent
overwrite-by-stage — SURVEY.md §7.3 item 10, north rule "resumable from
checkpoint with per-partition lineage + metrics").

The shipped job (jobs/run_pipeline.py) runs two stages: `features` (dedup →
extraction → widen, staged once so every consumer reads parquet) and
`final_union` (the four candidate kinds scored and priority-deduped in one
plan).

The workdir is a URI string (`/local/dir`, `file:///…`, `s3a://…`, `hdfs://…`):
the parquet goes through Spark and the manifests through the Hadoop
`FileSystem` of the same URI, so both land in the same place.

Storage is pluggable: Iceberg when a catalog is configured (snapshots give
the same resume semantics), plain parquet staging dirs otherwise (this
sandbox has no Iceberg runtime jar).
"""

from __future__ import annotations

import hashlib
import json
import time

from pyspark.sql import DataFrame, SparkSession

from osmgraft.pipeline.candidates import candidate_sql, candidate_stage
from osmgraft.pipeline.union import assert_final_invariants, priority_dedup_union
from osmgraft.rules.reference_rules import PRIORITY_ORDER

MANIFEST = "_manifest.json"


def input_fingerprint(df: DataFrame) -> str:
    """sha256 of the sorted input file listing of `df`: a rewritten input
    gets new part-file names, so its stages recompute; an in-memory frame
    lists no files and gets a constant fingerprint."""
    return hashlib.sha256(json.dumps(sorted(df.inputFiles())).encode()).hexdigest()


class StageRunner:
    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = str(workdir).rstrip("/")
        jvm = spark.sparkContext._jvm
        self._path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._path(self.workdir).getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        self.metrics: dict[str, dict] = {}

    def _stage_dir(self, name: str) -> str:
        return f"{self.workdir}/stage={name}"

    def _read_manifest(self, name: str) -> dict | None:
        path = self._path(f"{self._stage_dir(name)}/{MANIFEST}")
        if not self._fs.exists(path):
            return None
        stream = self._fs.open(path)
        try:
            raw = stream.readAllBytes()
        finally:
            stream.close()
        try:
            return json.loads(raw)
        except ValueError:
            return None

    def _write_manifest(self, name: str, manifest: dict) -> None:
        stream = self._fs.create(self._path(f"{self._stage_dir(name)}/{MANIFEST}"), True)
        try:
            stream.write(json.dumps(manifest, indent=1).encode())
        finally:
            stream.close()

    def run_stage(self, name: str, df_fn, fingerprint: str) -> DataFrame:
        """Materialize stage `name` (or reuse the checkpoint if valid)."""
        data = f"{self._stage_dir(name)}/data"
        m = self._read_manifest(name)
        if m and m.get("fingerprint") == fingerprint and m.get("status") == "ok":
            self.metrics[name] = m
            return self.spark.read.parquet(data)
        t0 = time.time()
        df = df_fn()
        df.write.mode("overwrite").parquet(data)
        out = self.spark.read.parquet(data)
        # single source of per-partition lineage (round-2 dedup: the
        # runner previously re-implemented this collector)
        from osmgraft.runtime.metrics import collect_stage_metrics

        lineage = collect_stage_metrics(out)["partitions"]
        manifest = {
            "stage": name,
            "status": "ok",
            "fingerprint": fingerprint,
            "rows": sum(p["rows"] for p in lineage),
            "partitions": lineage,
            "wall_clock_sec": round(time.time() - t0, 3),
        }
        self._write_manifest(name, manifest)
        self.metrics[name] = manifest
        return out


def run_reference_pipeline(
    spark: SparkSession,
    features: DataFrame,
    workdir: str,
    validate: bool = True,
) -> DataFrame:
    """The flagship end-to-end job: 4 candidate kinds → dedup-union → final,
    as one stage, `final_union`.

    Mirrors 07_run_all_pipelines.sh but as one resumable Spark application:
    the four `candidate_stage` plans and the priority window fuse into one
    write. The resume fingerprint hashes `input_fingerprint(features)` with
    the four kinds' rule SQL (`candidate_sql`), so an edited rule recomputes.
    """
    rules = json.dumps([candidate_sql(k) for k in PRIORITY_ORDER])
    fingerprint = hashlib.sha256((input_fingerprint(features) + rules).encode()).hexdigest()
    runner = StageRunner(spark, workdir)
    final = runner.run_stage(
        "final_union",
        lambda: priority_dedup_union(
            {k: candidate_stage(features, k) for k in PRIORITY_ORDER}, PRIORITY_ORDER
        ),
        fingerprint,
    )
    if validate:
        assert_final_invariants(final)
    return final
