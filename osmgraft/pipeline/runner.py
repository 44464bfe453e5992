"""Staged pipeline runner: checkpoint-resumable, with per-partition lineage.

The reference restarts whole stages by DROP/CREATE of staging tables
(07_pipeline_*.sh STEP 3). Here every stage writes to a stage directory with
a JSON **manifest** recording per-partition row counts and the stage's input
fingerprint; a re-run skips stages whose manifest is valid (idempotent
overwrite-by-stage — SURVEY.md §7.3 item 10, north rule "resumable from
checkpoint with per-partition lineage + metrics").

Storage is pluggable: Iceberg when a catalog is configured (snapshots give
the same resume semantics), plain parquet staging dirs otherwise (this
sandbox has no Iceberg runtime jar).
"""

from __future__ import annotations

import hashlib
import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmgraft.pipeline.candidates import candidate_stage
from osmgraft.pipeline.union import assert_final_invariants, priority_dedup_union
from osmgraft.rules.reference_rules import PRIORITY_ORDER

MANIFEST = "_manifest.json"


class StageRunner:
    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = Path(workdir)
        self.workdir.mkdir(parents=True, exist_ok=True)
        self.metrics: dict[str, dict] = {}

    def _stage_dir(self, name: str) -> Path:
        return self.workdir / f"stage={name}"

    def is_complete(self, name: str, fingerprint: str) -> bool:
        mf = self._stage_dir(name) / MANIFEST
        if not mf.exists():
            return False
        try:
            m = json.loads(mf.read_text())
        except json.JSONDecodeError:
            return False
        return m.get("fingerprint") == fingerprint and m.get("status") == "ok"

    def run_stage(self, name: str, df_fn, fingerprint: str) -> DataFrame:
        """Materialize stage `name` (or reuse the checkpoint if valid)."""
        sdir = self._stage_dir(name)
        if self.is_complete(name, fingerprint):
            self.metrics[name] = json.loads((sdir / MANIFEST).read_text())
            return self.spark.read.parquet(str(sdir / "data"))
        t0 = time.time()
        df = df_fn()
        df.write.mode("overwrite").parquet(str(sdir / "data"))
        out = self.spark.read.parquet(str(sdir / "data"))
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
        (sdir / MANIFEST).write_text(json.dumps(manifest, indent=1))
        self.metrics[name] = manifest
        return out


def run_reference_pipeline(
    spark: SparkSession,
    features: DataFrame,
    workdir: str,
    validate: bool = True,
) -> DataFrame:
    """The flagship end-to-end job: 4 candidate stages → dedup-union → final.

    Mirrors 07_run_all_pipelines.sh but as one resumable Spark application.
    The resume fingerprint is the sha256 of the sorted input file listing of
    ``features``: a rewritten input gets new part-file names, so its stages
    recompute; an in-memory frame lists no files and gets a constant one.
    """
    fingerprint = hashlib.sha256(
        json.dumps(sorted(features.inputFiles())).encode()
    ).hexdigest()
    runner = StageRunner(spark, workdir)
    staged = {
        kind: runner.run_stage(
            f"candidates_{kind}",
            lambda k=kind: candidate_stage(features, k),
            fingerprint,
        )
        for kind in PRIORITY_ORDER
    }
    final = runner.run_stage(
        "final_union",
        lambda: priority_dedup_union(staged, PRIORITY_ORDER),
        fingerprint,
    )
    if validate:
        assert_final_invariants(final)
    return final
