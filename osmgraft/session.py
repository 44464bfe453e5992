"""SparkSession factory tuned for the engine.

Scale posture (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  replaces hand-tuned partition counts when real data sizes diverge from
  estimates (SURVEY.md §4 "Skew handling").
- Arrow enabled: every Python-side operator in this engine is a vectorized
  pandas/Arrow UDF (BASELINE.json input_hint: "no per-row Python").
- shuffle.partitions defaults to a small-multiple of local cores for the
  sandbox; on a real cluster leave it to AQE
  (spark.sql.adaptive.coalescePartitions.initialPartitionNum).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(
    app_name: str = "osmgraft",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # when the session has a checkpoint dir, every materialization
        # cut (runtime/cut.py) writes its relation there; without this
        # Spark never deletes the checkpoint files and a multi-query
        # session grows the checkpoint dir monotonically
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Spark otherwise replaces `${…}` in every SQL text it parses,
        # string literals included (`'${spark.app.name}'` reads the app
        # name, an unknown `'${x}'` reads '')
        .config("spark.sql.variable.substitute", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
