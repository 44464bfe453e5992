"""Structured Streaming ingest of Common-Crawl-style pages.

The reference is batch-only (SURVEY.md §2.10) — its only stream-shaped code
is a bounded stdin sampler. This module is the engine's forward-looking
ingest path: pages arrive as parquet files, flow through the SAME extraction
and scoring plans as batch (plan reuse — DataFrame transformations are
agnostic to batch vs streaming), with event-time watermarks on `warc_ts` for
late data. Tests drive it with Trigger.AvailableNow and assert streaming
results equal the batch plan on identical input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmgraft.datagen.spark_io import PAGES_SCHEMA
from osmgraft.extract import extract_features
from osmgraft.geo.cells import GridSpec, with_cell
from osmgraft.rules.compiler import RuleSet
from osmgraft.rules.sqlgen import score_sql


def read_pages_stream(spark: SparkSession, path: str, max_files: int = 16) -> DataFrame:
    """File-source stream of pages parquet (one new file = one micro-batch
    unit; maxFilesPerTrigger bounds batch size for stable latency)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def streaming_tile_counts(
    pages: DataFrame,
    spec: GridSpec,
    res: int,
    watermark: str = "1 hour",
    window: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """Windowed per-cell page counts with late-data watermark.

    extraction (JVM projection) → cell assignment (JVM) → event-time
    window aggregate. ``slide=None`` gives tumbling windows; pass a slide
    shorter than ``window`` for overlapping (hopping) windows — each row
    expands to window/slide window instances before the stateful
    aggregation, exactly as in the batch twin (`sliding_window_counts`).
    Output mode: append/update per sink choice.
    """
    feats = extract_features(pages)
    cells = with_cell(
        feats.where(F.col("x").isNotNull()), "x", "y", spec, res,
        out="cell", keep_ixy=False,
    )
    win = (
        F.window("warc_ts", window)
        if slide is None
        else F.window("warc_ts", window, slide)
    )
    return (
        cells.withWatermark("warc_ts", watermark)
        .groupBy(win.alias("win"), F.col("cell"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            "cell",
            "n",
        )
    )


def streaming_scored_counts(
    pages: DataFrame,
    scorer: RuleSet,
    threshold: int = 40,
    watermark: str = "1 hour",
    window: str = "1 hour",
) -> DataFrame:
    """Rule-scored candidate counts per window — the streaming face of the
    batch scoring pipeline (same emitted rule SQL)."""
    feats = extract_features(pages)
    scored = feats.withColumn("score", F.expr(score_sql(scorer, dialect="spark")))
    return (
        scored.where(F.col("score") >= threshold)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"))
        .agg(F.count("*").alias("n_candidates"))
        .select(F.col("win.start").alias("window_start"), "n_candidates")
    )


def run_available_now(stream_df: DataFrame, query_name: str, checkpoint: str):
    """Drain everything currently available into a memory sink (test/dev)."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_hex_tile_counts(
    pages: DataFrame,
    res: int,
    watermark: str = "1 hour",
    window: str = "1 hour",
) -> DataFrame:
    """Windowed per-hex-cell page counts (H3-style tiles) with late-data
    watermark — identical plan shape to streaming_tile_counts; the hex
    assignment is a pure JVM expression so it is streaming-safe with no
    extra state."""
    from osmgraft.geo.hexgrid import hex_cell_sql

    feats = extract_features(pages)
    cells = feats.where(F.col("x").isNotNull()).withColumn(
        "hex_cell", F.expr(hex_cell_sql("x", "y", res))
    )
    return (
        cells.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), F.col("hex_cell"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("window_start"), "hex_cell", "n")
    )


def streaming_dedup_pages(
    pages: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exactly-once URL dedup: dropDuplicatesWithinWatermark
    keeps state only for the watermark horizon, so the dedup state is
    bounded (a plain dropDuplicates on an unbounded stream grows state
    forever — the 10^12-page killer). Re-crawls of a url inside the
    horizon are suppressed; the batch exact-dedup stage remains the
    cross-horizon guarantee."""
    return pages.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )


def incremental_tile_counts(
    pages_stream: DataFrame,
    spec: GridSpec,
    res: int,
    out_dir: str,
    checkpoint: str,
    query_name: str = "tiles_incremental",
):
    """Incremental materialized tile rollup via foreachBatch — IDEMPOTENT
    under foreachBatch's at-least-once replay: each micro-batch writes its
    per-cell DELTA to a `batch_id=N` partition (overwrite of that
    partition only), so a replayed batch rewrites its own partition
    instead of double-adding into a running total. Totals are the sum of
    deltas (`read_tile_totals` — cheap: deltas are already aggregated).
    With an Iceberg catalog the same hook becomes an atomic MERGE INTO.
    Stream-side state stays zero — history lives in the table."""
    from pyspark.sql import functions as F

    from osmgraft.extract import extract_features
    from osmgraft.geo.cells import with_cell

    feats = extract_features(pages_stream)
    cells = with_cell(
        feats.where(F.col("x").isNotNull()), "x", "y", spec, res,
        out="cell", keep_ixy=False,
    ).select("cell")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.groupBy("cell").agg(F.count("*").alias("n"))
        # replay of batch N overwrites batch N's partition — idempotent
        delta.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return (
        cells.writeStream.foreachBatch(merge_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_tile_totals(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current totals of an incremental_tile_counts table: sum the
    per-batch delta partitions (each already cell-aggregated)."""
    from pyspark.sql import functions as F

    return (
        spark.read.option("basePath", out_dir).parquet(f"{out_dir}/batch_id=*")
        .groupBy("cell")
        .agg(F.sum("n").alias("n"))
    )
