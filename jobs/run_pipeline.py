#!/usr/bin/env python
"""spark-submit entry point: the flagship candidate pipeline as a cluster job.

    spark-submit [--master ...] --py-files dist/osmgraft.zip \
        jobs/run_pipeline.py --pages <pages.parquet> --workdir <dir> \
        --out <dir> [--tile-res 8]

Runs two stages, each checkpointed to --workdir with a per-partition
lineage manifest (resume by re-running with the same --workdir):
- `features`: pages → exact text dedup → text→feature extraction → widen
  (page geometry as coordinate arrays), staged once, so the candidates, the
  tile rollup and the diagnostics all read parquet and extraction runs once;
- `final_union`: the 4 candidate kinds (filter → score → classify,
  reference 07_run_all_pipelines.sh) → priority dedup-union → final
  candidates, in one plan.
Then the hex res-`tile_res` tile rollup of all extracted points and the
nearest-POI lookup per candidate. The `features` fingerprint is derived
from the --pages file listing (or the --n-synthetic size) and
`final_union`'s from the staged feature files, so a rewritten --pages
input recomputes every stage. Every step is JVM SQL: the job starts no
Python worker. Imports only from the shipped zip — no repo-path
assumptions beyond this file.

If --pages is omitted, a deterministic synthetic pages table is generated
(driver smoke / sandbox mode; no external data).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", default=None, help="parquet path of pages table")
    ap.add_argument("--workdir", required=True, help="checkpoint/lineage dir")
    ap.add_argument("--out", required=True, help="output dir (parquet)")
    ap.add_argument("--tile-res", type=int, default=8, help="hex tile resolution")
    ap.add_argument("--n-synthetic", type=int, default=2000)
    ap.add_argument(
        "--diagnostics",
        action="store_true",
        help="write diagnose_pipeline.sql-style checks to <out>/diagnostics.json",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("osmgraft-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from osmgraft.extract.page_extract import extract_features
    from osmgraft.extract.widen import widen_features
    from osmgraft.geo import hexgrid as hg
    from osmgraft.pipeline.runner import (
        StageRunner,
        input_fingerprint,
        run_reference_pipeline,
    )

    t0 = time.time()
    if args.pages:
        pages = spark.read.parquet(args.pages)
        pages_fingerprint = input_fingerprint(pages)
    else:
        from osmgraft.datagen.fixtures import gen_pages
        from osmgraft.datagen.spark_io import to_spark

        pages = to_spark(spark, gen_pages(args.n_synthetic), "pages")
        # in memory, no files to list: gen_pages is deterministic, so its
        # size identifies the input
        pages_fingerprint = f"synthetic:{args.n_synthetic}"

    # training-data hygiene stage: exact text dedup BEFORE extraction —
    # duplicate pages never pay the extraction cost; the dedup
    # report builds from a slim (url, digest) projection and the keeper
    # selection is row-level (dedup_pages_keep_first), so text moves at
    # most once and a re-crawled url keeps exactly one copy.
    digest = F.md5(F.lower(F.trim(F.col("text"))))
    slim = pages.select("url", digest.alias("text_digest"))
    # report from the slim projection only (url + 16-byte digest shuffle).
    # NULL-text rows have a NULL digest and are never duplicates of each
    # other — exclude them from the report and keep them all.
    dedup_report = (
        slim.where(F.col("text_digest").isNotNull())
        .groupBy("text_digest")
        .agg(F.count("*").alias("n_pages"))
        .withColumn("n_dropped", F.col("n_pages") - 1)
        .where(F.col("n_dropped") > 0)
    )
    dedup_report.write.mode("overwrite").parquet(f"{args.out}/dedup_report")
    # keeper selection needs ROW identity, which an url anti-join cannot
    # provide when the duplicate IS a re-crawl of the same url
    from osmgraft.text.dedup import dedup_pages_keep_first

    # no consumer reads the page text past extraction: the staged features
    # keep everything else
    widened = widen_features(extract_features(dedup_pages_keep_first(pages))).drop("text")
    features = StageRunner(spark, args.workdir).run_stage(
        "features", lambda: widened, pages_fingerprint
    )
    if args.diagnostics:
        import os

        from osmgraft.pipeline.diagnostics import run_diagnostics

        diag = run_diagnostics(features)
        os.makedirs(args.out, exist_ok=True)  # local paths; object stores no-op upstream
        with open(f"{args.out}/diagnostics.json", "w") as fh:
            json.dump(diag, fh, indent=1)
    final = run_reference_pipeline(spark, features, workdir=args.workdir)
    final.write.mode("overwrite").parquet(f"{args.out}/candidates")

    points = features.where(F.col("x").isNotNull() & F.col("y").isNotNull())
    tiles = (
        points.withColumn("hex_cell", F.expr(hg.hex_cell_sql("x", "y", args.tile_res)))
        .groupBy("hex_cell")
        .agg(F.count("*").alias("n_pages"))
    )
    tiles.write.mode("overwrite").parquet(f"{args.out}/tiles")

    # nearest-POI lookup per candidate (north-star "cell-partitioned kNN"):
    # candidates carry planar coords as (longitude, latitude) = (x, y)
    from osmgraft.datagen.fixtures import gen_poi_airports
    from osmgraft.datagen.spark_io import POI_SCHEMA
    from osmgraft.geo.cells import GridSpec
    from osmgraft.geo.knn import knn_join

    # a LocalRelation (Arrow path): no Python workers just to parallelize 12 rows
    pois = spark.createDataFrame(gen_poi_airports()[POI_SCHEMA.fieldNames()], POI_SCHEMA)
    cand_pts = final.where(F.col("longitude").isNotNull()).select(
        "osm_id",
        F.col("longitude").alias("x"),
        F.col("latitude").alias("y"),
    )
    nearest = knn_join(
        cand_pts, pois, GridSpec(), res=5, k=1, radius=120000.0,
        point_key="osm_id", poi_key="poi_id",
    )
    nearest.write.mode("overwrite").parquet(f"{args.out}/nearest_poi")

    n_final = spark.read.parquet(f"{args.out}/candidates").count()
    n_tiles = spark.read.parquet(f"{args.out}/tiles").count()
    n_near = spark.read.parquet(f"{args.out}/nearest_poi").count()
    n_dup = spark.read.parquet(f"{args.out}/dedup_report").count()
    print(
        json.dumps(
            {
                "job": "osmgraft-pipeline",
                "candidates": n_final,
                "tiles": n_tiles,
                "nearest_poi": n_near,
                "dup_digests": n_dup,
                "wall_sec": round(time.time() - t0, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
