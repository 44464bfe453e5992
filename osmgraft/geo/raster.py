"""Raster ↔ vector tile aggregation (north-star: "raster-to-vector tile
aggregation matching the repo's postcode/LSOA scoring outputs").

- `rasterize_cells`: per-cell aggregates → a dense (n × n) grid. The grid at
  sensible resolutions (≤ res 10–12) is small even when the input is 10^12
  rows — the heavy reduction happens distributed, only the aggregated cells
  are collected.
- `vectorize_raster`: dense grid → vector polygons (one rectangle-merged
  polygon set per contiguous same-value region, greedy row-merge) — the
  inverse path, producing boundary-polygon WKB suitable to feed back into
  the PIP join (round-trip tested).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmgraft.geo.cells import GridSpec, grid_ix_sql, grid_iy_sql
from osmgraft.geo.geometry import polygon_wkb


def cell_rollup(
    points: DataFrame,
    spec: GridSpec,
    res: int,
    x: str = "x",
    y: str = "y",
    value: str | None = None,
) -> DataFrame:
    """Distributed per-cell aggregate: (ix, iy, n[, sum_value])."""
    keyed = points.select(
        F.expr(grid_ix_sql(x, spec, res)).alias("ix"),
        F.expr(grid_iy_sql(y, spec, res)).alias("iy"),
        *( [F.col(value).alias("_v")] if value else [] ),
    )
    aggs = [F.count("*").alias("n")]
    if value:
        aggs.append(F.sum("_v").alias("sum_value"))
    return keyed.groupBy("ix", "iy").agg(*aggs)


def rasterize_cells(
    rollup: DataFrame, res: int, measure: str = "n"
) -> np.ndarray:
    """Collect the (small) per-cell rollup into a dense (n, n) numpy grid,
    indexed [ix, iy]. Cells with no rows are 0.

    Driver-side by design: the grid is 4**res cells, so this path is guarded
    to res <= 10 (~8 MiB float64). For finer grids keep the rollup
    distributed (cell_rollup + banding on the DataFrame) instead of
    materializing a driver raster."""
    if res > 10:
        raise ValueError(
            f"rasterize_cells: res={res} would materialize a 4^{res}-cell "
            "driver grid; keep the rollup distributed (cell_rollup / "
            "vectorize via banding on the DataFrame) for res > 10"
        )
    n = 1 << res
    grid = np.zeros((n, n), dtype=np.float64)
    for r in rollup.select("ix", "iy", measure).collect():
        grid[r["ix"], r["iy"]] = float(r[measure])
    return grid


def vectorize_raster(
    grid: np.ndarray,
    spec: GridSpec,
    res: int,
    band_edges: list[float],
) -> list[dict]:
    """Grid → vector tiles: bucket cell values into bands, greedily merge
    horizontal runs of same-band cells into rectangles, emit polygon WKB.

    Returns [{band, ix0, iy, ix1, polygon_wkb}] — a compact vector layer of
    the heatmap (the LSOA-style tile output of the reference dashboards).
    """
    n = 1 << res
    w, h = spec.cell_width(res), spec.cell_height(res)
    bands = np.digitize(grid, band_edges)
    out: list[dict] = []
    for iy in range(n):
        ix = 0
        while ix < n:
            b = bands[ix, iy]
            if b == 0:  # below the first edge: background, not emitted
                ix += 1
                continue
            ix1 = ix
            while ix1 + 1 < n and bands[ix1 + 1, iy] == b:
                ix1 += 1
            x0 = spec.x0 + ix * w
            x1 = spec.x0 + (ix1 + 1) * w
            y0 = spec.y0 + iy * h
            y1 = y0 + h
            ring = np.array(
                [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
            )
            out.append({
                "band": int(b),
                "ix0": ix,
                "iy": iy,
                "ix1": ix1,
                "polygon_wkb": polygon_wkb(ring),
            })
            ix = ix1 + 1
    return out


def raster_roundtrip_assignment(
    points: DataFrame,
    spec: GridSpec,
    res: int,
    band_edges: list[float],
) -> DataFrame:
    """rollup → raster → vector → PIP: assign each point the band polygon it
    falls in. Exercises the full raster↔vector↔join loop."""
    from osmgraft.geo.pip import pip_join

    roll = cell_rollup(points, spec, res)
    grid = rasterize_cells(roll, res)
    tiles = vectorize_raster(grid, spec, res, band_edges)
    spark = points.sparkSession
    tile_df = spark.createDataFrame(
        [(i, t["band"], bytearray(t["polygon_wkb"])) for i, t in enumerate(tiles)],
        "tile_id long, band int, polygon_wkb binary",
    )
    assigned = pip_join(
        points, tile_df, boundary_id="tile_id", how="left", spec=spec, res=res
    )
    return assigned.join(
        tile_df.select("tile_id", "band"), "tile_id", "left"
    )
