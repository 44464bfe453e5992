"""Hierarchical Z-order (Morton) cell index — the engine's spatial index.

Plays the role H3/S2 play in the north-star design (BASELINE.json) and the
role the GiST index plays in the reference (07_pipeline_point.sh:215): a
sortable 64-bit cell id per row that gives

- partition pruning: a bbox query becomes a cell-cover IN-list / range set
  that Parquet/Iceberg min-max stats prune (reference J7,
  scripts/verify/verify_import.py:316);
- co-located spatial joins: both sides bucketed by cell ⇒ equi-join, no
  geometry shuffle;
- kNN: k-ring expansion of the build side (reference J4 design,
  SCORING_STRATEGY.md:212-220).

Cell id layout: ``(morton(ix, iy) << 5) | resolution`` with resolution
0..26 and ix/iy = floor-normalized coordinates on a planar extent
(EPSG:3857-style, matching the reference's planar geometry — SURVEY.md
§7.3 item 6). Z-order keeps spatially-near cells numerically near, so
sorted writes cluster hotspots together and range scans cover bboxes.

Two forms, bit-for-bit identical:
- **SQL text** (`cell_sql`, `parent_cell_sql`, `kring_cells_sql`): Spark
  parses it with `F.expr` (whole-stage codegen, no Python in the hot path)
  and the DuckDB oracles embed the same text;
- **numpy** (the driver-side kernel and the reference in tests).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmgraft.geo.hexgrid import lit_sql

_MASKS = (
    0x0000FFFF0000FFFF,
    0x00FF00FF00FF00FF,
    0x0F0F0F0F0F0F0F0F,
    0x3333333333333333,
    0x5555555555555555,
)
_SHIFTS = (16, 8, 4, 2, 1)
MAX_RES = 26
RES_BITS = 5


@dataclass(frozen=True)
class GridSpec:
    """Planar extent the grid covers. Defaults to the synthetic UK-like
    extent used by the fixtures; for real Web-Mercator data use
    (-20037508.34, -20037508.34, 20037508.34, 20037508.34)."""

    x0: float = 0.0
    y0: float = 0.0
    x1: float = 700000.0
    y1: float = 700000.0

    def cell_width(self, res: int) -> float:
        return (self.x1 - self.x0) / (1 << res)

    def cell_height(self, res: int) -> float:
        return (self.y1 - self.y0) / (1 << res)


# ---------------------------------------------------------------------------
# SQL text — one emitter that Spark parses (F.expr) and DuckDB oracles embed
# ---------------------------------------------------------------------------


def morton_sql(ix: str, iy: str) -> str:
    """Morton/Z-order interleave of two <=26-bit integer expressions: bit i
    of ix moves to bit 2i and bit i of iy to bit 2i+1, as one flat OR of
    masked products. The text stays flat on purpose: Spark's parser slows
    down (and grows its cache) exponentially with parenthesis depth, which
    the nested mask-and-shift form (morton_np) would reach. `*` binds
    tighter than `|` in both engines."""
    terms = []
    for i in range(MAX_RES):
        terms.append(f"(CAST({ix} AS BIGINT) & {1 << i}) * {1 << i}")
        terms.append(f"(CAST({iy} AS BIGINT) & {1 << i}) * {2 << i}")
    return "(" + " | ".join(terms) + ")"


def _grid_index_sql(v: str, origin: float, size: float, res: int) -> str:
    n = 1 << res
    floor = f"FLOOR(({v} - {lit_sql(origin)}) / {lit_sql(size)})"
    return f"CAST(GREATEST(0, LEAST({n - 1}, {floor})) AS BIGINT)"


def grid_ix_sql(x: str, spec: GridSpec, res: int) -> str:
    """Column index of x at `res`, clamped to the grid."""
    return _grid_index_sql(x, spec.x0, spec.cell_width(res), res)


def grid_iy_sql(y: str, spec: GridSpec, res: int) -> str:
    """Row index of y at `res`, clamped to the grid."""
    return _grid_index_sql(y, spec.y0, spec.cell_height(res), res)


def _pack_sql(ix: str, iy: str, res: int) -> str:
    return f"({morton_sql(ix, iy)} * {1 << RES_BITS} | {res})"


def cell_sql(x: str, y: str, spec: GridSpec, res: int) -> str:
    """Cell id at `res` for planar coordinates."""
    return _pack_sql(grid_ix_sql(x, spec, res), grid_iy_sql(y, spec, res), res)


def parent_cell_sql(cell: str, res: int, parent_res: int) -> str:
    """Coarsen a cell id (H3 `h3_to_parent` equivalent)."""
    drop = 2 * (res - parent_res)
    # shifts and `|` group left to right in DuckDB and by precedence in Spark
    return f"({cell} >> {RES_BITS + drop} << {RES_BITS} | {parent_res})"


def kring_cells_sql(ix: str, iy: str, res: int, k: int, *, dialect: str) -> str:
    """Array of cell ids in the Chebyshev k-ring around (ix, iy), row by
    row, cells off the grid dropped. Used to expand the *small* join side
    (POIs/airports) so the big side joins on its single cell id (reference
    J4 → cell-partitioned semi-join)."""
    n = 1 << res
    jx, jy = f"{ix} + _dx", f"{iy} + _dy"
    cell = (
        f"CASE WHEN {jx} >= 0 AND {jx} < {n} AND {jy} >= 0 AND {jy} < {n} "
        f"THEN {_pack_sql(jx, jy, res)} END"
    )
    if dialect == "spark":
        offs = f"sequence({-k}, {k})"
        rows = f"transform({offs}, _dx -> transform({offs}, _dy -> {cell}))"
        return f"filter(flatten({rows}), _c -> _c IS NOT NULL)"
    offs = f"range({-k}, {k + 1})"
    rows = f"list_transform({offs}, _dx -> list_transform({offs}, _dy -> {cell}))"
    return f"list_filter(flatten({rows}), _c -> _c IS NOT NULL)"


def with_cell(
    df: DataFrame,
    x: str,
    y: str,
    spec: GridSpec,
    res: int,
    out: str = "cell",
    keep_ixy: bool = True,
) -> DataFrame:
    """Attach ix/iy/cell columns. The interleave reads the ix/iy columns
    (not one copy of the floor expression per bit); ix/iy are kept so k-ring
    expansion never needs to de-interleave the Morton code."""
    ix, iy = f"{out}_ix", f"{out}_iy"
    df = df.withColumns(
        {ix: F.expr(grid_ix_sql(x, spec, res)), iy: F.expr(grid_iy_sql(y, spec, res))}
    ).withColumn(out, F.expr(_pack_sql(ix, iy, res)))
    return df if keep_ixy else df.drop(ix, iy)


# ---------------------------------------------------------------------------
# numpy implementation (bit-identical) — for pandas-UDF kernels and tests
# ---------------------------------------------------------------------------


def _spread_bits_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64)
    for shift, mask in zip(_SHIFTS, _MASKS):
        v = (v | (v << np.uint64(shift))) & np.uint64(mask)
    return v


def morton_np(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return _spread_bits_np(ix) | (_spread_bits_np(iy) << np.uint64(1))


def grid_ix_np(x: np.ndarray, spec: GridSpec, res: int) -> np.ndarray:
    """Column index of x at `res`, clamped to the grid (grid_ix_sql's twin)."""
    ix = np.floor((x - spec.x0) / spec.cell_width(res)).astype(np.int64)
    return np.clip(ix, 0, (1 << res) - 1)


def grid_iy_np(y: np.ndarray, spec: GridSpec, res: int) -> np.ndarray:
    """Row index of y at `res`, clamped to the grid (grid_iy_sql's twin)."""
    iy = np.floor((y - spec.y0) / spec.cell_height(res)).astype(np.int64)
    return np.clip(iy, 0, (1 << res) - 1)


def cell_np(
    x: np.ndarray, y: np.ndarray, spec: GridSpec, res: int
) -> np.ndarray:
    ix = grid_ix_np(x, spec, res)
    iy = grid_iy_np(y, spec, res)
    m = morton_np(ix, iy)
    return ((m << np.uint64(RES_BITS)) | np.uint64(res)).astype(np.int64)
