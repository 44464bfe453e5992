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

Two implementations, bit-for-bit identical:
- **JVM-native Column expressions** (default; whole-stage codegen, no
  Python in the hot path),
- **numpy** (for use inside pandas-UDF geometry kernels and tests).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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
# JVM-native (Column) implementation
# ---------------------------------------------------------------------------


def _spread_bits_col(v: Column) -> Column:
    """Interleave-ready bit spread (x -> x with a 0 bit between every bit)."""
    for shift, mask in zip(_SHIFTS, _MASKS):
        v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
    return v


def morton_col(ix: Column, iy: Column) -> Column:
    """Morton/Z-order interleave of two <=26-bit integer columns (JVM-side)."""
    return _spread_bits_col(ix.cast("long")).bitwiseOR(
        F.shiftleft(_spread_bits_col(iy.cast("long")), 1)
    )


def grid_ix_col(x: Column, spec: GridSpec, res: int) -> Column:
    n = 1 << res
    ix = F.floor((x - F.lit(spec.x0)) / F.lit(spec.cell_width(res)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), ix)).cast("long")


def grid_iy_col(y: Column, spec: GridSpec, res: int) -> Column:
    n = 1 << res
    iy = F.floor((y - F.lit(spec.y0)) / F.lit(spec.cell_height(res)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), iy)).cast("long")


def cell_col(x: Column, y: Column, spec: GridSpec, res: int) -> Column:
    """Cell id at `res` for planar coordinates — pure JVM expressions."""
    m = morton_col(grid_ix_col(x, spec, res), grid_iy_col(y, spec, res))
    return F.shiftleft(m, RES_BITS).bitwiseOR(F.lit(res))


def parent_cell_col(cell: Column, res: int, parent_res: int) -> Column:
    """Coarsen a cell id (H3 `h3_to_parent` equivalent)."""
    drop = 2 * (res - parent_res)
    m = F.shiftright(cell, RES_BITS)
    return F.shiftleft(F.shiftright(m, drop), RES_BITS).bitwiseOR(F.lit(parent_res))


def with_cell(
    df: DataFrame,
    x: str,
    y: str,
    spec: GridSpec,
    res: int,
    out: str = "cell",
    keep_ixy: bool = True,
) -> DataFrame:
    """Attach ix/iy/cell columns. ix/iy are kept so k-ring expansion never
    needs to de-interleave the Morton code."""
    df = df.withColumn(f"{out}_ix", grid_ix_col(F.col(x), spec, res)).withColumn(
        f"{out}_iy", grid_iy_col(F.col(y), spec, res)
    )
    m = morton_col(F.col(f"{out}_ix"), F.col(f"{out}_iy"))
    df = df.withColumn(out, F.shiftleft(m, RES_BITS).bitwiseOR(F.lit(res)))
    return df if keep_ixy else df.drop(f"{out}_ix", f"{out}_iy")


def kring_cells_col(ix: Column, iy: Column, res: int, k: int) -> Column:
    """Array of cell ids in the Chebyshev k-ring around (ix, iy).

    JVM-side: flatten(transform(sequence)) — no Python, no UDF. Used to
    expand the *small* join side (POIs/airports) so the big side joins on
    its single cell id (reference J4 → cell-partitioned semi-join).
    """
    n = 1 << res
    offs = F.sequence(F.lit(-k), F.lit(k))

    def one_row(dx: Column) -> Column:
        jx = ix + dx
        return F.transform(
            offs,
            lambda dy: F.when(
                (jx >= 0) & (jx < n) & (iy + dy >= 0) & (iy + dy < n),
                F.shiftleft(morton_col(jx, iy + dy), RES_BITS).bitwiseOR(F.lit(res)),
            ),
        )

    return F.filter(F.flatten(F.transform(offs, one_row)), lambda c: c.isNotNull())


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
    """Column index of x at `res`, clamped to the grid (grid_ix_col's twin)."""
    ix = np.floor((x - spec.x0) / spec.cell_width(res)).astype(np.int64)
    return np.clip(ix, 0, (1 << res) - 1)


def grid_iy_np(y: np.ndarray, spec: GridSpec, res: int) -> np.ndarray:
    """Row index of y at `res`, clamped to the grid (grid_iy_col's twin)."""
    iy = np.floor((y - spec.y0) / spec.cell_height(res)).astype(np.int64)
    return np.clip(iy, 0, (1 << res) - 1)


def cell_np(
    x: np.ndarray, y: np.ndarray, spec: GridSpec, res: int
) -> np.ndarray:
    ix = grid_ix_np(x, spec, res)
    iy = grid_iy_np(y, spec, res)
    m = morton_np(ix, iy)
    return ((m << np.uint64(RES_BITS)) | np.uint64(res)).astype(np.int64)
