"""Broadcast R-tree point-in-polygon join — cell-grained execution.

The reference's designed proximity/PIP machinery (SCORING_STRATEGY.md:212-220,
verify_import.py:316 bbox queries) relies on PostGIS GiST. At Spark scale the
polygon side (UK boundary polygons, LSOA tiles) is small and the point side is
huge (10^12 pages), so the engine splits the work by Z-order cell:

1. **Driver**: build an STR-packed R-tree over the polygons, then classify
   every grid cell at resolution `res` as
     - *interior*: no polygon edge crosses the cell's open interior ⇒ every
       point in the cell shares one assignment (that of the cell center);
     - *boundary*: an edge crosses it ⇒ needs an exact ray-cast.
2. **Executors**: points join the broadcast (cell → assignment) map — pure
   JVM, whole-stage codegen, no Python — and only the boundary-cell sliver
   (O(perimeter), not O(area)) flows through the Arrow/numpy ray-cast UDF.

Points lying exactly on a polygon edge take their cell-center's assignment
(the even-odd ray cast is itself ambiguous there; PostGIS ST_Contains also
excludes boundaries). Synthetic fixtures place no points on edges.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from osmgraft.geo.cells import GridSpec, cell_np, with_cell
from osmgraft.runtime.cut import cut
from osmgraft.geo.geometry import parse_wkb


class STRtree:
    """Sort-Tile-Recursive-packed, two-level R-tree over polygon bboxes.

    Built once on the driver over the (small) polygon side and shipped to
    executors via a broadcast variable. `query_points` is fully vectorized:
    slice-level bbox culls first, then leaf bboxes, so the per-point work is
    proportional to candidates, not to the polygon count.
    """

    def __init__(self, rings: list[np.ndarray]):
        self.rings = rings
        n = len(rings)
        boxes = np.empty((n, 4))
        for i, r in enumerate(rings):
            boxes[i] = (r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max())
        cx = (boxes[:, 0] + boxes[:, 2]) / 2
        nslices = max(1, int(np.ceil(np.sqrt(n))))
        order = np.argsort(cx, kind="stable")
        size = int(np.ceil(n / nslices))
        perm = []
        slice_bounds = []
        for s in range(0, n, size):
            sl = order[s : s + size]
            cy = (boxes[sl, 1] + boxes[sl, 3]) / 2
            sl = sl[np.argsort(cy, kind="stable")]
            perm.append(sl)
            b = boxes[sl]
            slice_bounds.append(
                (b[:, 0].min(), b[:, 1].min(), b[:, 2].max(), b[:, 3].max())
            )
        self.perm = np.concatenate(perm) if perm else np.empty(0, np.int64)
        self.boxes = boxes[self.perm] if n else boxes
        self.slice_bounds = np.array(slice_bounds).reshape(-1, 4)
        self.slice_size = size if n else 0

    def query_points(self, x: np.ndarray, y: np.ndarray):
        """Return (point_idx, ring_idx) candidate pairs (bbox hits)."""
        pts_idx: list[np.ndarray] = []
        ring_idx: list[np.ndarray] = []
        for s, (sx0, sy0, sx1, sy1) in enumerate(self.slice_bounds):
            in_slice = (x >= sx0) & (x <= sx1) & (y >= sy0) & (y <= sy1)
            if not in_slice.any():
                continue
            pi = np.nonzero(in_slice)[0]
            lo, hi = s * self.slice_size, min((s + 1) * self.slice_size, len(self.boxes))
            b = self.boxes[lo:hi]
            hits = (
                (x[pi, None] >= b[None, :, 0])
                & (x[pi, None] <= b[None, :, 2])
                & (y[pi, None] >= b[None, :, 1])
                & (y[pi, None] <= b[None, :, 3])
            )
            p, r = np.nonzero(hits)
            pts_idx.append(pi[p])
            ring_idx.append(self.perm[lo + r])
        if not pts_idx:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return np.concatenate(pts_idx), np.concatenate(ring_idx)

    def contains(self, x: np.ndarray, y: np.ndarray):
        """(point_idx, ring_idx) pairs where the point is inside the ring
        (bbox cull + vectorized even-odd ray cast)."""
        pi, ri = self.query_points(x, y)
        if len(pi) == 0:
            return pi, ri
        keep = np.zeros(len(pi), dtype=bool)
        for ring_id in np.unique(ri):
            sel = ri == ring_id
            keep[sel] = _ray_cast(self.rings[ring_id], x[pi[sel]], y[pi[sel]])
        return pi[keep], ri[keep]


def _crossings_parity(
    x1, y1, x2, y2, x: np.ndarray, y: np.ndarray
) -> np.ndarray:
    """Dense (points × edges) even-odd parity — one broadcast pass."""
    xx = x[:, None]
    yy = y[:, None]
    crosses = (y1[None, :] > yy) != (y2[None, :] > yy)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1)[None, :] * (yy - y1[None, :]) / (y2 - y1)[None, :] + x1[
            None, :
        ]
    return ((crosses & (xx < xint)).sum(axis=1) & 1).astype(bool)


def _ray_cast(ring: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Even-odd crossing test, vectorized over points AND edges.

    Small problems take one dense broadcast. Large boundaries (the real
    10⁴–10⁵-vertex UK-coastline case — round-2 fix; the old per-edge
    Python loop crawled there) go through a y-band edge index: edges are
    binned by their y-span, each point only tests the edges overlapping
    its band. Coastline edges are short, so bands stay ~32 edges and the
    work drops from points×edges to ~points×32, all numpy passes."""
    inside = np.zeros(len(x), dtype=bool)
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    nz = y1 != y2  # horizontal edges never cross a horizontal ray
    x1, y1, x2, y2 = x1[nz], y1[nz], x2[nz], y2[nz]
    n_e, n_p = len(x1), len(x)
    if n_e == 0 or n_p == 0:
        return inside
    if n_e * n_p <= 4_000_000:
        return _crossings_parity(x1, y1, x2, y2, x, y)

    ylo = np.minimum(y1, y2)
    yhi = np.maximum(y1, y2)
    y_min, y_max = float(ylo.min()), float(yhi.max())
    n_bands = int(np.clip(n_e // 32, 1, 8192))
    h = (y_max - y_min) / n_bands or 1.0
    # clipping out-of-range points into edge bands is safe: the crossing
    # predicate itself rejects edges not straddling the point's y
    pband = np.clip(((y - y_min) / h).astype(np.int64), 0, n_bands - 1)
    eb_lo = np.clip(((ylo - y_min) / h).astype(np.int64), 0, n_bands - 1)
    eb_hi = np.clip(((yhi - y_min) / h).astype(np.int64), 0, n_bands - 1)
    counts = eb_hi - eb_lo + 1
    total = int(counts.sum())
    edge_ids = np.repeat(np.arange(n_e), counts)
    slot = np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)
    band_of = np.repeat(eb_lo, counts) + slot
    order = np.argsort(band_of, kind="stable")
    band_sorted = band_of[order]
    edge_sorted = edge_ids[order]
    e_starts = np.searchsorted(band_sorted, np.arange(n_bands))
    e_ends = np.searchsorted(band_sorted, np.arange(n_bands), side="right")
    porder = np.argsort(pband, kind="stable")
    pb_sorted = pband[porder]
    p_starts = np.searchsorted(pb_sorted, np.arange(n_bands))
    p_ends = np.searchsorted(pb_sorted, np.arange(n_bands), side="right")
    for b in range(n_bands):
        ps = porder[p_starts[b] : p_ends[b]]
        if len(ps) == 0:
            continue
        es = edge_sorted[e_starts[b] : e_ends[b]]
        if len(es) == 0:
            continue
        inside[ps] = _crossings_parity(
            x1[es], y1[es], x2[es], y2[es], x[ps], y[ps]
        )
    return inside


# ---------------------------------------------------------------------------
# driver-side cell classification (interior vs boundary-crossing)
# ---------------------------------------------------------------------------


def _segment_crosses_open_box(
    x1, y1, x2, y2, bx0, by0, bx1, by1
) -> np.ndarray:
    """Liang–Barsky: does segment (x1,y1)-(x2,y2) intersect the OPEN box?
    Vectorized over boxes (bx0.. are arrays)."""
    dx, dy = x2 - x1, y2 - y1
    t0 = np.zeros_like(bx0, dtype=np.float64)
    t1 = np.ones_like(bx0, dtype=np.float64)
    ok = np.ones_like(bx0, dtype=bool)
    for p, qlo, qhi in ((dx, bx0 - x1, bx1 - x1), (dy, by0 - y1, by1 - y1)):
        if p == 0:
            # parallel: must lie strictly inside the slab (open)
            ok &= (qlo < 0) & (0 < qhi)
        else:
            ta, tb = qlo / p, qhi / p
            lo, hi = (ta, tb) if p > 0 else (tb, ta)
            t0 = np.maximum(t0, lo)
            t1 = np.minimum(t1, hi)
    return ok & (t0 < t1)  # strictly positive-length overlap ⇒ open crossing


def classify_cells(
    tree: STRtree, ids: np.ndarray, spec: GridSpec, res: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Classify all cells at `res`.

    Returns (cell_ids, assignment, is_boundary): assignment is the containing
    polygon id of the cell center (-1 = none), is_boundary marks cells whose
    open interior is crossed by any polygon edge (these need the ray cast).
    """
    n = 1 << res
    w, h = spec.cell_width(res), spec.cell_height(res)
    boundary = np.zeros((n, n), dtype=bool)
    for ring in tree.rings:
        for (ex1, ey1), (ex2, ey2) in zip(ring[:-1], ring[1:]):
            ix0 = max(0, int(np.floor((min(ex1, ex2) - spec.x0) / w)))
            ix1 = min(n - 1, int(np.floor((max(ex1, ex2) - spec.x0) / w)))
            iy0 = max(0, int(np.floor((min(ey1, ey2) - spec.y0) / h)))
            iy1 = min(n - 1, int(np.floor((max(ey1, ey2) - spec.y0) / h)))
            gx, gy = np.meshgrid(
                np.arange(ix0, ix1 + 1), np.arange(iy0, iy1 + 1), indexing="ij"
            )
            gx, gy = gx.ravel(), gy.ravel()
            bx0 = spec.x0 + gx * w
            by0 = spec.y0 + gy * h
            crossed = _segment_crosses_open_box(
                ex1, ey1, ex2, ey2, bx0, by0, bx0 + w, by0 + h
            )
            boundary[gx[crossed], gy[crossed]] = True

    gx, gy = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    gx, gy = gx.ravel(), gy.ravel()
    cx = spec.x0 + (gx + 0.5) * w
    cy = spec.y0 + (gy + 0.5) * h
    assign = np.full(len(gx), -1, dtype=np.int64)
    pi, ri = tree.contains(cx, cy)
    # first-wins on overlap, matching the ray-cast path's determinism
    assign[pi[::-1]] = ids[ri[::-1]]
    cells = cell_np(cx, cy, spec, res)
    return cells, assign, boundary[gx, gy]


# ---------------------------------------------------------------------------
# the join
# ---------------------------------------------------------------------------


class PipIndex:
    """Reusable point-in-polygon index over one boundary set.

    Holds the broadcast R-tree plus the classified cell map, materialized
    once via ``cut`` so every join that reuses the index is pure JVM
    downstream (the map scans as an ExistingRDD — no Python stage in the
    join plan).  At production scale the boundary set is a dimension
    table: build the index once per job and amortize it across the whole
    table scan, exactly as you would a loaded broadcast dim.  ``pip_join``
    builds a throwaway one when the caller does not pass ``index=``.
    """

    def __init__(
        self,
        spark,
        tree: STRtree,
        ids: np.ndarray,
        spec: GridSpec,
        res: int,
        cellmap: DataFrame,
        any_boundary_cells: bool,
    ):
        self.spark = spark
        self.tree = tree
        self.ids = ids
        self.spec = spec
        self.res = res
        self.cellmap = cellmap
        self.any_boundary_cells = any_boundary_cells
        self.bc = spark.sparkContext.broadcast((tree, ids))

    @classmethod
    def build(
        cls,
        boundaries: DataFrame,
        boundary_id: str = "boundary_id",
        wkb: str = "polygon_wkb",
        spec: GridSpec | None = None,
        res: int = 7,
    ) -> "PipIndex":
        spark = boundaries.sparkSession
        rows = boundaries.select(boundary_id, wkb).collect()
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        rings = [parse_wkb(bytes(r[1]))[1] for r in rows]
        tree = STRtree(rings)
        spec = spec or GridSpec()
        if res > 8:
            # the cell map is a dense 4^res classification — ~1M rows at
            # res 10 stalls the driver for minutes (the round-1
            # createDataFrame lesson). Finer grids should go executor-side
            # (hexgrid.hex_polyfill_df pattern).
            raise ValueError(
                f"pip_join: res={res} materializes a 4^{res}-cell driver "
                "map; use res <= 8 or an executor-side cover"
            )
        cells, cell_assign, is_boundary = classify_cells(tree, ids, spec, res)
        # Build the cell map executor-side: createDataFrame from 4^res
        # driver tuples rides py4j row-by-row (~0.8 s at res 7, measured
        # round 3); a broadcast + one mapInPandas batch costs ~0.05 s and
        # does not depend on the session's Arrow *conversion* config
        # (pandas UDF transport is always Arrow, even on a vanilla harness
        # session). The cut materializes the 4^res rows so joins
        # that reuse the index scan an ExistingRDD — pure JVM.
        bc_map = spark.sparkContext.broadcast(
            (cells.astype(np.int64), cell_assign, is_boundary)
        )

        def emit_cellmap(batches):
            c_l, a_l, b_l = bc_map.value
            for pdf in batches:
                i = pdf["id"].to_numpy()
                yield pd.DataFrame(
                    {
                        "_pipcell": c_l[i],
                        "_cell_bid": pd.arrays.IntegerArray(a_l[i], a_l[i] < 0),
                        "_cell_boundary": b_l[i],
                    }
                )

        cellmap = (
            spark.range(len(cells))
            .coalesce(1)
            .mapInPandas(
                emit_cellmap,
                "_pipcell long, _cell_bid long, _cell_boundary boolean",
            )
            .transform(cut)
        )
        return cls(spark, tree, ids, spec, res, cellmap, bool(is_boundary.any()))


def pip_join(
    points: DataFrame,
    boundaries: DataFrame | None = None,
    x: str = "x",
    y: str = "y",
    boundary_id: str = "boundary_id",
    wkb: str = "polygon_wkb",
    how: str = "inner",
    spec: GridSpec | None = None,
    res: int = 7,
    index: PipIndex | None = None,
) -> DataFrame:
    """Assign each point row the id of the polygon containing it.

    `boundaries` must be small enough to broadcast. The interior-cell
    majority never leaves the JVM; only the boundary-cell sliver runs the
    Arrow ray-cast. `how='left'` keeps unmatched points with NULL
    boundary_id. Pass a prebuilt ``index=``
    (PipIndex.build) to amortize boundary collection + cell classification
    across many joins against the same boundary set.
    """
    if index is None:
        if boundaries is None:
            raise ValueError("pip_join needs either boundaries= or index=")
        index = PipIndex.build(
            boundaries, boundary_id=boundary_id, wkb=wkb,
            spec=spec, res=res,
        )
    bc = index.bc
    res = index.res
    spec = index.spec
    left = how == "left"

    out_schema = StructType(
        points.schema.fields + [StructField(boundary_id, LongType(), True)]
    )

    def assign(batches):
        tree_l, ids_l = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            px = pdf[x].to_numpy(dtype=np.float64)
            py = pdf[y].to_numpy(dtype=np.float64)
            pi, ri = tree_l.contains(px, py)
            if left:
                # first containing polygon wins on (rare) overlap —
                # reversed assignment keeps the first occurrence
                assigned = np.zeros(len(pdf), dtype=np.int64)
                missing = np.ones(len(pdf), dtype=bool)
                assigned[pi[::-1]] = ids_l[ri[::-1]]
                missing[pi] = False
                yield pdf.assign(
                    **{boundary_id: pd.arrays.IntegerArray(assigned, missing)}
                )
            else:
                res_pdf = pdf.iloc[pi].copy()
                res_pdf[boundary_id] = ids_l[ri]
                yield res_pdf

    keyed = with_cell(points, x, y, spec, res, out="_pipcell", keep_ixy=False)
    joined = keyed.join(F.broadcast(index.cellmap), "_pipcell", "left")

    if not index.any_boundary_cells:
        # every cell is interior ⇒ single-pass, pure-JVM broadcast join
        out = joined.withColumn(boundary_id, F.col("_cell_bid")).drop(
            "_pipcell", "_cell_bid", "_cell_boundary"
        )
        if not left:
            out = out.where(F.col(boundary_id).isNotNull())
        return out

    interior = (
        joined.where(~F.coalesce(F.col("_cell_boundary"), F.lit(False)))
        .withColumn(boundary_id, F.col("_cell_bid"))
        .drop("_pipcell", "_cell_bid", "_cell_boundary")
    )
    edge_rows = joined.where(
        F.coalesce(F.col("_cell_boundary"), F.lit(False))
    ).drop("_pipcell", "_cell_bid", "_cell_boundary")
    edge_assigned = edge_rows.mapInPandas(assign, schema=out_schema)

    out = interior.unionByName(edge_assigned)
    if not left:
        out = out.where(F.col(boundary_id).isNotNull())
    return out
