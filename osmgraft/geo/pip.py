"""Broadcast point-in-polygon join — cell-grained, one JVM pass.

The reference's designed proximity/PIP machinery (SCORING_STRATEGY.md:212-220,
verify_import.py:316 bbox queries) relies on PostGIS GiST. At Spark scale the
polygon side (UK boundary polygons, LSOA tiles) is small and the point side is
huge (10^12 pages), so the engine resolves membership from a precomputed
per-cell structure instead of a per-row geometry kernel (the GeoBlocks
approach):

1. **Driver** (`PipIndex.build`): build an STR-packed R-tree over the
   polygons, then classify every grid cell at resolution `res` as
     - *interior*: no polygon edge crosses the cell's open interior ⇒ every
       point in the cell shares one assignment (that of the cell centre);
     - *boundary*: an edge crosses it ⇒ its points need an exact ray cast.
       A boundary cell carries its candidate rings (bbox plus the edges a
       ray cast from the cell can meet), in the R-tree's first-wins order.
   The cell map ships to the JVM as one Arrow table; no Python worker.
2. **Executors** (`pip_join`): points join the broadcast cell map and one
   projection picks the owner — the cell's id for interior cells, the first
   ring whose even-odd ray cast holds for boundary cells. One scan of the
   points, no Python.

Points lying exactly on a polygon edge have no defined owner: they take the
ray cast's answer in a boundary cell and the cell centre's on an interior
cell's rim (the even-odd ray cast is itself ambiguous there; PostGIS
ST_Contains also excludes boundaries). Synthetic fixtures place no points on
edges. NULL or NaN coordinates own nothing.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmgraft.geo.cells import GridSpec, cell_np, grid_ix_np, grid_iy_np, with_cell
from osmgraft.geo.geometry import parse_wkb
from osmgraft.runtime.cut import cut


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
        size = max(1, int(np.ceil(n / nslices)))
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
        # union bbox; (inf, inf, -inf, -inf) when empty, so nothing is in it
        self.bbox = (
            *boxes[:, :2].min(axis=0, initial=np.inf),
            *boxes[:, 2:].max(axis=0, initial=-np.inf),
        )

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


def crossing(px, py, x1, y1, x2, y2):
    """Even-odd term: does edge (x1, y1)-(x2, y2) cross the ray from
    (px, py) towards +x?

    Operands are numpy arrays or Spark Columns (plain floats mix with
    either). Both evaluate the same arithmetic in the same order, so the
    numpy ray cast and the JVM ones (`pip_join`'s boundary cells,
    `hexgrid.point_in_ring_col`) agree bit for bit. Horizontal edges
    (y1 == y2) must be dropped by the caller: they never cross, and the
    JVM division by zero raises under ANSI mode."""
    return ((y1 > py) != (y2 > py)) & (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)


def _crossings_parity(
    x1, y1, x2, y2, x: np.ndarray, y: np.ndarray
) -> np.ndarray:
    """Dense (points × edges) even-odd parity — one broadcast pass."""
    with np.errstate(divide="ignore", invalid="ignore"):
        crosses = crossing(
            x[:, None], y[:, None], x1[None, :], y1[None, :], x2[None, :], y2[None, :]
        )
    return (crosses.sum(axis=1) & 1).astype(bool)


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
    edge_ids, slot = _expand(eb_hi - eb_lo + 1)
    band_of = eb_lo[edge_ids] + slot
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


def _edges(rings: list[np.ndarray]):
    """All edges of `rings` as flat arrays (x1, y1, x2, y2, ring position)."""
    a = np.concatenate([r[:-1] for r in rings] or [np.empty((0, 2))])
    b = np.concatenate([r[1:] for r in rings] or [np.empty((0, 2))])
    pos = np.repeat(np.arange(len(rings)), [len(r) - 1 for r in rings])
    return a[:, 0], a[:, 1], b[:, 0], b[:, 1], pos


def _expand(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(owner, slot) for `counts[i]` slots per owner i, in owner order."""
    owner = np.repeat(np.arange(len(counts)), counts)
    slot = np.arange(len(owner)) - np.repeat(np.cumsum(counts) - counts, counts)
    return owner, slot


def _segments_cross_open_boxes(x1, y1, x2, y2, bx0, by0, bx1, by1) -> np.ndarray:
    """Liang–Barsky: does segment i (x1,y1)-(x2,y2) intersect OPEN box i?
    Vectorized over (segment, box) pairs."""
    t0 = np.zeros(len(x1))
    t1 = np.ones(len(x1))
    ok = np.ones(len(x1), dtype=bool)
    for p, qlo, qhi in ((x2 - x1, bx0 - x1, bx1 - x1), (y2 - y1, by0 - y1, by1 - y1)):
        flat = p == 0
        # parallel: must lie strictly inside the slab (open)
        ok &= ~flat | ((qlo < 0) & (0 < qhi))
        with np.errstate(divide="ignore", invalid="ignore"):
            ta, tb = qlo / p, qhi / p
        up = p > 0
        t0 = np.where(flat, t0, np.maximum(t0, np.where(up, ta, tb)))
        t1 = np.where(flat, t1, np.minimum(t1, np.where(up, tb, ta)))
    return ok & (t0 < t1)  # strictly positive-length overlap ⇒ open crossing


def classify_cells(
    tree: STRtree, ids: np.ndarray, spec: GridSpec, res: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Classify all cells at `res`, in (column, row) order.

    Returns (cell_ids, assignment, is_boundary, owners): assignment is the
    first (STR-order) polygon id containing the cell centre (-1 = none),
    owners how many polygons contain it, and is_boundary marks cells whose
    open interior is crossed by any polygon edge. Every edge is tested
    against each cell of its clamped bbox in one numpy pass.
    """
    n = 1 << res
    w, h = spec.cell_width(res), spec.cell_height(res)
    x1, y1, x2, y2, _ = _edges(tree.rings)
    ix0 = np.maximum(0, np.floor((np.minimum(x1, x2) - spec.x0) / w).astype(np.int64))
    ix1 = np.minimum(n - 1, np.floor((np.maximum(x1, x2) - spec.x0) / w).astype(np.int64))
    iy0 = np.maximum(0, np.floor((np.minimum(y1, y2) - spec.y0) / h).astype(np.int64))
    iy1 = np.minimum(n - 1, np.floor((np.maximum(y1, y2) - spec.y0) / h).astype(np.int64))
    ny = np.maximum(iy1 - iy0 + 1, 0)
    e, slot = _expand(np.maximum(ix1 - ix0 + 1, 0) * ny)
    gx = ix0[e] + slot // ny[e]
    gy = iy0[e] + slot % ny[e]
    bx0 = spec.x0 + gx * w
    by0 = spec.y0 + gy * h
    crossed = _segments_cross_open_boxes(
        x1[e], y1[e], x2[e], y2[e], bx0, by0, bx0 + w, by0 + h
    )
    boundary = np.zeros((n, n), dtype=bool)
    boundary[gx[crossed], gy[crossed]] = True

    gx, gy = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    gx, gy = gx.ravel(), gy.ravel()
    cx = spec.x0 + (gx + 0.5) * w
    cy = spec.y0 + (gy + 0.5) * h
    assign = np.full(len(gx), -1, dtype=np.int64)
    pi, ri = tree.contains(cx, cy)
    # first-wins on overlap, matching the ray-cast path's determinism
    assign[pi[::-1]] = ids[ri[::-1]]
    owners = np.bincount(pi, minlength=len(gx))
    cells = cell_np(cx, cy, spec, res)
    return cells, assign, boundary[gx, gy], owners


def _outer_border_cells(tree: STRtree, spec: GridSpec, res: int) -> np.ndarray:
    """Grid-border cells on each side where some ring reaches past the
    extent: points beyond the extent clamp into them, so they need the
    ray cast even when their open interior is uncrossed."""
    n = 1 << res
    gx, gy = np.divmod(np.arange(n * n), n)
    x0, y0, x1, y1 = tree.bbox
    return (
        ((gx == 0) & (x0 < spec.x0))
        | ((gx == n - 1) & (x1 > spec.x1))
        | ((gy == 0) & (y0 < spec.y0))
        | ((gy == n - 1) & (y1 > spec.y1))
    )


def cell_rings(
    tree: STRtree, ids: np.ndarray, spec: GridSpec, res: int, cast: np.ndarray
) -> pa.ListArray:
    """Per-cell candidate rings for the ray cast, one list per cell in
    `classify_cells` order (NULL where `cast` is False).

    A cell's list holds, in `tree.perm` order (the first-wins order of
    `STRtree.contains`), each ring whose bbox spans the cell's column and
    that has an edge in it, with its bbox and those edges: the
    non-horizontal edges whose row span contains the cell's row and whose
    max-x column is at least the cell's column − 1. That keeps every edge
    the +x ray from a point of the cell can cross: a crossed edge straddles
    the point's y, so its row span (the same floor/clip formula as
    `cell_np`, monotone in y) holds the point's row, and the crossing's x
    is at most one ulp past the edge's max x, which the one-column slack
    covers. A ring whose bbox columns miss the cell's fails the bbox test
    for every point of the cell, and a ring with no listed edge has no
    crossing. Points beyond the extent clamp into the border cells under
    the same clip, so the argument holds for them too.
    """
    n = 1 << res
    x1, y1, x2, y2, rank = _edges([tree.rings[i] for i in tree.perm])
    keep = y1 != y2  # horizontal edges never cross a horizontal ray
    x1, y1, x2, y2, rank = x1[keep], y1[keep], x2[keep], y2[keep], rank[keep]
    row_lo = grid_iy_np(np.minimum(y1, y2), spec, res)
    row_hi = grid_iy_np(np.maximum(y1, y2), spec, res)
    col_hi = grid_ix_np(np.maximum(x1, x2), spec, res)

    # cast cells sorted by (row, column): a row's cells are one run
    cell = np.nonzero(cast)[0]  # = column * n + row
    key = (cell % n) * n + cell // n
    order = np.argsort(key)
    cell, key = cell[order], key[order]
    # every (edge, row) pair, then the row's cast cells from the ring's
    # first bbox column up to col_hi + 1 (capped at its last)
    e, slot = _expand(row_hi - row_lo + 1)
    row = row_lo[e] + slot
    box_lo = grid_ix_np(tree.boxes[:, 0], spec, res)[rank[e]]
    box_hi = grid_ix_np(tree.boxes[:, 2], spec, res)[rank[e]]
    lo = np.searchsorted(key, row * n + box_lo)
    hi = np.searchsorted(key, row * n + np.minimum(col_hi[e] + 1, box_hi), side="right")
    pair, slot = _expand(hi - lo)
    cell, edge = cell[lo[pair] + slot], e[pair]
    # group by cell, then by ring: edge numbers ascend with ring rank
    order = np.lexsort((edge, cell))
    cell, edge = cell[order], edge[order]
    r = rank[edge]
    starts = np.ones(len(cell), dtype=bool)
    starts[1:] = (cell[1:] != cell[:-1]) | (r[1:] != r[:-1])
    first = np.flatnonzero(starts)
    ring_rank = r[first]
    edge_lists = pa.ListArray.from_arrays(
        np.r_[first, len(edge)].astype(np.int32),
        pa.StructArray.from_arrays(
            [x1[edge], y1[edge], x2[edge], y2[edge]], names=["x1", "y1", "x2", "y2"]
        ),
    )
    box = tree.boxes[ring_rank]
    rings = pa.StructArray.from_arrays(
        [ids[tree.perm[ring_rank]], box[:, 0], box[:, 1], box[:, 2], box[:, 3], edge_lists],
        names=["bid", "bx0", "by0", "bx1", "by1", "e"],
    )
    per_cell = np.bincount(cell[first], minlength=n * n)
    return pa.ListArray.from_arrays(
        np.r_[0, np.cumsum(per_cell)].astype(np.int32), rings, mask=pa.array(~cast)
    )


# ---------------------------------------------------------------------------
# the join
# ---------------------------------------------------------------------------


class PipIndex:
    """Reusable point-in-polygon index over one boundary set.

    Holds the R-tree (driver side) and the classified cell map, one row per
    cell at `res`, materialized once via ``cut``:

    - ``_pipcell``: the cell id;
    - ``_cell_bid``: the first polygon containing the cell centre (NULL:
      none);
    - ``_cell_boundary``: the cell's points need the ray cast — an edge
      crosses its open interior, two polygons overlap there, or a polygon
      reaches past the grid's extent beside it;
    - ``_cell_rings``: for those cells, the candidate rings with their
      bboxes and edges (``cell_rings``); NULL elsewhere.

    Every join that reuses the index reads the cut map — pure JVM. At
    production scale the boundary set is a dimension table: build the index
    once per job and amortize it across the whole table scan, exactly as you
    would a loaded broadcast dim. ``pip_join`` builds a throwaway one when
    the caller does not pass ``index=``. With ``any_boundary_cells=False``
    the join takes every point's cell-centre owner (no ray cast).
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
            # createDataFrame lesson). Finer grids should classify their
            # cells executor-side (a spark.range over the grid).
            raise ValueError(
                f"pip_join: res={res} materializes a 4^{res}-cell driver "
                "map; use res <= 8 or an executor-side cover"
            )
        cells, assign, is_boundary, owners = classify_cells(tree, ids, spec, res)
        cast = is_boundary | (owners > 1) | _outer_border_cells(tree, spec, res)
        # createDataFrame(pyarrow.Table) writes one Arrow file the JVM reads:
        # no Python worker, and no dependence on the session's Arrow config
        table = pa.table({
            "_pipcell": cells,
            "_cell_bid": pa.array(assign, mask=assign < 0),
            "_cell_boundary": cast,
            "_cell_rings": cell_rings(tree, ids, spec, res, cast),
        })
        cellmap = spark.createDataFrame(table).transform(cut)
        return cls(spark, tree, ids, spec, res, cellmap, bool(cast.any()))

    def covers(self, px: Column, py: Column) -> Column:
        """False (or NULL) where no ring can contain the point: NULL or NaN
        coordinates, or outside the rings' union bbox."""
        x0, y0, x1, y1 = (float(v) for v in self.tree.bbox)
        return (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)


def _ring_contains(ring: Column, px: Column, py: Column) -> Column:
    """One `_cell_rings` entry contains the point: inside its bbox (the
    R-tree's cull) and an odd number of its edges cross the +x ray."""
    odd = F.aggregate(
        ring["e"],
        F.lit(False),
        lambda acc, e: acc != crossing(px, py, e["x1"], e["y1"], e["x2"], e["y2"]),
    )
    return (
        (px >= ring["bx0"]) & (px <= ring["bx1"])
        & (py >= ring["by0"]) & (py <= ring["by1"]) & odd
    )


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

    `boundaries` must be small enough to broadcast. One scan of the points
    joins the broadcast cell map, and one projection picks the owner: the
    cell's owner for interior cells, the ray cast over the cell's candidate
    rings for boundary cells. `how='left'` keeps every point, with the
    first containing polygon (STR order) or NULL; `how='inner'` returns one
    row per containing polygon. Pass a prebuilt ``index=``
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
    left = how == "left"
    px, py = F.col(x).cast("double"), F.col(y).cast("double")

    keyed = with_cell(points, x, y, index.spec, index.res, out="_pipcell", keep_ixy=False)
    joined = keyed.join(F.broadcast(index.cellmap), "_pipcell", "left")

    owner = F.col("_cell_bid")
    if index.any_boundary_cells:
        hits = F.filter("_cell_rings", lambda r: _ring_contains(r, px, py))
        if left:
            cast = F.try_element_at(hits, F.lit(1))["bid"]
        else:  # every containing ring, one row each
            cast, owner = F.transform(hits, lambda r: r["bid"]), F.array(owner)
        owner = F.when(F.col("_cell_boundary"), cast).otherwise(owner)
    owner = F.when(index.covers(px, py), owner)
    if index.any_boundary_cells and not left:
        owner = F.explode(owner)
    out = joined.withColumn(boundary_id, owner).drop(
        "_pipcell", "_cell_bid", "_cell_boundary", "_cell_rings"
    )
    if not left:
        out = out.where(F.col(boundary_id).isNotNull())
    return out
