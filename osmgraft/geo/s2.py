"""S2 cell indexing — faithful, from-scratch, fully vectorized.

Implements the public S2 cell-id scheme (quadratic ST projection + Hilbert
curve on the 6 cube faces, 64-bit ids, levels 0..30) as numpy kernels
suitable for Arrow/pandas UDFs — the north-star requirement that H3/S2
indexing be "vectorized pandas/Arrow UDFs" (BASELINE.json north_star) and
the Spark replacement for the reference's GiST spatial index
(07_pipeline_point.sh:215) and bbox window queries
(scripts/verify/verify_import.py:316).

Bit layout (public S2CellId format):

    id = face(3 bits) . hilbert_position(2*level bits) . 1 . 0...0

The trailing "1" marks the level: ``level = 30 - (trailing_zeros >> 1)``.
Sorted S2 ids at a fixed level are a space-filling traversal, so sorted
parquet writes cluster spatial hotspots (same property our Z-order index
exploits — osmgraft/geo/cells.py), and a cell range
``[range_min(p), range_max(p)]`` contains exactly the descendants of ``p``
⇒ bbox covers become min-max-prunable range predicates.

Everything here is O(1) numpy passes per 4-bit Hilbert chunk (8 iterations
for 30 levels) — no per-row Python. Spark assigns cells through one path,
the Arrow UDF over `cell_np` (`with_s2_cell`); the DuckDB oracle recomputes
the same ids in SQL (contract_cells._s2_assign_cte). Work on assigned ids —
parents (`s2_parent_sql`) and cover predicates (`s2_range_predicate`) — is
SQL text that Spark parses and the oracles embed unchanged.

Derivation is from the published algorithm (s2geometry docs; Hilbert
lookup-table construction); no third-party s2 library exists in this
environment, so tests assert the structural invariants the format
guarantees: prefix-nesting of parents, trailing-bit level encoding,
round-trip center containment, monotone curve locality.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

MAX_LEVEL = 30
_LOOKUP_BITS = 4
_SWAP = 1
_INVERT = 2

# Hilbert sub-cell traversal tables (public S2 constants).
_POS_TO_IJ = np.array(
    [
        [0, 1, 3, 2],  # canonical order
        [0, 2, 3, 1],  # axes swapped
        [3, 2, 0, 1],  # bits inverted
        [3, 1, 0, 2],  # swapped & inverted
    ],
    dtype=np.int64,
)
_POS_TO_ORIENT = np.array([_SWAP, 0, 0, _INVERT + _SWAP], dtype=np.int64)


def _build_lookups() -> tuple[np.ndarray, np.ndarray]:
    """Build the 4-bit-chunk Hilbert lookup tables (ij<->pos with
    orientation threading), exactly as the public algorithm constructs
    them recursively."""
    lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)
    lookup_ij = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)

    def init(level: int, i: int, j: int, orig: int, pos: int, orient: int) -> None:
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig] = (pos << 2) + orient
            lookup_ij[(pos << 2) + orig] = (ij << 2) + orient
            return
        r = _POS_TO_IJ[orient]
        for index in range(4):
            init(
                level + 1,
                (i << 1) + (int(r[index]) >> 1),
                (j << 1) + (int(r[index]) & 1),
                orig,
                (pos << 2) + index,
                orient ^ int(_POS_TO_ORIENT[index]),
            )

    for orientation in range(4):
        init(0, 0, 0, orientation, 0, orientation)
    return lookup_pos, lookup_ij


_LOOKUP_POS, _LOOKUP_IJ = _build_lookups()


# ---------------------------------------------------------------------------
# Sphere -> face/(u,v) -> (s,t) -> (i,j)
# ---------------------------------------------------------------------------


def _latlng_to_xyz(lat_deg: np.ndarray, lng_deg: np.ndarray):
    phi = np.radians(lat_deg)
    theta = np.radians(lng_deg)
    cos_phi = np.cos(phi)
    return cos_phi * np.cos(theta), cos_phi * np.sin(theta), np.sin(phi)


def _xyz_to_face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    comp = np.choose(face, [x, y, z])
    face = np.where(comp < 0, face + 3, face).astype(np.int64)
    # Per-face (u, v) from the public face chart.
    u = np.empty_like(x)
    v = np.empty_like(x)
    with np.errstate(divide="ignore", invalid="ignore"):
        for f, (uf, vf) in enumerate(
            [
                (lambda: y / x, lambda: z / x),
                (lambda: -x / y, lambda: z / y),
                (lambda: -x / z, lambda: -y / z),
                (lambda: z / x, lambda: y / x),
                (lambda: z / y, lambda: -x / y),
                (lambda: -y / z, lambda: -x / z),
            ]
        ):
            m = face == f
            if m.any():
                u[m] = uf()[m]
                v[m] = vf()[m]
    return face, u, v


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    """Quadratic projection (the S2 default): equalizes cell areas."""
    with np.errstate(invalid="ignore"):
        return np.where(
            u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u)
        )


def _st_to_uv(s: np.ndarray) -> np.ndarray:
    return np.where(
        s >= 0.5,
        (1.0 / 3.0) * (4.0 * s * s - 1.0),
        (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)),
    )


def _st_to_ij(s: np.ndarray) -> np.ndarray:
    return np.clip(
        np.floor((1 << MAX_LEVEL) * s).astype(np.int64), 0, (1 << MAX_LEVEL) - 1
    )


# ---------------------------------------------------------------------------
# (face, i, j) <-> cell id  (Hilbert curve, 4 bits per iteration)
# ---------------------------------------------------------------------------


def from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Leaf (level-30) cell id for face/i/j arrays. Vectorized form of the
    public FromFaceIJ lookup-table loop."""
    n = face.astype(np.uint64) << np.uint64(60)
    bits = (face & np.int64(_SWAP)).astype(np.int64)
    mask = (1 << _LOOKUP_BITS) - 1
    for k in range(7, -1, -1):
        bits = bits + (((i >> (k * 4)) & mask) << (_LOOKUP_BITS + 2))
        bits = bits + (((j >> (k * 4)) & mask) << 2)
        bits = _LOOKUP_POS[bits]
        n |= (bits >> 2).astype(np.uint64) << np.uint64(k * 8)
        bits = bits & (_SWAP | _INVERT)
    return (n * np.uint64(2) + np.uint64(1)).astype(np.int64)


def to_face_ij(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode any cell id to (face, i, j) of its min (range_min) leaf."""
    u = ids.astype(np.uint64)
    face = (u >> np.uint64(61)).astype(np.int64)
    i = np.zeros(len(ids), dtype=np.int64)
    j = np.zeros(len(ids), dtype=np.int64)
    bits = face & _SWAP
    for k in range(7, -1, -1):
        nbits = 2 if k == 7 else 4
        chunk = ((u >> np.uint64(k * 8 + 1)) & np.uint64((1 << (2 * nbits)) - 1)).astype(
            np.int64
        )
        bits = bits + (chunk << 2)
        bits = _LOOKUP_IJ[bits]
        i |= (bits >> (_LOOKUP_BITS + 2)) << (k * 4)
        j |= ((bits >> 2) & ((1 << _LOOKUP_BITS) - 1)) << (k * 4)
        bits = bits & (_SWAP | _INVERT)
    return face, i, j


# ---------------------------------------------------------------------------
# Public level / hierarchy math (pure bit ops — also available JVM-side)
# ---------------------------------------------------------------------------


def lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def cell_np(lat_deg: np.ndarray, lng_deg: np.ndarray, level: int) -> np.ndarray:
    """lat/lng degrees -> S2 cell id at `level`. The engine's main kernel."""
    x, y, z = _latlng_to_xyz(np.asarray(lat_deg, float), np.asarray(lng_deg, float))
    face, u, v = _xyz_to_face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))
    leaf = from_face_ij(face, i, j)
    return parent_np(leaf, level)


def parent_np(ids: np.ndarray, level: int) -> np.ndarray:
    lsb = np.uint64(lsb_for_level(level))
    u = ids.astype(np.uint64)
    return ((u & (~lsb + np.uint64(1))) | lsb).astype(np.int64)


def level_np(ids: np.ndarray) -> np.ndarray:
    """level = 30 - trailing_zeros(id)/2 (the trailing-1 marker)."""
    u = ids.astype(np.uint64)
    tz = np.zeros(len(ids), dtype=np.int64)
    low = u.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        m = (low & np.uint64((1 << shift) - 1)) == 0
        tz[m] += shift
        low[m] >>= np.uint64(shift)
    return MAX_LEVEL - (tz >> 1)


def range_min_np(ids: np.ndarray) -> np.ndarray:
    u = ids.astype(np.uint64)
    lsb = u & (~u + np.uint64(1))
    return (u - lsb + np.uint64(1)).astype(np.int64)


def range_max_np(ids: np.ndarray) -> np.ndarray:
    u = ids.astype(np.uint64)
    lsb = u & (~u + np.uint64(1))
    return (u + lsb - np.uint64(1)).astype(np.int64)


def cell_center_latlng(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell id -> (lat, lng) of the cell center, degrees."""
    ids = np.asarray(ids)
    lvl = level_np(ids)
    face, i, j = to_face_ij(ids)
    size = (np.int64(1) << (MAX_LEVEL - lvl)).astype(np.int64)
    # exact st center of the cell's ij block
    ci = (i & ~(size - 1)) + size * 0.5
    cj = (j & ~(size - 1)) + size * 0.5
    u = _st_to_uv(ci / (1 << MAX_LEVEL))
    v = _st_to_uv(cj / (1 << MAX_LEVEL))
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    charts = [
        (lambda u, v: (np.ones_like(u), u, v)),
        (lambda u, v: (-u, np.ones_like(u), v)),
        (lambda u, v: (-u, -v, np.ones_like(u))),
        (lambda u, v: (-np.ones_like(u), -v, -u)),
        (lambda u, v: (v, -np.ones_like(u), -u)),
        (lambda u, v: (v, u, -np.ones_like(u))),
    ]
    for f, chart in enumerate(charts):
        m = face == f
        if m.any():
            xf, yf, zf = chart(u[m], v[m])
            x[m], y[m], z[m] = xf, yf, zf
    norm = np.sqrt(x * x + y * y + z * z)
    lat = np.degrees(np.arcsin(z / norm))
    lng = np.degrees(np.arctan2(y, x))
    return lat, lng


def kring_np(ids: np.ndarray, k: int) -> np.ndarray:
    """(n, (2k+1)^2) array of same-level neighbor ids by ij offset.

    Face-local (offsets clamped at the face edge — cells at a face edge get
    their own id for out-of-face slots). UK-scale data lives on one face,
    so this covers the reference's proximity-join use (J4,
    SCORING_STRATEGY.md:212-220); cross-face neighbor stitching is
    deliberately out of scope and documented.
    """
    ids = np.asarray(ids)
    lvl = level_np(ids)
    if len(lvl) and (lvl != lvl[0]).any():
        raise ValueError("kring_np expects uniform-level ids")
    face, i, j = to_face_ij(ids)
    size = np.int64(1) << np.int64(MAX_LEVEL - int(lvl[0]))
    hi = np.int64((1 << MAX_LEVEL) - 1)
    out = np.empty((len(ids), (2 * k + 1) ** 2), dtype=np.int64)
    col = 0
    for di in range(-k, k + 1):
        for dj in range(-k, k + 1):
            ni = np.clip(i + di * size, 0, hi)
            nj = np.clip(j + dj * size, 0, hi)
            out[:, col] = parent_np(from_face_ij(face, ni, nj), int(lvl[0]))
            col += 1
    return out


def min_cell_width_m(ids: np.ndarray, radius_m: float = 6371000.0) -> float:
    """Minimum haversine edge length (meters) over the given cells' 4
    boundary edges. The S2 quadratic projection makes cell width vary ~2×
    across a face (global level-L minimum is near face corners), so any
    'k rings reach radius R' argument must use the *local* minimum width,
    not a window-eyeballed constant."""
    lats, lngs = cell_boundary_latlng(np.asarray(ids))
    phi = np.radians(lats)
    lam = np.radians(lngs)
    nxt = [1, 2, 3, 0]
    dphi = phi[:, nxt] - phi
    dlam = lam[:, nxt] - lam
    h = (
        np.sin(dphi / 2.0) ** 2
        + np.cos(phi) * np.cos(phi[:, nxt]) * np.sin(dlam / 2.0) ** 2
    )
    d = 2.0 * radius_m * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))
    return float(d.min())


def kring_k_for_radius(ids: np.ndarray, radius_m: float, max_k: int = 16) -> int:
    """Smallest k such that k rings around any of `ids` provably span
    `radius_m`, derived from the measured minimum cell width over the
    traversed band (iterated to a fixed point: widening the ring can lower
    the local minimum width, which can demand a larger k). Raises if the
    ring would hit a face edge — kring_np is face-local, so cross-face
    neighbors would be silently dropped."""
    ids = np.asarray(ids)
    k = max(1, int(np.ceil(radius_m / min_cell_width_m(ids))))
    for _ in range(8):
        band = np.unique(kring_np(ids, k).ravel())
        k_new = max(1, int(np.ceil(radius_m / min_cell_width_m(band))))
        if k_new <= k:
            break
        k = k_new
    else:
        raise ValueError("kring_k_for_radius: k did not converge")
    if k > max_k:
        raise ValueError(f"kring_k_for_radius: k={k} exceeds max_k={max_k}")
    lvl = int(level_np(ids[:1])[0])
    size = np.int64(1) << np.int64(MAX_LEVEL - lvl)
    _, i, j = to_face_ij(ids)
    hi = np.int64(1 << MAX_LEVEL)
    if (
        (i - k * size < 0).any()
        or (j - k * size < 0).any()
        or (i + (k + 1) * size > hi).any()
        or (j + (k + 1) * size > hi).any()
    ):
        raise ValueError(
            "kring_k_for_radius: ring reaches an S2 face edge; kring_np is "
            "face-local and would drop cross-face neighbors"
        )
    return k


def cover_rect(
    lat_lo: float, lat_hi: float, lng_lo: float, lng_hi: float, level: int
) -> np.ndarray:
    """Cell ids at `level` covering a lat/lng rectangle that lies on a
    single face (true for UK-scale windows). Exact cover via the face's
    monotone ij box — the Spark replacement for the reference's
    `way && ST_Transform(...)` bbox window (verify_import.py:316):
    the returned IN-list/range set prunes parquet row groups via min-max
    stats on the sorted cell column.
    """
    # lat/lng rectangles do NOT map to uv-rectangles on a face: on the polar
    # face (UK latitudes) u = -cot(lat)·cos(lng) has an interior extremum
    # along a constant-lat edge where the window straddles the chart
    # centerline (lng = 0 / ±90 / 180), so corner-derived ij boxes can bulge
    # short. uv extremes over the closed rect still occur on its *boundary*
    # (u and v are monotone in lat at fixed lng), so: densely sample all four
    # edges, explicitly include the centerline crossings, then pad the ij box
    # by one cell per side to absorb residual sampling error — a guaranteed
    # superset, at most one extra ring of cells.
    t = np.linspace(0.0, 1.0, 257)
    edge_lat = np.concatenate(
        [
            np.full_like(t, lat_lo),
            np.full_like(t, lat_hi),
            lat_lo + (lat_hi - lat_lo) * t,
            lat_lo + (lat_hi - lat_lo) * t,
        ]
    )
    edge_lng = np.concatenate(
        [
            lng_lo + (lng_hi - lng_lo) * t,
            lng_lo + (lng_hi - lng_lo) * t,
            np.full_like(t, lng_lo),
            np.full_like(t, lng_hi),
        ]
    )
    for meridian in (-180.0, -90.0, 0.0, 90.0, 180.0):
        if lng_lo < meridian < lng_hi:
            edge_lat = np.concatenate([edge_lat, [lat_lo, lat_hi]])
            edge_lng = np.concatenate([edge_lng, [meridian, meridian]])
    x, y, z = _latlng_to_xyz(edge_lat, edge_lng)
    face, u, v = _xyz_to_face_uv(x, y, z)
    if len(np.unique(face)) != 1:
        raise ValueError("cover_rect: rectangle spans multiple S2 faces")
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))
    step = 1 << (MAX_LEVEL - level)
    n_cells = (1 << MAX_LEVEL) // step - 1
    i0, i1 = max(i.min() // step - 1, 0), min(i.max() // step + 1, n_cells)
    j0, j1 = max(j.min() // step - 1, 0), min(j.max() // step + 1, n_cells)
    ii, jj = np.meshgrid(
        np.arange(i0, i1 + 1) * step, np.arange(j0, j1 + 1) * step, indexing="ij"
    )
    f = np.full(ii.size, int(face[0]), dtype=np.int64)
    return np.unique(parent_np(from_face_ij(f, ii.ravel(), jj.ravel()), level))


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def s2_cell_udf(level: int):
    """Vectorized Arrow UDF: (lat, lng) -> S2 cell id at `level`."""

    @pandas_udf("long")
    def _s2(lat: pd.Series, lng: pd.Series) -> pd.Series:
        return pd.Series(cell_np(lat.to_numpy(), lng.to_numpy(), level))

    return _s2


def with_s2_cell(
    df: DataFrame, lat: str, lng: str, level: int, out: str = "s2_cell"
) -> DataFrame:
    return df.withColumn(out, s2_cell_udf(level)(F.col(lat), F.col(lng)))


def s2_parent_sql(cell: str, parent_level: int) -> str:
    """Parent cell id as SQL bit ops (parent_np's twin), so rollups from a
    fine indexed level to coarser tiles stay in whole-stage codegen."""
    lsb = lsb_for_level(parent_level)
    return f"((({cell}) & ({-lsb})) | {lsb})"


def merge_ranges(cover: np.ndarray) -> list[tuple[int, int]]:
    """[range_min, range_max] intervals of the cover cells, with
    curve-contiguous cells merged (a rect cover at one level is mostly
    contiguous Hilbert runs, so 100s of cells → 10s of intervals)."""
    lo = np.sort(range_min_np(np.asarray(cover)))
    hi = np.sort(range_max_np(np.asarray(cover)))
    out: list[tuple[int, int]] = []
    cur_lo, cur_hi = int(lo[0]), int(hi[0])
    for a, b in zip(lo[1:].tolist(), hi[1:].tolist()):
        # curve-consecutive cells leave a gap of exactly 2: range_min ids
        # carry the leaf marker (odd), so the even value between one cell's
        # range_max and the next's range_min is never a valid id.
        if a <= cur_hi + 2:
            cur_hi = max(cur_hi, b)
        else:
            out.append((cur_lo, cur_hi))
            cur_lo, cur_hi = a, b
    out.append((cur_lo, cur_hi))
    return out


def s2_range_predicate(cell: str, cover: np.ndarray, max_ranges: int = 64) -> str:
    """SQL predicate `cell within any cover member's descendant range`.

    Curve-contiguous cover cells are merged first; the result is an OR of
    range tests on the sorted cell column — min-max prunable at the parquet
    scan. If the merged cover is still wide (> max_ranges intervals, where
    a deep OR chain would bloat the plan), falls back to snapping the cell
    to the cover's level (pure bit ops) + a hash-set IN — not scan-prunable
    but O(1) per row and flat in the plan."""
    if len(cover) == 0:
        return "FALSE"
    ranges = merge_ranges(cover)
    if len(ranges) <= max_ranges:
        return " OR ".join(f"(({cell}) >= {a} AND ({cell}) <= {b})" for a, b in ranges)
    # The wide-cover fallback must honor mixed-level covers (normalize_cover
    # emits them): snapping every cell to one member's level silently excludes
    # cells under coarser members. Group cover ids by level and OR one
    # snapped IN predicate per level.
    cover_arr = np.asarray(cover)
    levels = level_np(cover_arr)
    return " OR ".join(
        f"({s2_parent_sql(cell, int(lvl))} IN "
        f"({', '.join(str(int(v)) for v in cover_arr[levels == lvl])}))"
        for lvl in np.unique(levels)
    )


def normalize_cover(cover: np.ndarray) -> np.ndarray:
    """RegionCoverer-style normalization: any 4 complete siblings collapse
    to their parent, repeatedly — mixed-level covers with far fewer cells
    (a rect cover at one level shrinks ~2-3×), hence fewer BETWEEN ranges
    after merge_ranges. Descendant-range semantics are unchanged: the
    normalized cover spans exactly the same leaf range set."""
    ids = np.unique(np.asarray(cover))
    while True:
        lvl = level_np(ids)
        if len(ids) < 4 or (lvl == 0).all():
            return ids
        # scan sorted ids for complete 4-sibling runs (sorted order puts
        # siblings adjacent because they tile the parent's id range)
        out = []
        changed = False
        i = 0
        ids_list = ids.tolist()
        lvl_list = lvl.tolist()
        n = len(ids_list)
        while i < n:
            cid, cl = ids_list[i], lvl_list[i]
            if cl > 0 and i + 3 < n and lvl_list[i + 3] == cl:
                sibs = ids_list[i : i + 4]
                if lvl_list[i + 1] == cl and lvl_list[i + 2] == cl:
                    p = int(parent_np(np.array(sibs[:1]), cl - 1)[0])
                    lo, hi = int(range_min_np(np.array([p]))[0]), int(
                        range_max_np(np.array([p]))[0]
                    )
                    step = lsb_for_level(cl) * 2
                    if sibs == [lo + lsb_for_level(cl) - 1 + k * step for k in range(4)]:
                        out.append(p)
                        i += 4
                        changed = True
                        continue
            out.append(cid)
            i += 1
        ids = np.array(sorted(out), dtype=np.int64)
        if not changed:
            return ids


def cell_boundary_latlng(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell id -> (lat[n,4], lng[n,4]) corner vertices (S2 cell_to_boundary
    / H3 cell_to_boundary equivalent) in ij order (ll, lr, ur, ul) — for
    GeoJSON/choropleth vector output alongside hexgrid.boundary_np."""
    ids = np.asarray(ids)
    lvl = level_np(ids)
    face, i, j = to_face_ij(ids)
    size = (np.int64(1) << (MAX_LEVEL - lvl)).astype(np.int64)
    i0 = (i & ~(size - 1)).astype(np.float64)
    j0 = (j & ~(size - 1)).astype(np.float64)
    scale = float(1 << MAX_LEVEL)
    lats = np.empty((len(ids), 4))
    lngs = np.empty((len(ids), 4))
    corners = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    for c, (di, dj) in enumerate(corners):
        u = _st_to_uv((i0 + di * size) / scale)
        v = _st_to_uv((j0 + dj * size) / scale)
        x = np.empty_like(u)
        y = np.empty_like(u)
        z = np.empty_like(u)
        charts = [
            (lambda u, v: (np.ones_like(u), u, v)),
            (lambda u, v: (-u, np.ones_like(u), v)),
            (lambda u, v: (-u, -v, np.ones_like(u))),
            (lambda u, v: (-np.ones_like(u), -v, -u)),
            (lambda u, v: (v, -np.ones_like(u), -u)),
            (lambda u, v: (v, u, -np.ones_like(u))),
        ]
        for f, chart in enumerate(charts):
            m = face == f
            if m.any():
                x[m], y[m], z[m] = chart(u[m], v[m])
        norm = np.sqrt(x * x + y * y + z * z)
        lats[:, c] = np.degrees(np.arcsin(z / norm))
        lngs[:, c] = np.degrees(np.arctan2(y, x))
    return lats, lngs
