"""S2 cell indexing — faithful, from-scratch, fully vectorized.

Implements the public S2 cell-id scheme (quadratic ST projection + Hilbert
curve on the 6 cube faces, 64-bit ids, levels 0..30) for the north-star
requirement of S2 indexing on Spark (BASELINE.json north_star), as the
Spark replacement for the reference's GiST spatial index
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

Two bit-identical forms, as for the other cell indexes:

- **SQL text**: cell assignment (`s2_cell_steps`) and cell corners
  (`s2_corner_steps`) are ordered (column, SQL) step lists; Spark runs
  them as JVM expressions (`with_s2_cell`) and the DuckDB oracles embed
  the same texts (contract_cells._s2_assign_cte). Work on assigned ids —
  parents (`s2_parent_sql`) and cover predicates (`s2_range_predicate`)
  — is one SQL text each.
- **numpy** (`cell_np`, `from_face_ij`, …): the reference in tests and
  the driver-side code (covers, k-rings, boundaries). O(1) passes per
  4-bit Hilbert chunk (8 iterations for 30 levels), no per-row Python.

Derivation is from the published algorithm (s2geometry docs; Hilbert
lookup-table construction); no third-party s2 library exists in this
environment, so tests assert the structural invariants the format
guarantees: prefix-nesting of parents, trailing-bit level encoding,
round-trip center containment, monotone curve locality.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from osmgraft.geo.hexgrid import lit_sql

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
    # per-face (u, v) from the public face chart
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        u = np.choose(face, [y / x, -x / y, -x / z, z / x, z / y, -y / z])
        v = np.choose(face, [z / x, z / y, -y / z, y / x, -x / y, -x / z])
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
    """lat/lng degrees -> S2 cell id at `level`: the reference for
    s2_cell_steps. A NaN or ±inf lat or lng gives 0, S2's invalid id
    (every valid id ends in a 1 bit); the SQL steps give NULL."""
    lat = np.asarray(lat_deg, float)
    lng = np.asarray(lng_deg, float)
    ok = np.isfinite(lat) & np.isfinite(lng)
    x, y, z = _latlng_to_xyz(np.where(ok, lat, 0.0), np.where(ok, lng, 0.0))
    face, u, v = _xyz_to_face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))
    leaf = from_face_ij(face, i, j)
    return np.where(ok, parent_np(leaf, level), 0)


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


def _face_uv_to_latlng(face, u, v):
    """(face, u, v) -> (lat, lng) degrees through the public face charts."""
    x, y, z = np.empty_like(u), np.empty_like(u), np.empty_like(u)
    one = np.ones_like(u)
    charts = [
        (one, u, v), (-u, one, v), (-u, -v, one),
        (-one, -v, -u), (v, -one, -u), (v, u, -one),
    ]
    for f, (xf, yf, zf) in enumerate(charts):
        m = face == f
        x[m], y[m], z[m] = xf[m], yf[m], zf[m]
    norm = np.sqrt(x * x + y * y + z * z)
    return np.degrees(np.arcsin(z / norm)), np.degrees(np.arctan2(y, x))


def cell_center_latlng(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell id -> (lat, lng) of the cell center, degrees."""
    ids = np.asarray(ids)
    lvl = level_np(ids)
    face, i, j = to_face_ij(ids)
    size = (np.int64(1) << (MAX_LEVEL - lvl)).astype(np.int64)
    # exact st center of the cell's ij block
    ci = ((i & ~(size - 1)) + size * 0.5) / (1 << MAX_LEVEL)
    cj = ((j & ~(size - 1)) + size * 0.5) / (1 << MAX_LEVEL)
    return _face_uv_to_latlng(face, _st_to_uv(ci), _st_to_uv(cj))


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
# SQL text — one step list that Spark runs (with_s2_cell) and the DuckDB
# oracles embed (contract_cells._s2_assign_cte)
# ---------------------------------------------------------------------------

# face << 61 as signed 64-bit literals: shifting a face into bit 63 raises
# in DuckDB, and 4 << 61 is -2^63, whose literal does not parse as BIGINT
_FACE_BITS = ("0", str(1 << 61), str(2 << 61), str(3 << 61),
              "-9223372036854775807 - 1", str((5 << 61) - (1 << 64)))
# face chart (_xyz_to_face_uv): u and v share the face's major axis as
# their denominator, so each is one division
_CHART_U = ("_s2_y", "-_s2_x", "-_s2_x", "_s2_z", "_s2_z", "-_s2_y")
_CHART_V = ("_s2_z", "_s2_z", "-_s2_y", "_s2_y", "-_s2_x", "-_s2_x")
_MAJOR = ("_s2_x", "_s2_y", "_s2_z") * 2


def _by_face(face: str, branches) -> str:
    """CASE over the six faces, NULL for a NULL face."""
    return f"CASE {face} " + " ".join(f"WHEN {f} THEN {b}" for f, b in enumerate(branches)) + " END"


def _uv_to_st_sql(u: str) -> str:
    return (
        f"CASE WHEN {u} >= 0 THEN 0.5e0 * SQRT(1.0e0 + 3.0e0 * {u}) "
        f"ELSE 1.0e0 - 0.5e0 * SQRT(1.0e0 - 3.0e0 * {u}) END"
    )


def _st_to_ij_sql(s: str) -> str:
    n = 1 << MAX_LEVEL
    return f"CAST(LEAST(GREATEST(FLOOR({n} * {s}), 0), {n - 1}) AS INT)"


def s2_cell_steps(lat: str, lng: str, level: int, *, dialect: str) -> list[tuple[str, str]]:
    """cell_np as ordered (column, SQL) steps over the lat/lng degree
    columns; each reads the columns before it, and the last, `_s2_cell`,
    is the id. Steps, not one text: every Hilbert step reads i and j, and
    the id reads every Hilbert step, so one text would repeat the chain
    dozens of times. The only dialect split is the lookup array and its
    accessor.

    A NULL, NaN or ±inf lat or lng gives a NULL cell: `_s2_ok` is false
    for NaN and ±inf in both engines and NULL for NULL, and no later step
    reads the raw value (DuckDB raises on COS(±inf) and on NaN to BIGINT)."""
    vals = ",".join(str(int(v)) for v in _LOOKUP_POS)
    if dialect == "spark":
        # one string literal: Spark folds it to the same constant array,
        # and analyses it faster than an array() of 1,024 literals
        lut, get = f"CAST(split('{vals}', ',') AS ARRAY<INT>)", "element_at"
    else:
        lut, get = f"[{vals}]", "list_extract"
    steps = [
        ("_s2_ok", f"{lat} - {lat} = 0 AND {lng} - {lng} = 0"),
        ("_s2_phi", f"CASE WHEN _s2_ok THEN RADIANS({lat}) END"),
        ("_s2_theta", f"CASE WHEN _s2_ok THEN RADIANS({lng}) END"),
        ("_s2_x", "COS(_s2_phi) * COS(_s2_theta)"),
        ("_s2_y", "COS(_s2_phi) * SIN(_s2_theta)"),
        ("_s2_z", "SIN(_s2_phi)"),
        (
            "_s2_face",
            "CASE WHEN _s2_ok THEN "
            "CASE WHEN ABS(_s2_x) >= ABS(_s2_y) AND ABS(_s2_x) >= ABS(_s2_z) "
            "THEN CASE WHEN _s2_x < 0 THEN 3 ELSE 0 END "
            "WHEN ABS(_s2_y) >= ABS(_s2_z) THEN CASE WHEN _s2_y < 0 THEN 4 ELSE 1 END "
            "ELSE CASE WHEN _s2_z < 0 THEN 5 ELSE 2 END END END",
        ),
        ("_s2_d", _by_face("_s2_face", _MAJOR)),
        ("_s2_u", f"{_by_face('_s2_face', _CHART_U)} / _s2_d"),
        ("_s2_v", f"{_by_face('_s2_face', _CHART_V)} / _s2_d"),
        ("_s2_s", _uv_to_st_sql("_s2_u")),
        ("_s2_t", _uv_to_st_sql("_s2_v")),
        ("_s2_i", _st_to_ij_sql("_s2_s")),
        ("_s2_j", _st_to_ij_sql("_s2_t")),
        ("_s2_lut", lut),
        ("_s2_p8", "_s2_face & 1"),
    ]
    # The Hilbert walk, 4 bits of i and j per step: p = lookup value, its
    # position bits << 2 | the orientation the next step reads. INT
    # shifts and ors, so Spark emits no overflow checks: the whole chain
    # is generated into one Java method, which HotSpot leaves interpreted
    # above 8,000 bytes of bytecode. Shifts bind tighter than `&` and `|`
    # in Spark, while DuckDB groups `>> << & |` left to right: the
    # parentheses make both read these texts alike.
    for k in range(7, -1, -1):
        steps.append((
            f"_s2_p{k}",
            f"{get}(_s2_lut, ((_s2_p{k + 1} & 3) | ((_s2_i >> {4 * k} & 15) << 6) "
            f"| ((_s2_j >> {4 * k} & 15) << 2)) + 1)",
        ))
    pos = " | ".join(f"(CAST(_s2_p{k} >> 2 AS BIGINT) << {8 * k + 1})" for k in range(7, -1, -1))
    leaf = f"{pos} | {_by_face('_s2_face', _FACE_BITS)} | 1"
    steps.append(("_s2_cell", s2_parent_sql(leaf, level)))
    return steps


def with_s2_cell(
    df: DataFrame, lat: str, lng: str, level: int, out: str = "s2_cell", keep_face_ij: bool = False
) -> DataFrame:
    """Attach the S2 cell id at `level` (s2_cell_steps, run as JVM
    expressions). With `keep_face_ij`, the face and leaf i/j are kept as
    `{out}_face`, `{out}_i`, `{out}_j` (what the cell corners read)."""
    steps = s2_cell_steps(lat, lng, level, dialect="spark")
    kept = ["`" + c.replace("`", "``") + "`" for c in df.columns]
    if keep_face_ij:
        kept += [f"_s2_face AS {out}_face", f"_s2_i AS {out}_i", f"_s2_j AS {out}_j"]
    # one projection: each step reads the ones before it as lateral aliases
    steps_df = df.selectExpr("*", *(f"{sql} AS {col}" for col, sql in steps))
    # The id leaves through a one-element explode: a Generate, which a
    # filter on `out` cannot be pushed below. Without it Catalyst pushes
    # such a filter through the step projections and inlines every step
    # into each reference, repeating the chain dozens of times (where each
    # step reads the one before twice, an `isin` of two ids took 23 s to
    # optimize into a 6 MB plan).
    return steps_df.selectExpr(*kept, f"explode(array(_s2_cell)) AS {out}")


# face charts (_face_uv_to_latlng): the (x, y, z) of face point (u, v)
_CHART_XYZ = (
    ("1", "-{u}", "-{u}", "-1", "{v}", "{v}"),
    ("{u}", "1", "-{v}", "-{v}", "-1", "{u}"),
    ("{v}", "{v}", "1", "-{u}", "-{u}", "-1"),
)


def _st_to_uv_sql(s: str) -> str:
    third = lit_sql(1.0 / 3.0)
    return (
        f"CASE WHEN {s} >= 0.5e0 THEN {third} * (4.0e0 * {s} * {s} - 1.0e0) "
        f"ELSE {third} * (1.0e0 - 4.0e0 * (1.0e0 - {s}) * (1.0e0 - {s})) END"
    )


def s2_corner_steps(face: str, i0: str, j0: str, level: int) -> list[tuple[str, str]]:
    """The 4 corner vertices of level-`level` cells as ordered (column,
    SQL) steps, from the face and the cell's min leaf i/j (`i & -size`):
    st -> uv -> face chart -> xyz -> ASIN/ATAN2, cell_boundary_latlng in
    ij order (ll, lr, ur, ul). Outputs `vlat{c}`, `vlng{c}` in degrees,
    rounded to 6 places; `+ 0.0` turns -0.0 into 0.0 (ATAN2 of a tiny
    negative y gives -0.0 in SQL where numpy gives 0.0). The same text
    runs in Spark and DuckDB."""
    size = 1 << (MAX_LEVEL - level)
    inv = lit_sql(1.0 / (1 << MAX_LEVEL))  # 2^-30: `*` equals numpy's `/`
    steps = []
    for c, (di, dj) in enumerate([(0, 0), (1, 0), (1, 1), (0, 1)]):
        steps.append((f"_s2_u{c}", _st_to_uv_sql(f"(({i0} + {di * size}) * {inv})")))
        steps.append((f"_s2_v{c}", _st_to_uv_sql(f"(({j0} + {dj * size}) * {inv})")))
    for c in range(4):
        x, y, z = (f"_s2_{a}{c}" for a in "xyz")
        for col, chart in zip((x, y, z), _CHART_XYZ):
            uv = (e.format(u=f"_s2_u{c}", v=f"_s2_v{c}") for e in chart)
            steps.append((col, _by_face(face, uv)))
        norm = f"SQRT({x} * {x} + {y} * {y} + {z} * {z})"
        steps.append((f"vlat{c}", f"ROUND(DEGREES(ASIN({z} / {norm})), 6) + 0.0e0"))
        steps.append((f"vlng{c}", f"ROUND(DEGREES(ATAN2({y}, {x})), 6) + 0.0e0"))
    return steps


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
    i0 = (i & ~(size - 1)).astype(np.float64)[:, None]
    j0 = (j & ~(size - 1)).astype(np.float64)[:, None]
    scale = float(1 << MAX_LEVEL)
    u = _st_to_uv((i0 + np.array([0.0, 1.0, 1.0, 0.0]) * size[:, None]) / scale)
    v = _st_to_uv((j0 + np.array([0.0, 0.0, 1.0, 1.0]) * size[:, None]) / scale)
    return _face_uv_to_latlng(np.repeat(face[:, None], 4, axis=1), u, v)
