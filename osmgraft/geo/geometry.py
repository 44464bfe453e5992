"""Planar geometry math: WKB codec, numpy kernels and their SQL mirrors.

Replaces the PostGIS scalar surface the reference uses — ST_X/ST_Y
(07_pipeline_point.sh:206-207), ST_Centroid (07_pipeline_polygon.sh:274-275),
ST_Area (07_pipeline_polygon.sh:143), ST_Length
(scripts/verify/verify_import.py:339) — with planar (EPSG:3857-style) math,
matching the reference's Mercator-planar semantics (SURVEY.md §7.3 item 6).

All Spark-side geometry math is SQL over coordinate arrays
`array<struct<x: double, y: double>>`: length, area, centroid and validity
are higher-order-function SQL that repeats the numpy kernels' floating-point
operations in the same order, so no Python worker starts.

WKB (the standard OGC little-endian encoding, written and read with
`struct`/numpy) exists only where a file holds it: the boundary
`polygon_wkb` that `PipIndex.build` parses on the driver, the raster tiles
and the fixtures.
"""

from __future__ import annotations

import math
import struct

import numpy as np
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from osmgraft.geo.hexgrid import lit_sql

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3

# ---------------------------------------------------------------------------
# WKB codec (little-endian, 2D)
# ---------------------------------------------------------------------------


def point_wkb(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, WKB_POINT, x, y)


def linestring_wkb(coords: np.ndarray) -> bytes:
    head = struct.pack("<BII", 1, WKB_LINESTRING, len(coords))
    return head + np.asarray(coords, dtype="<f8").tobytes()


def polygon_wkb(ring: np.ndarray) -> bytes:
    """Single-ring polygon; ring must be closed (first == last vertex)."""
    ring = np.asarray(ring, dtype="<f8")
    head = struct.pack("<BIII", 1, WKB_POLYGON, 1, len(ring))
    return head + ring.tobytes()


def parse_wkb(buf: bytes) -> tuple[int, np.ndarray]:
    """Return (geom_type, coords[n,2]) for point/linestring/polygon(1 ring)."""
    endian = "<" if buf[0] == 1 else ">"
    (gtype,) = struct.unpack_from(f"{endian}I", buf, 1)
    if gtype == WKB_POINT:
        x, y = struct.unpack_from(f"{endian}dd", buf, 5)
        return gtype, np.array([[x, y]])
    if gtype == WKB_LINESTRING:
        (n,) = struct.unpack_from(f"{endian}I", buf, 5)
        coords = np.frombuffer(buf, dtype=f"{endian}f8", count=2 * n, offset=9)
        return gtype, coords.reshape(n, 2)
    if gtype == WKB_POLYGON:
        (nrings,) = struct.unpack_from(f"{endian}I", buf, 5)
        (n,) = struct.unpack_from(f"{endian}I", buf, 9)  # outer ring only
        coords = np.frombuffer(buf, dtype=f"{endian}f8", count=2 * n, offset=13)
        return gtype, coords.reshape(n, 2)
    raise ValueError(f"unsupported WKB geometry type {gtype}")


# ---------------------------------------------------------------------------
# vectorized kernels
# ---------------------------------------------------------------------------


def shoelace_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * abs((x * np.roll(y, -1) - np.roll(x, -1) * y).sum())


RING_DEGENERATE_AREA = 1e-12  # |signed area| below which ring_centroid gives up


def ring_centroid(ring: np.ndarray) -> tuple[float, float]:
    """Area-weighted polygon centroid (planar, matches ST_Centroid)."""
    x, y = ring[:, 0], ring[:, 1]
    cross = x * np.roll(y, -1) - np.roll(x, -1) * y
    a = cross.sum() / 2.0
    if abs(a) < RING_DEGENERATE_AREA:  # degenerate: fall back to vertex mean
        return float(x[:-1].mean()), float(y[:-1].mean())
    cx = ((x + np.roll(x, -1)) * cross).sum() / (6.0 * a)
    cy = ((y + np.roll(y, -1)) * cross).sum() / (6.0 * a)
    return float(cx), float(cy)


def path_length(coords: np.ndarray) -> float:
    """Summed segment lengths, added in a left fold (path_length_sql's order)."""
    d = np.diff(coords, axis=0)
    seg = np.sqrt((d * d).sum(axis=1))
    return float(np.add.accumulate(seg)[-1]) if len(seg) else 0.0


# ---------------------------------------------------------------------------
# coordinate arrays: SQL mirrors of the numpy kernels
# ---------------------------------------------------------------------------
# Spark has no geometry length, area or centroid function. Over `xy` (a
# polygon's closed outer ring, a line's path or a point's one vertex) these
# builders emit SQL that is bit-equal to the numpy kernels because it adds in
# their order: np.sum and np.mean fold left below 8 terms (from 8 terms
# numpy's pairwise sum unrolls by 8, and the fold may differ in the last
# bits). Every ring the pipeline, the fixtures and the registry build has at
# most 6 vertices; path_length folds left at any length, since tracks are
# longer. The per-vertex terms are one `transform` (or `zip_with`), their
# sums one `aggregate`.

XY_TYPE = ArrayType(StructType([StructField("x", DoubleType()), StructField("y", DoubleType())]))


def ring_sql(xy: str) -> str:
    """struct<area, cx, cy> of the closed ring `xy`: shoelace_area and
    ring_centroid (the vertex mean of the open ring when degenerate)."""
    n = f"size({xy})"
    nxt = f"{xy}[(_i + 1) % {n}]"
    terms = (
        f"transform({xy}, (_p, _i) -> named_struct("
        f"'c', _p.x * {nxt}.y - {nxt}.x * _p.y, "
        f"'sx', _p.x + {nxt}.x, 'sy', _p.y + {nxt}.y, "
        f"'x', IF(_i < {n} - 1, _p.x, 0D), 'y', IF(_i < {n} - 1, _p.y, 0D)))"
    )
    start = "named_struct('c', 0D, 'wx', 0D, 'wy', 0D, 'mx', 0D, 'my', 0D)"
    merge = (
        "(_a, _t) -> named_struct("
        "'c', _a.c + _t.c, 'wx', _a.wx + _t.sx * _t.c, 'wy', _a.wy + _t.sy * _t.c, "
        "'mx', _a.mx + _t.x, 'my', _a.my + _t.y)"
    )
    half = "(_a.c / 2.0D)"
    degenerate = f"abs({half}) < {RING_DEGENERATE_AREA!r}"
    finish = (
        "_a -> named_struct("
        "'area', 0.5D * abs(_a.c), "
        f"'cx', IF({degenerate}, try_divide(_a.mx, {n} - 1), _a.wx / (6.0D * {half})), "
        f"'cy', IF({degenerate}, try_divide(_a.my, {n} - 1), _a.wy / (6.0D * {half})))"
    )
    return f"aggregate({terms}, {start}, {merge}, {finish})"


def path_centroid_sql(xy: str) -> str:
    """struct<cx, cy>: the vertex mean of `xy` (a line's centroid)."""
    return (
        f"aggregate({xy}, named_struct('x', 0D, 'y', 0D), "
        "(_a, _p) -> named_struct('x', _a.x + _p.x, 'y', _a.y + _p.y), "
        f"_a -> named_struct('cx', try_divide(_a.x, size({xy})), "
        f"'cy', try_divide(_a.y, size({xy}))))"
    )


def path_length_sql(xy: str) -> str:
    """path_length of the path `xy`: each segment is zipped with its start
    vertex, and the lengths are added left to right (0.0 for one vertex)."""
    head, tail = f"slice({xy}, 1, size({xy}) - 1)", f"slice({xy}, 2, size({xy}) - 1)"
    return (
        f"aggregate(zip_with({tail}, {head}, "
        "(_b, _a) -> sqrt((_b.x - _a.x) * (_b.x - _a.x) + (_b.y - _a.y) * (_b.y - _a.y))), "
        "0D, (_s, _d) -> _s + _d)"
    )


# ---------------------------------------------------------------------------
# Web-Mercator (EPSG:3857) bridge — the reference's storage CRS
# (05_import_data.sh:131 `--proj 3857`). Links the geographic S2 path
# (lat/lng) to the planar hex/Z-order/area math. Spherical formula: numpy
# kernels, and e-notation SQL text that Spark and the oracles both run.
# ---------------------------------------------------------------------------

WEB_MERCATOR_R = 6378137.0


def mercator_np(lat: "np.ndarray", lng: "np.ndarray") -> tuple["np.ndarray", "np.ndarray"]:
    x = WEB_MERCATOR_R * np.radians(lng)
    y = WEB_MERCATOR_R * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
    return x, y


def inv_mercator_np(x: "np.ndarray", y: "np.ndarray") -> tuple["np.ndarray", "np.ndarray"]:
    lat = np.degrees(2.0 * np.arctan(np.exp(y / WEB_MERCATOR_R)) - np.pi / 2.0)
    lng = np.degrees(x / WEB_MERCATOR_R)
    return lat, lng


def mercator_sql(lat_sql: str, lng_sql: str) -> tuple[str, str]:
    """(lat, lng) degrees -> EPSG:3857 meters (mercator_np's op order and
    constants)."""
    r = lit_sql(WEB_MERCATOR_R)
    x = f"({r} * radians({lng_sql}))"
    y = f"({r} * ln(tan({lit_sql(math.pi / 4.0)} + radians({lat_sql}) / {lit_sql(2.0)})))"
    return x, y


def inv_mercator_sql(x_sql: str, y_sql: str) -> tuple[str, str]:
    """EPSG:3857 meters -> (lat, lng) degrees (inv_mercator_np's twin)."""
    r = lit_sql(WEB_MERCATOR_R)
    lat = (
        f"degrees({lit_sql(2.0)} * atan(exp(({y_sql}) / {r})) - {lit_sql(math.pi / 2.0)})"
    )
    return lat, f"degrees(({x_sql}) / {r})"


# ---------------------------------------------------------------------------
# geometry validity audit (reference verify_import.py:223-231 ST_IsValid)
# ---------------------------------------------------------------------------

# classification precedence (first failing check wins) — the SQL oracle in
# contract.wkb_validity mirrors this exact CASE order
VALIDITY_REASONS = (
    "unparseable",
    "nonfinite_coord",
    "too_few_points",
    "unclosed_ring",
    "zero_area",
    "valid",
)

# collinear rings cancel to ~1e-4 of float noise at UK-grid magnitudes;
# genuine fixture areas are >= 1e5 m² — a 1.0 m² floor is engine-robust
ZERO_AREA_EPS = 1.0


def wkb_validity_reason(buf: bytes) -> str:
    """First failing validity check for one WKB blob (polygon semantics:
    point/linestring blobs only get the parse + finite checks)."""
    try:
        gtype, coords = parse_wkb(bytes(buf))
    except Exception:  # noqa: BLE001 — any malformed byte layout
        return "unparseable"
    if not np.isfinite(coords).all():
        return "nonfinite_coord"
    if gtype != WKB_POLYGON:
        return "valid"
    if len(coords) < 4:
        return "too_few_points"
    if coords[0, 0] != coords[-1, 0] or coords[0, 1] != coords[-1, 1]:
        return "unclosed_ring"
    if shoelace_area(coords[:-1]) < ZERO_AREA_EPS:
        return "zero_area"
    return "valid"


def xy_validity_sql(xy: str = "way_xy", kind: str = "geom_kind") -> str:
    """wkb_validity_reason over a coordinate array: the same checks in the
    same order, with polygon semantics where `kind` is 'polygon'. A NULL
    array (a page without a location) is 'unparseable', as a NULL blob is."""
    inf = "CAST('Infinity' AS DOUBLE)"
    open_ring = f"slice({xy}, 1, size({xy}) - 1)"
    return (
        f"CASE WHEN {xy} IS NULL THEN 'unparseable' "
        f"WHEN exists({xy}, _p -> NOT (abs(_p.x) < {inf} AND abs(_p.y) < {inf})) "
        "THEN 'nonfinite_coord' "
        f"WHEN coalesce({kind}, '') != 'polygon' THEN 'valid' "
        f"WHEN size({xy}) < 4 THEN 'too_few_points' "
        f"WHEN {xy}[0].x != element_at({xy}, -1).x OR {xy}[0].y != element_at({xy}, -1).y "
        "THEN 'unclosed_ring' "
        f"WHEN {ring_sql(open_ring)}.area < {ZERO_AREA_EPS!r} THEN 'zero_area' "
        "ELSE 'valid' END"
    )
