"""H3-style hexagonal cell index — aperture-7 multiresolution hex tiling.

The north-star design (BASELINE.json) calls for H3 res 7-10 hexagonal
indexing as vectorized UDFs. This module provides a from-scratch hexagonal
grid with H3's key properties, re-derived for a *planar* CRS (EPSG:3857-style
meters — matching the reference's planar geometry throughout,
05_import_data.sh:131, SURVEY.md §7.3 item 6):

- **aperture-7 resolution ladder**: cell area shrinks 7× per resolution
  step, calibrated so res 7 edge ≈ 1409 m == Uber H3's published res-7 mean
  edge (res 8 ≈ 533 m, res 9 ≈ 201 m, res 10 ≈ 76 m);
- **axial (q, r) addressing** with cube rounding, packed into a sortable
  63-bit id `(res << 56) | (q+2^27) << 28 | (r+2^27)`;
- **k-ring** neighborhoods (exact hex distance ≤ k) for proximity joins
  (reference J4, SCORING_STRATEGY.md:212-220);
- **parent/child** via center re-indexing at the coarser resolution (like
  H3, hex apertures admit no exact nesting; the parent of a cell is the
  coarser cell containing its center).

Two bit-identical forms, built from the same numeric literals:

1. **numpy** (driver-side kernels and the reference in tests);
2. **SQL text** (`hex_cell_sql`, `hex_center_sql`, `hex_parent_sql`,
   `hex_kring_sql`): Spark parses it with `F.expr` (whole-stage codegen,
   no Python) and the DuckDB oracles embed the same text — same
   floor/abs/CASE structure, same double literals, hence identical
   IEEE-754 results (rounding is `floor(v + 0.5)` everywhere; never
   `round()`, whose tie/half mode differs per engine).

Not bit-compatible with Uber H3 ids (that scheme's icosahedral base-cell
tables are gratuitous on a planar CRS); compatible in capability.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# --- shared numeric literals (single source of truth for both forms) ---
RES7_EDGE_M = 1409.5  # H3 res-7 mean hex edge, meters
EDGE0_M = RES7_EDGE_M * 7.0**3.5  # aperture-7 ladder anchor (res 0)
K_Q_X = 0.5773502691896258  # sqrt(3)/3
K_Q_Y = 0.3333333333333333  # 1/3
K_R_Y = 0.6666666666666666  # 2/3
SQRT3 = 1.7320508075688772
OFF = 1 << 27  # axial-coordinate bias (supports |q|,|r| < 2^27)
MIN_RES, MAX_RES = 0, 13  # res 13 edge ≈ 1.55 m; packing-safe for Mercator


def edge_m(res: int) -> float:
    """Hex edge length in meters at `res` (aperture-7 ladder)."""
    if not MIN_RES <= res <= MAX_RES:
        raise ValueError(f"hex res must be in [{MIN_RES},{MAX_RES}]")
    return EDGE0_M * 7.0 ** (-res / 2.0)


def hex_area_m2(res: int) -> float:
    e = edge_m(res)
    return 1.5 * SQRT3 * e * e


# ---------------------------------------------------------------------------
# numpy backend
# ---------------------------------------------------------------------------


def _axial_np(x: np.ndarray, y: np.ndarray, res: int):
    e = edge_m(res)
    qf = (K_Q_X * x - K_Q_Y * y) / e
    rf = (K_R_Y * y) / e
    return _cube_round_np(qf, rf)


def _cube_round_np(qf: np.ndarray, rf: np.ndarray):
    sf = -qf - rf
    rq = np.floor(qf + 0.5)
    rr = np.floor(rf + 0.5)
    rs = np.floor(sf + 0.5)
    dq = np.abs(rq - qf)
    dr = np.abs(rr - rf)
    ds = np.abs(rs - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    q = np.where(fix_q, -rr - rs, rq).astype(np.int64)
    r = np.where(fix_r, -rq - rs, rr).astype(np.int64)
    return q, r


def pack_np(q: np.ndarray, r: np.ndarray, res: int) -> np.ndarray:
    return (
        (np.int64(res) << np.int64(56))
        | ((q + np.int64(OFF)) << np.int64(28))
        | (r + np.int64(OFF))
    )


def unpack_np(ids: np.ndarray):
    res = (ids >> np.int64(56)).astype(np.int64)
    q = ((ids >> np.int64(28)) & np.int64((1 << 28) - 1)) - np.int64(OFF)
    r = (ids & np.int64((1 << 28) - 1)) - np.int64(OFF)
    return q, r, res


def cell_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """(x, y) planar meters -> hex cell id at `res` (vectorized)."""
    q, r = _axial_np(np.asarray(x, float), np.asarray(y, float), res)
    return pack_np(q, r, res)


def center_np(ids: np.ndarray):
    """Cell id -> (x, y) of hex center."""
    q, r, res = unpack_np(np.asarray(ids))
    if len(ids) and (res != res[0]).any():
        raise ValueError("center_np expects uniform-res ids")
    e = edge_m(int(res[0])) if len(ids) else 0.0
    x = e * SQRT3 * (q + r * 0.5)
    y = e * 1.5 * r
    return x, y


def parent_np(ids: np.ndarray, parent_res: int) -> np.ndarray:
    """Coarser cell containing this cell's center (H3-like approximate
    nesting; exact for the cell center by construction)."""
    x, y = center_np(np.asarray(ids))
    return cell_np(x, y, parent_res)


def kring_np(ids: np.ndarray, k: int) -> np.ndarray:
    """(n, 1+3k(k+1)) ids with hex distance ≤ k from each input cell."""
    ids = np.asarray(ids)
    q, r, res = unpack_np(ids)
    if len(ids) and (res != res[0]).any():
        raise ValueError("kring_np expects uniform-res ids")
    offs = [
        (dq, dr)
        for dq in range(-k, k + 1)
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1)
    ]
    out = np.empty((len(ids), len(offs)), dtype=np.int64)
    for c, (dq, dr) in enumerate(offs):
        out[:, c] = pack_np(q + dq, r + dr, int(res[0]) if len(ids) else 0)
    return out


def hex_distance_np(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    qa, ra, _ = unpack_np(np.asarray(a))
    qb, rb, _ = unpack_np(np.asarray(b))
    dq = qa - qb
    dr = ra - rb
    return (np.abs(dq) + np.abs(dr) + np.abs(dq + dr)) // 2


def boundary_np(ids: np.ndarray) -> np.ndarray:
    """(n, 6, 2) hex vertex coordinates (pointy-top), for raster→vector
    tile output (reference's tile/boundary exports, 08_export_results.sh)."""
    x, y = center_np(np.asarray(ids))
    _, _, res = unpack_np(np.asarray(ids))
    e = edge_m(int(res[0])) if len(ids) else 0.0
    ang = np.radians(np.arange(6) * 60.0 + 30.0)
    vx = x[:, None] + e * np.cos(ang)[None, :]
    vy = y[:, None] + e * np.sin(ang)[None, :]
    return np.stack([vx, vy], axis=-1)


# ---------------------------------------------------------------------------
# SQL text — one emitter that Spark parses (F.expr) and DuckDB oracles embed
# ---------------------------------------------------------------------------


def lit_sql(v: float) -> str:
    """Float literal in e-notation: both engines type bare decimal literals
    as DECIMAL (Spark: `0.5` is DECIMAL(1,1)), whose decimal->double
    conversion can be 1 ulp off the correctly rounded parse; e-notation
    literals are typed DOUBLE directly, keeping the text bit-identical to
    the numpy kernels."""
    r = repr(float(v))
    return r if ("e" in r or "E" in r) else f"{r}e0"


# The emitters keep grouping parentheses to the few that precedence needs:
# Spark's parser slows down (and grows its cache) exponentially with their
# nesting depth. Inputs are column names or emitter outputs. `+ - * / %`
# bind tighter than `<<`, `>>`, `&`, `|` in both engines; among those four,
# DuckDB groups left to right and Spark by precedence.


def hex_axial_sql(cell: str) -> tuple[str, str]:
    """Integer axial (q, r) of a packed cell id: with the res bits dropped
    the id is (q + OFF) * 2^28 + r + OFF, and `>>` floors, so no group is
    needed."""
    return (
        f"{cell} % {1 << 56} - {OFF << 28} >> 28",
        f"{cell} % {1 << 28} - {OFF}",
    )


def hex_cell_sql(x: str, y: str, res: int) -> str:
    """(x, y) planar meters -> hex cell id at `res`: cube rounding with the
    numpy kernel's floor/abs/CASE structure and literals (rounding is
    `floor(v + 0.5)`; never `round()`, whose tie mode differs per engine)."""
    e, half = lit_sql(edge_m(res)), lit_sql(0.5)
    qf = f"({x} * {lit_sql(K_Q_X)} - {y} * {lit_sql(K_Q_Y)}) / {e}"
    rf = f"{y} * {lit_sql(K_R_Y)} / {e}"
    sf = f"(-{qf} - {rf})"  # -(a) / e == -(a / e): negation is exact
    rq, rr, rs = (f"FLOOR({v} + {half})" for v in (qf, rf, sf))
    dq, dr, ds = f"ABS({rq} - {qf})", f"ABS({rr} - {rf})", f"ABS({rs} - {sf})"
    fix_q = f"{dq} > {dr} AND {dq} > {ds}"
    q = f"CAST(CASE WHEN {fix_q} THEN -{rr} - {rs} ELSE {rq} END AS BIGINT)"
    r = (
        f"CAST(CASE WHEN {fix_q} THEN {rr} WHEN {dr} > {ds} THEN -{rq} - {rs} "
        f"ELSE {rr} END AS BIGINT)"
    )
    return f"({res << 56} | ({q} + {OFF} << 28) | {r} + {OFF})"


def hex_center_sql(cell: str, res: int) -> tuple[str, str]:
    """(cx, cy) of a res-`res` cell's center (center_np's twin)."""
    q, r = (f"CAST({v} AS DOUBLE)" for v in hex_axial_sql(cell))
    e = edge_m(res)
    # unparenthesized products: as an operand they group the same way
    return f"{lit_sql(e * SQRT3)} * ({q} + {r} * {lit_sql(0.5)})", f"{lit_sql(e * 1.5)} * {r}"


def hex_parent_sql(cell: str, res: int, parent_res: int) -> str:
    """Coarser cell containing this cell's center (parent_np's twin)."""
    return hex_cell_sql(*hex_center_sql(cell, res), parent_res)


def hex_kring_sql(cell: str, k: int, *, dialect: str) -> str:
    """Array of ids at hex distance ≤ k, in kring_np's column order (expand
    the small join side; the big side keeps its single equi-join key).

    Each neighbour is the id plus a constant: the biased q/r fields do not
    carry while |q|, |r| < 2^27 - k. That also keeps `>>` out of the text:
    after an ARRAY keyword, Spark's lexer reads `>>` as two `>` tokens."""
    ids = ", ".join(
        f"{cell} + {(dq << 28) + dr}"
        for dq in range(-k, k + 1)
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1)
    )
    return f"array({ids})" if dialect == "spark" else f"[{ids}]"


def point_in_ring_col(cx: Column, cy: Column, ring: np.ndarray) -> Column:
    """Even-odd ray cast as a pure JVM expression for a plan-time-constant
    ring: one crossing term per edge (expression size O(edges)), the
    numpy ray cast's own term (osmgraft.geo.pip.crossing), so both agree
    bit for bit."""
    from osmgraft.geo.pip import crossing

    ring = np.asarray(ring, dtype=float).tolist()
    crossings = None
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        if y1 == y2:
            continue  # horizontal edges never cross the horizontal ray
        c = crossing(cx, cy, x1, y1, x2, y2).cast("int")
        crossings = c if crossings is None else crossings + c
    return (crossings % 2 == 1) if crossings is not None else F.lit(False)
