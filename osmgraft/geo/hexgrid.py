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

Three bit-identical backends, all built from the same numeric literals:

1. **JVM Column expressions** (default hot path — whole-stage codegen, no
   Python);
2. **numpy** (for Arrow/pandas-UDF geometry kernels);
3. **SQL text generator** (`hex_qr_sql`) so DuckDB oracles recompute the
   same assignment — same floor/abs/CASE structure, same double literals,
   hence identical IEEE-754 results (rounding is `floor(v + 0.5)`
   everywhere; never `round()`, whose tie/half mode differs per engine).

Not bit-compatible with Uber H3 ids (that scheme's icosahedral base-cell
tables are gratuitous on a planar CRS); compatible in capability.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- shared numeric literals (single source of truth for all 3 backends) ---
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
# JVM Column backend (same literals, same op order — bit-identical)
# ---------------------------------------------------------------------------


def _cube_round_cols(qf: Column, rf: Column) -> tuple[Column, Column]:
    sf = -qf - rf
    rq = F.floor(qf + F.lit(0.5))
    rr = F.floor(rf + F.lit(0.5))
    rs = F.floor(sf + F.lit(0.5))
    dq = F.abs(rq.cast("double") - qf)
    dr = F.abs(rr.cast("double") - rf)
    ds = F.abs(rs.cast("double") - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    q = F.when(fix_q, -rr - rs).otherwise(rq).cast("long")
    r = F.when(fix_r, -rq - rs).otherwise(rr).cast("long")
    return q, r


def hex_cell_col(x: Column, y: Column, res: int) -> Column:
    """Hex cell id as a pure-JVM expression (whole-stage codegen; the
    default hot path — the numpy form exists for kernels that are
    already inside pandas)."""
    e = edge_m(res)
    qf = (x * F.lit(K_Q_X) - y * F.lit(K_Q_Y)) / F.lit(e)
    rf = (y * F.lit(K_R_Y)) / F.lit(e)
    q, r = _cube_round_cols(qf, rf)
    return (
        F.shiftleft(F.lit(res).cast("long"), 56)
        .bitwiseOR(F.shiftleft(q + F.lit(OFF), 28))
        .bitwiseOR(r + F.lit(OFF))
    )


def hex_center_cols(cell: Column, res: int) -> tuple[Column, Column]:
    e = edge_m(res)
    q = (F.shiftright(cell, 28).bitwiseAND(F.lit((1 << 28) - 1)) - F.lit(OFF)).cast(
        "double"
    )
    r = (cell.bitwiseAND(F.lit((1 << 28) - 1)) - F.lit(OFF)).cast("double")
    x = F.lit(e * SQRT3) * (q + r * F.lit(0.5))
    y = F.lit(e * 1.5) * r
    return x, y


def hex_parent_col(cell: Column, res: int, parent_res: int) -> Column:
    x, y = hex_center_cols(cell, res)
    return hex_cell_col(x, y, parent_res)


def hex_kring_col(cell: Column, res: int, k: int) -> Column:
    """Array of ids at hex distance ≤ k — JVM-side (expand the small join
    side; the big side keeps its single equi-join key)."""
    q = F.shiftright(cell, 28).bitwiseAND(F.lit((1 << 28) - 1)) - F.lit(OFF)
    r = cell.bitwiseAND(F.lit((1 << 28) - 1)) - F.lit(OFF)
    base = F.shiftleft(F.lit(res).cast("long"), 56)
    offs = [
        (dq, dr)
        for dq in range(-k, k + 1)
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1)
    ]
    return F.array(
        *[
            base.bitwiseOR(F.shiftleft(q + F.lit(dq + OFF), 28)).bitwiseOR(
                r + F.lit(dr + OFF)
            )
            for dq, dr in offs
        ]
    )


def with_hex_cell(df: DataFrame, x: str, y: str, res: int, out: str = "hex_cell") -> DataFrame:
    return df.withColumn(out, hex_cell_col(F.col(x), F.col(y), res))


# ---------------------------------------------------------------------------
# SQL backend (DuckDB oracle generator — same literals/structure)
# ---------------------------------------------------------------------------


def lit_sql(v: float) -> str:
    """Float literal in e-notation: DuckDB types bare decimal literals as
    DECIMAL, whose decimal->double conversion can be 1 ulp off the correctly
    rounded parse; e-notation literals are typed DOUBLE directly, keeping
    the oracle bit-identical to the JVM/numpy backends."""
    r = repr(float(v))
    return r if ("e" in r or "E" in r) else f"{r}e0"


def hex_qr_sql(x_sql: str, y_sql: str, res: int) -> tuple[str, str, str]:
    """Returns (pre_cte_sql, q_expr, r_expr): SQL recomputing the axial
    cube-rounded coordinates. Caller embeds `pre_cte_sql` as a projection
    CTE, then groups on the packed id built from q/r."""
    e = lit_sql(edge_m(res))
    pre = (
        f"SELECT *, (({x_sql}) * {lit_sql(K_Q_X)} - ({y_sql}) * {lit_sql(K_Q_Y)}) / {e} AS qf, "
        f"(({y_sql}) * {lit_sql(K_R_Y)}) / {e} AS rf"
    )
    return pre, "qf", "rf"


def hex_round_qr_sql(qf: str, rf: str) -> tuple[str, str]:
    """SQL expressions for the cube-rounded integer axial coords — same
    floor/abs/CASE structure as the numpy and Column backends."""
    sf = f"(-({qf}) - ({rf}))"
    rq = f"FLOOR(({qf}) + 0.5)"
    rr = f"FLOOR(({rf}) + 0.5)"
    rs = f"FLOOR({sf} + 0.5)"
    dq = f"ABS({rq} - ({qf}))"
    dr = f"ABS({rr} - ({rf}))"
    ds = f"ABS({rs} - {sf})"
    fix_q = f"({dq} > {dr} AND {dq} > {ds})"
    fix_r = f"(NOT {fix_q} AND {dr} > {ds})"
    q = f"CAST(CASE WHEN {fix_q} THEN -{rr} - {rs} ELSE {rq} END AS BIGINT)"
    r = f"CAST(CASE WHEN {fix_r} THEN -{rq} - {rs} ELSE {rr} END AS BIGINT)"
    return q, r


def hex_pack_sql(q: str, r: str, res: int) -> str:
    return f"((CAST({res} AS BIGINT) << 56) | ((({q}) + {OFF}) << 28) | (({r}) + {OFF}))"


def hex_round_pack_sql(qf: str, rf: str, res: int) -> str:
    """SQL expression: cube-round (qf, rf) and pack into the 63-bit id."""
    q, r = hex_round_qr_sql(qf, rf)
    return hex_pack_sql(q, r, res)


# ---------------------------------------------------------------------------
# polyfill — polygon → hex cell cover (H3 polyfill equivalent)
# ---------------------------------------------------------------------------


def polyfill_np(ring: np.ndarray, res: int) -> np.ndarray:
    """Hex cells at `res` whose center lies inside the polygon (H3's
    polyfill containment rule). Candidate generation walks the polygon's
    bbox in axial space (O(area/cell_area)); containment is the same
    even-odd ray cast the PIP engine uses (osmgraft.geo.pip). Output is the
    pruning cover for boundary-polygon queries: `cell IN polyfill(poly)`
    replaces the geometry test for interior work at scale."""
    from osmgraft.geo.pip import _ray_cast

    ring = np.asarray(ring, dtype=float)
    xs, ys = ring[:, 0], ring[:, 1]
    e = edge_m(res)
    # axial bbox with one-cell margin
    corners_q = (K_Q_X * np.array([xs.min(), xs.max()]) - K_Q_Y * np.array([ys.min(), ys.max()])[::-1]) / e
    q_lo = int(np.floor(min(corners_q))) - 2
    q_hi = int(np.ceil(max(corners_q))) + 2
    r_lo = int(np.floor((K_R_Y * ys.min()) / e)) - 2
    r_hi = int(np.ceil((K_R_Y * ys.max()) / e)) + 2
    qq, rr = np.meshgrid(np.arange(q_lo, q_hi + 1), np.arange(r_lo, r_hi + 1), indexing="ij")
    ids = pack_np(qq.ravel().astype(np.int64), rr.ravel().astype(np.int64), res)
    cx, cy = center_np(ids)
    inside = _ray_cast(ring, cx, cy)
    return np.sort(ids[inside])


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


def hex_polyfill_df(spark, ring: np.ndarray, res: int) -> DataFrame:
    """Distributed polyfill: DataFrame(hex_cell) of cells whose center lies
    in the polygon. Candidates are generated executor-side (spark.range
    over the axial bbox — no driver materialization, so a country-sized
    polygon at fine res costs no py4j transfer), containment is the JVM
    ray cast. Broadcast the (small) result against the fact table's cell
    column; at cluster scale write it once and partition-prune on it."""
    ring = np.asarray(ring, dtype=float)
    xs, ys = ring[:, 0], ring[:, 1]
    e = edge_m(res)
    q_lo = int(np.floor((K_Q_X * xs.min() - K_Q_Y * ys.max()) / e)) - 2
    q_hi = int(np.ceil((K_Q_X * xs.max() - K_Q_Y * ys.min()) / e)) + 2
    r_lo = int(np.floor((K_R_Y * ys.min()) / e)) - 2
    r_hi = int(np.ceil((K_R_Y * ys.max()) / e)) + 2
    nr = r_hi - r_lo + 1
    cand = spark.range((q_hi - q_lo + 1) * nr).select(
        (F.col("id") / nr).cast("long") + F.lit(q_lo),
        (F.col("id") % nr) + F.lit(r_lo),
    ).toDF("q", "r")
    cx = (F.col("q").cast("double") + F.col("r").cast("double") * F.lit(0.5)) * F.lit(e * SQRT3)
    cy = F.col("r").cast("double") * F.lit(e * 1.5)
    inside = point_in_ring_col(cx, cy, ring)
    return cand.where(inside).select(
        F.shiftleft(F.lit(res).cast("long"), 56)
        .bitwiseOR(F.shiftleft(F.col("q") + F.lit(OFF), 28))
        .bitwiseOR(F.col("r") + F.lit(OFF))
        .alias("hex_cell")
    )


def hex_center_sql(qi: str, ri: str, res: int) -> tuple[str, str]:
    """SQL (cx, cy) cell-center expressions from integer axial (qi, ri) —
    the single source for the center formula (oracles previously
    re-derived it in three places; a drifted copy would silently break
    the bit-identity the oracles prove)."""
    e = edge_m(res)
    return (
        f"({lit_sql(e * SQRT3)} * ({qi} + ({ri}) * 0.5))",
        f"({lit_sql(e * 1.5)} * ({ri}))",
    )
