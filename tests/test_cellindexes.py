"""Property tests for the S2, H3-style hex and Z-order cell indexes.

Structural invariants the cell-id formats guarantee, plus one cross-engine
test: each index's SQL-text emitter runs unchanged in Spark and in DuckDB,
and both equal the numpy twin bit for bit."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osmgraft.geo import cells
from osmgraft.geo import hexgrid as hg
from osmgraft.geo import s2
from osmgraft.geo.geometry import inv_mercator_np, inv_mercator_sql, mercator_np, mercator_sql

RNG = np.random.default_rng(42)
N = 5000
LAT = RNG.uniform(49.5, 59.5, N)
LNG = RNG.uniform(-8.0, 2.0, N)
X = RNG.uniform(0.0, 700000.0, N)
Y = RNG.uniform(0.0, 700000.0, N)


# ---------------------------------------------------------------------------
# S2 invariants
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("level", [0, 5, 9, 12, 20, 30])
def test_s2_level_encoding(level):
    ids = s2.cell_np(LAT, LNG, level)
    assert (s2.level_np(ids) == level).all()
    # valid id: face < 6, trailing-1 marker present
    assert ((ids.astype(np.uint64) >> np.uint64(61)) < 6).all()


@pytest.mark.parametrize("level", [5, 12, 25, 30])
def test_s2_parent_nesting(level):
    ids = s2.cell_np(LAT, LNG, level)
    for plevel in (level - 1, max(level - 7, 0)):
        p = s2.parent_np(ids, plevel)
        assert (s2.level_np(p) == plevel).all()
        assert ((s2.range_min_np(p) <= ids) & (ids <= s2.range_max_np(p))).all()
        # parent is a prefix: same cell when the point is indexed coarsely
        assert (s2.cell_np(LAT, LNG, plevel) == p).all()


@pytest.mark.parametrize("level", [8, 12, 16])
def test_s2_center_roundtrip(level):
    ids = s2.cell_np(LAT, LNG, level)
    clat, clng = s2.cell_center_latlng(ids)
    assert (s2.cell_np(clat, clng, level) == ids).all()


def test_s2_leaf_center_accuracy():
    leaf = s2.cell_np(LAT, LNG, 30)
    clat, clng = s2.cell_center_latlng(leaf)
    assert np.abs(clat - LAT).max() < 1e-5
    dlng = np.abs(((clng - LNG + 180.0) % 360.0) - 180.0)
    assert dlng.max() < 1e-4


def test_s2_kring():
    ids = s2.cell_np(LAT[:100], LNG[:100], 12)
    kr = s2.kring_np(ids, 2)
    assert kr.shape == (100, 25)
    assert (s2.level_np(kr.ravel()) == 12).all()
    # center cell present; neighbors geometrically near (within ~3 cell diags)
    assert ((kr == ids[:, None]).sum(axis=1) >= 1).all()
    clat0, clng0 = s2.cell_center_latlng(ids)
    clat, clng = s2.cell_center_latlng(kr.ravel())
    d = np.hypot(clat - np.repeat(clat0, 25), clng - np.repeat(clng0, 25))
    assert d.max() < 0.3  # level-12 cells are ~0.02 deg


def test_s2_cover_is_superset():
    lat_lo, lat_hi, lng_lo, lng_hi = 51.0, 54.0, -3.5, 1.0
    for level in (7, 9, 11):
        cover = s2.cover_rect(lat_lo, lat_hi, lng_lo, lng_hi, level)
        inside = (
            (LAT >= lat_lo) & (LAT <= lat_hi) & (LNG >= lng_lo) & (LNG <= lng_hi)
        )
        cells = s2.cell_np(LAT[inside], LNG[inside], level)
        assert np.isin(cells, cover).all()


def test_s2_merge_ranges_cover_equivalence():
    cover = s2.cover_rect(51.0, 54.0, -3.5, 1.0, 9)
    ranges = merge = s2.merge_ranges(cover)
    assert len(merge) < len(cover) / 3  # rect covers are mostly contiguous
    # membership via ranges == membership via cell set, on leaf ids
    leaf = s2.cell_np(LAT, LNG, 30)
    in_ranges = np.zeros(len(leaf), dtype=bool)
    for a, b in ranges:
        in_ranges |= (leaf >= a) & (leaf <= b)
    in_cover = np.isin(s2.cell_np(LAT, LNG, 9), cover)
    assert (in_ranges == in_cover).all()


def test_s2_locality_sorted_ids_are_spatially_near():
    # median great-circle-ish distance between id-sorted neighbors must be
    # far below random pairing — the property that makes sorted parquet
    # writes cluster hotspots.
    ids = s2.cell_np(LAT, LNG, 30)
    order = np.argsort(ids)
    d_sorted = np.hypot(np.diff(LAT[order]), np.diff(LNG[order]))
    d_random = np.hypot(np.diff(LAT), np.diff(LNG))
    assert np.median(d_sorted) < np.median(d_random) / 10


# ---------------------------------------------------------------------------
# Hex grid: numpy vs SQL text + invariants
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("res", [7, 8, 9, 10])
def test_hex_numpy_vs_duckdb(res):
    ids = hg.cell_np(X, Y, res)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"x": X, "y": Y}))
    got = (
        con.execute(f"SELECT {hg.hex_cell_sql('x', 'y', res)} AS id FROM pts")
        .df()["id"]
        .to_numpy()
    )
    assert (got == ids).all()


def test_hex_jvm_vs_numpy(spark):
    pdf = pd.DataFrame({"i": np.arange(N), "x": X, "y": Y})
    sdf = spark.createDataFrame(pdf)
    for res in (7, 9):
        got = (
            sdf.select("i", F.expr(hg.hex_cell_sql("x", "y", res)).alias("c"))
            .orderBy("i")
            .toPandas()["c"]
            .to_numpy()
        )
        assert (got == hg.cell_np(X, Y, res)).all()


def test_hex_cell_contains_point():
    for res in (7, 10):
        ids = hg.cell_np(X, Y, res)
        cx, cy = hg.center_np(ids)
        # circumradius = edge: every point within edge of its cell center
        assert np.hypot(cx - X, cy - Y).max() <= hg.edge_m(res) + 1e-9
        # and each point's nearest cell center among the 1-ring is its own
        kr = hg.kring_np(ids, 1)
        for col in range(kr.shape[1]):
            ox, oy = hg.center_np(kr[:, col])
            keep = kr[:, col] != ids
            assert (
                np.hypot(ox - X, oy - Y)[keep] >= np.hypot(cx - X, cy - Y)[keep] - 1e-9
            ).all()


def test_hex_kring_exact_distance():
    ids = hg.cell_np(X[:50], Y[:50], 9)
    for k in (1, 3):
        kr = hg.kring_np(ids, k)
        assert kr.shape[1] == 1 + 3 * k * (k + 1)
        rep = np.repeat(ids, kr.shape[1])
        assert (hg.hex_distance_np(rep, kr.ravel()) <= k).all()


def test_hex_area_ladder_matches_h3():
    # aperture-7: area ratio 7 per res; res 7-10 sizes match H3's ladder
    for res in range(1, 11):
        assert hg.hex_area_m2(res - 1) / hg.hex_area_m2(res) == pytest.approx(7.0)
    assert hg.hex_area_m2(7) / 1e6 == pytest.approx(5.16, rel=0.01)
    assert hg.edge_m(10) == pytest.approx(76.1, rel=0.01)


def test_hex_boundary_hexagon():
    ids = hg.cell_np(X[:10], Y[:10], 8)
    b = hg.boundary_np(ids)
    assert b.shape == (10, 6, 2)
    cx, cy = hg.center_np(ids)
    d = np.hypot(b[..., 0] - cx[:, None], b[..., 1] - cy[:, None])
    assert np.allclose(d, hg.edge_m(8))


def test_hex_hotspot_salted_rollup_matches_plain(spark):
    """North-rule skew handling on the hex index: a London-grade hotspot
    (most rows in one cell) rolled up via salted two-phase aggregation must
    equal the plain rollup exactly."""
    from osmgraft.runtime.salting import salted_aggregate

    n = 20000
    hot_x, hot_y = 530000.0, 180000.0  # dense cell
    xs = np.where(np.arange(n) % 10 < 8, hot_x, X[:n] if len(X) >= n else hot_x)
    ys = np.where(np.arange(n) % 10 < 8, hot_y, Y[:n] if len(Y) >= n else hot_y)
    pdf = pd.DataFrame({"x": xs[:n], "y": ys[:n], "v": np.arange(n) % 97})
    sdf = spark.createDataFrame(pdf).withColumn(
        "cell", F.expr(hg.hex_cell_sql("x", "y", 8))
    )
    plain = {
        r["cell"]: (r["n"], r["s"])
        for r in sdf.groupBy("cell")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        r["cell"]: (r["n"], r["s"])
        for r in salted_aggregate(
            sdf,
            ["cell"],
            [F.count(F.lit(1)).alias("pn"), F.sum("v").alias("ps")],
            [F.sum("pn").alias("n"), F.sum("ps").alias("s")],
            buckets=8,
        ).collect()
    }
    assert salted == plain
    assert max(v[0] for v in plain.values()) > 0.5 * n  # skew was real


# ---------------------------------------------------------------------------
# One emitter per index: Spark and DuckDB run the same SQL text, and both
# equal the numpy twin bit for bit (libm outputs: see _LIBM)
# ---------------------------------------------------------------------------

_SPEC = cells.GridSpec()
_R = np.random.default_rng(10)
_N = 20_000


def _ties() -> tuple[np.ndarray, np.ndarray]:
    """Exact half-cell ties: Z-order grid lines at res 7 (some past the
    extent), hex cell vertices and midpoints between neighbouring hex
    centres at res 8."""
    w = _SPEC.cell_width(7)
    gx = _SPEC.x0 + w * _R.integers(-3, 132, 1000).astype(float)
    gy = _SPEC.y0 + w * _R.integers(-3, 132, 1000).astype(float)
    ids = hg.cell_np(_R.uniform(-1e5, 8e5, 500), _R.uniform(-1e5, 8e5, 500), 8)
    cx, cy = hg.center_np(ids)
    nx, ny = hg.center_np(hg.kring_np(ids, 1)[:, 1])
    vx, vy = hg.boundary_np(ids)[:, 0].T
    return (
        np.concatenate([gx, _R.uniform(-1e5, 8e5, 1000), (cx + nx) / 2, vx]),
        np.concatenate([_R.uniform(-1e5, 8e5, 1000), gy, (cy + ny) / 2, vy]),
    )


_TX, _TY = _ties()
# seeded points past the grid extent on every side, then the ties
_PX = np.concatenate([_R.uniform(-1e5, 8e5, _N), _TX])
_PY = np.concatenate([_R.uniform(-1e5, 8e5, _N), _TY])
_LAT = _R.uniform(-85.0, 85.0, _N)
_LNG = _R.uniform(-180.0, 180.0, _N)


def _zorder_kring_np(ix: np.ndarray, iy: np.ndarray, res: int, k: int) -> list:
    n = 1 << res
    out = []
    for a, b in zip(ix.tolist(), iy.tolist()):
        jx = np.repeat(np.arange(a - k, a + k + 1), 2 * k + 1)
        jy = np.tile(np.arange(b - k, b + k + 1), 2 * k + 1)
        on = (jx >= 0) & (jx < n) & (jy >= 0) & (jy < n)
        m = cells.morton_np(jx[on], jy[on])
        out.append(((m << np.uint64(cells.RES_BITS)) | np.uint64(res)).astype(np.int64))
    return out


# outputs that go through tan/ln/exp/atan: the JVM, DuckDB's libm and
# numpy's SIMD kernels each round those their own way (apart on 5-40 % of
# rows), so they agree to two ulps of the column's largest magnitude
_LIBM = {("mercator", 1), ("inv_mercator", 0)}


def _case(name: str):
    """(input columns, dialect -> output SQL expressions, numpy outputs)."""
    xy = {"x": _PX, "y": _PY}
    if name.startswith("zorder_cell"):
        res = int(name.split("_")[-1])
        return xy, lambda d: [cells.cell_sql("x", "y", _SPEC, res)], [
            cells.cell_np(_PX, _PY, _SPEC, res)
        ]
    if name == "zorder_parent":
        fine = cells.cell_np(_PX, _PY, _SPEC, 12)
        return {"c": fine}, lambda d: [cells.parent_cell_sql("c", 12, 6)], [
            cells.cell_np(_PX, _PY, _SPEC, 6)
        ]
    if name == "zorder_kring":
        ix, iy = cells.grid_ix_np(_PX, _SPEC, 7), cells.grid_iy_np(_PY, _SPEC, 7)
        return (
            {"ix": ix, "iy": iy},
            lambda d: [cells.kring_cells_sql("ix", "iy", 7, 2, dialect=d)],
            [_zorder_kring_np(ix, iy, 7, 2)],
        )
    if name.startswith("hex_cell"):
        res = int(name.split("_")[-1])
        return xy, lambda d: [hg.hex_cell_sql("x", "y", res)], [hg.cell_np(_PX, _PY, res)]
    if name == "hex_center":
        ids = hg.cell_np(_PX, _PY, 8)
        return {"c": ids}, lambda d: list(hg.hex_center_sql("c", 8)), list(hg.center_np(ids))
    if name == "hex_parent":
        ids = hg.cell_np(_PX, _PY, 9)
        return {"c": ids}, lambda d: [hg.hex_parent_sql("c", 9, 7)], [hg.parent_np(ids, 7)]
    if name == "hex_kring":
        ids = hg.cell_np(_PX, _PY, 8)
        return (
            {"c": ids},
            lambda d: [hg.hex_kring_sql("c", 2, dialect=d)],
            [list(hg.kring_np(ids, 2))],
        )
    if name == "mercator":
        return (
            {"lat": _LAT, "lng": _LNG},
            lambda d: list(mercator_sql("lat", "lng")),
            list(mercator_np(_LAT, _LNG)),
        )
    if name == "inv_mercator":
        mx, my = mercator_np(_LAT, _LNG)
        lat, lng = inv_mercator_np(mx, my)
        assert np.allclose(lat, _LAT, atol=1e-9) and np.allclose(lng, _LNG, atol=1e-9)
        return {"x": mx, "y": my}, lambda d: list(inv_mercator_sql("x", "y")), [lat, lng]
    if name.startswith("s2_cell"):
        level = int(name.split("_")[-1])
        lat, lat0, a = _with_odd(_LAT, _ODD_A)
        lng, lng0, b = _with_odd(_LNG, _ODD_B)

        def steps(d):
            return [
                ("lat", _odd_sql("lat0", "a")),
                ("lng", _odd_sql("lng0", "b")),
                *s2.s2_cell_steps("lat", "lng", level, dialect=d),
                ("o", "COALESCE(_s2_cell, 0)"),
            ]

        return {"lat0": lat0, "a": a, "lng0": lng0, "b": b}, steps, [s2.cell_np(lat, lng, level)]
    assert name == "s2_parent"
    ids = s2.cell_np(_LAT, _LNG, 12)
    return {"c": ids}, lambda d: [s2.s2_parent_sql("c", 8)], [s2.parent_np(ids, 8)]


# NULL, NaN, ±inf, ±0.0 and a finite value, each paired with each (NaN
# stands for NULL in numpy). The first four reach SQL by a code column:
# pandas hands NaN to both engines as NULL.
_ODD = np.array([np.nan, np.nan, np.inf, -np.inf, -0.0, 0.0, 51.5])
_ODD_SQL = ["NULL", "CAST('NaN' AS DOUBLE)", "CAST('Infinity' AS DOUBLE)", "CAST('-Infinity' AS DOUBLE)"]
_ODD_A, _ODD_B = (g.ravel() for g in np.meshgrid(np.arange(len(_ODD)), np.arange(len(_ODD))))


def _with_odd(v: np.ndarray, k: np.ndarray):
    """`v` plus the _ODD[k] rows: (numpy values, raw column, code column);
    code c > 0 stands for _ODD_SQL[c - 1]."""
    vals = np.concatenate([v, _ODD[k]])
    code = np.concatenate([np.zeros(len(v), int), np.where(k < len(_ODD_SQL), k + 1, 0)])
    return vals, np.where(code > 0, 0.0, vals), code


def _odd_sql(v: str, code: str) -> str:
    branches = " ".join(f"WHEN {c + 1} THEN {e}" for c, e in enumerate(_ODD_SQL))
    return f"CASE {code} {branches} ELSE {v} END"


_CASES = [
    *(f"zorder_cell_{r}" for r in (0, 3, 7, 12, 26)),
    "zorder_parent",
    "zorder_kring",
    *(f"hex_cell_{r}" for r in (7, 8, 9)),
    "hex_center",
    "hex_parent",
    "hex_kring",
    "mercator",
    "inv_mercator",
    "s2_parent",
    *(f"s2_cell_{r}" for r in (0, 12, 30)),
]


def _bits(v) -> list:
    """Exact comparison key: float64 bit patterns, int64 values, and
    arrays element by element."""
    if len(v) and np.ndim(v[0]):
        return [_bits(e) for e in v]
    a = np.asarray(v)
    return (a.astype(np.float64).view(np.int64) if a.dtype.kind == "f" else a.astype(np.int64)).tolist()


@pytest.mark.parametrize("name", _CASES)
def test_emitter_spark_duckdb_numpy(spark, name):
    """Each emitter gives output expressions, or (column, SQL) steps whose
    last column is the one output; both engines run the same texts."""
    cols, sql, want = _case(name)
    pdf = pd.DataFrame({"i": np.arange(len(next(iter(cols.values())))), **cols})
    outs = [f"o{k}" for k in range(len(want))]
    con = duckdb.connect()
    con.register("t", pdf)
    if isinstance(sql("spark")[0], tuple):
        sdf, src = spark.createDataFrame(pdf), "t"
        for col, e in sql("spark"):
            sdf = sdf.withColumn(col, F.expr(e))
        for col, e in sql("duckdb"):
            src = f"(SELECT *, {e} AS {col} FROM {src})"
        got_spark = sdf.select("i", F.col(col).alias("o0")).orderBy("i").toPandas()
        got_duck = con.execute(f"SELECT i, {col} AS o0 FROM {src} ORDER BY i").df()
    else:
        got_spark = (
            spark.createDataFrame(pdf)
            .selectExpr("i", *(f"{e} AS {o}" for e, o in zip(sql("spark"), outs)))
            .orderBy("i")
            .toPandas()
        )
        sel = ", ".join(f"{e} AS {o}" for e, o in zip(sql("duckdb"), outs))
        got_duck = con.execute(f"SELECT i, {sel} FROM t ORDER BY i").df()
    for k, (o, w) in enumerate(zip(outs, want)):
        for engine, got in (("spark", got_spark[o]), ("duckdb", got_duck[o])):
            if (name, k) in _LIBM:
                tol = 2 * np.spacing(np.abs(w).max())
                assert np.abs(got.to_numpy() - w).max() <= tol, f"{engine} {o}"
            else:
                assert _bits(got.tolist()) == _bits(w), f"{engine} {o}"


def test_s2_normalize_cover_equivalent_and_smaller():
    cover = s2.cover_rect(50.0, 59.0, -8.0, 2.0, 9)
    norm = s2.normalize_cover(cover)
    assert len(norm) < len(cover) / 4  # sibling collapse really fires
    levels = np.unique(s2.level_np(norm))
    assert len(levels) > 1  # mixed-level output
    # identical leaf coverage
    leaf = s2.cell_np(LAT, LNG, 30)

    def covered(c):
        got = np.zeros(len(leaf), bool)
        for a, b in zip(s2.range_min_np(c), s2.range_max_np(c)):
            got |= (leaf >= a) & (leaf <= b)
        return got

    assert (covered(cover) == covered(norm)).all()


def test_s2_cell_boundary():
    ids = s2.cell_np(LAT[:200], LNG[:200], 10)
    blat, blng = s2.cell_boundary_latlng(ids)
    assert blat.shape == (200, 4) and blng.shape == (200, 4)
    clat, clng = s2.cell_center_latlng(ids)
    # center strictly inside the corner bbox; corners near the center
    assert ((blat.min(1) < clat) & (clat < blat.max(1))).all()
    assert ((blng.min(1) < clng) & (clng < blng.max(1))).all()
    d = np.hypot(blat - clat[:, None], blng - clng[:, None])
    assert d.max() < 0.2  # level-10 cells are ~0.07 deg across
    # a point nudged slightly inside each corner re-indexes to the cell
    eps = 1e-3
    for c in range(4):
        nlat = blat[:, c] * (1 - eps) + clat * eps
        nlng = blng[:, c] * (1 - eps) + clng * eps
        assert (s2.cell_np(nlat, nlng, 10) == ids).all()


def test_s2_cover_rect_edge_heavy_superset():
    """Round-2 regression (ADVICE r1): lat/lng rects don't map to
    uv-rects — on the polar face u has an interior extremum along
    constant-lat edges where the window straddles lng=0, so corner-derived
    ij boxes undercover. The fixed cover must be a superset on edge-heavy
    samples for straddling windows at several levels."""
    rng = np.random.default_rng(7)
    cases = [
        (52.07, 53.33, -2.94, 1.17, 13),  # the verified counterexample
        (51.1, 54.3, -3.7, 0.9, 9),       # the shipped _BB
        (49.5, 58.0, -7.5, 1.8, 11),
        (50.2, 51.9, -0.4, 0.6, 14),
    ]
    for lat_lo, lat_hi, lng_lo, lng_hi, level in cases:
        cover = s2.cover_rect(lat_lo, lat_hi, lng_lo, lng_hi, level)
        t = rng.random(3000)
        elat = np.concatenate(
            [np.full_like(t, lat_lo), np.full_like(t, lat_hi),
             lat_lo + (lat_hi - lat_lo) * t, lat_lo + (lat_hi - lat_lo) * t,
             lat_lo + (lat_hi - lat_lo) * rng.random(1000)]
        )
        elng = np.concatenate(
            [lng_lo + (lng_hi - lng_lo) * t, lng_lo + (lng_hi - lng_lo) * t,
             np.full_like(t, lng_lo), np.full_like(t, lng_hi),
             lng_lo + (lng_hi - lng_lo) * rng.random(1000)]
        )
        cells = s2.cell_np(elat, elng, level)
        missing = np.setdiff1d(cells, cover)
        assert len(missing) == 0, (lat_lo, lat_hi, lng_lo, lng_hi, level)


def test_s2_range_predicate_mixed_level_fallback(spark):
    """Round-2 regression (ADVICE r1): the wide-cover isin fallback must
    honor mixed-level covers (normalize_cover emits them) — membership via
    the fallback must equal membership via the BETWEEN ranges."""
    cover = s2.normalize_cover(s2.cover_rect(50.0, 59.0, -8.0, 2.0, 9))
    assert len(np.unique(s2.level_np(cover))) > 1  # genuinely mixed
    ids = s2.cell_np(LAT, LNG, 12)
    sdf = spark.createDataFrame(pd.DataFrame({"c": ids}))
    via_ranges = (
        sdf.select(F.expr(s2.s2_range_predicate("c", cover, max_ranges=10**6)).alias("m"))
        .toPandas()["m"].to_numpy()
    )
    via_fallback = (
        sdf.select(F.expr(s2.s2_range_predicate("c", cover, max_ranges=0)).alias("m"))
        .toPandas()["m"].to_numpy()
    )
    assert via_fallback.any() and not via_fallback.all()
    assert (via_ranges == via_fallback).all()


def test_s2_kring_k_for_radius():
    """k derivation from measured minimum cell width: 25 km at level 9 over
    the UK window needs k=2 (local min width ~17 km); the same radius is
    guaranteed even for wider windows; face-edge rings raise."""
    pcells = s2.cell_np(LAT[:200], LNG[:200], 9)
    k = s2.kring_k_for_radius(pcells, 25_000.0)
    assert 2 <= k <= 3
    w = s2.min_cell_width_m(pcells)
    assert 10_000.0 < w < 40_000.0  # level-9 width sanity
    # derived k actually spans the radius: every point within 25 km of a
    # POI lands in the POI's k-ring
    rng = np.random.default_rng(3)
    bearings = rng.random(5000) * 2 * np.pi
    dists = rng.random(5000) * 25_000.0
    pick = rng.integers(0, 200, 5000)
    dlat = (dists * np.cos(bearings)) / 111_320.0
    dlng = (dists * np.sin(bearings)) / (111_320.0 * np.cos(np.radians(LAT[pick])))
    qlat, qlng = LAT[pick] + dlat, LNG[pick] + dlng
    qcells = s2.cell_np(qlat, qlng, 9)
    rings = s2.kring_np(pcells, k)
    ok = (rings[pick] == qcells[:, None]).any(axis=1)
    assert ok.all()
    # a cell adjacent to the face edge must raise rather than silently clamp
    import pytest as _pytest

    edge = s2.parent_np(s2.from_face_ij(
        np.array([2]), np.array([10]), np.array([1 << 20])), 9)
    with _pytest.raises(ValueError):
        s2.kring_k_for_radius(edge, 25_000.0)


def test_s2_sql_oracle_all_faces():
    """The S2 oracle chain works on all six faces. Faces 4 and 5 set bit
    63, where DuckDB raises on a signed shift or multiply overflow; the
    steps place the face bits as signed 64-bit constants instead, so their
    ids come out negative, equal to the kernel's uint64 ids read as int64."""
    import duckdb

    from osmgraft.contract_cells import _s2_assign_cte

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT range AS event_id, NULL::TIMESTAMP ts, "
        "0::BIGINT user_id, 'x' event_type, 0.0 AS \"value\", "
        "NULL::VARCHAR props FROM range(5000)"
    )
    lat_e = "(-70.0e0 + (event_id % 140))"
    lng_e = "(-170.0e0 + ((event_id * 7) % 340))"
    sql = (
        "WITH " + _s2_assign_cte(12, lat_e, lng_e)
        + " SELECT event_id, s2_cell, face FROM asgn ORDER BY event_id"
    )
    rows = con.sql(sql).fetchall()
    ids = np.arange(5000)
    lat = -70.0 + (ids % 140)
    lng = -170.0 + ((ids * 7) % 340)
    exp = s2.cell_np(lat.astype(float), lng.astype(float), 12)
    got = np.array([r[1] for r in rows])
    assert sorted(set(r[2] for r in rows)) == [0, 1, 2, 3, 4, 5]
    assert (got == exp).all()
    assert (got < 0).any()  # the wrap actually exercised


def test_quadkey_interleave_nesting_and_shares(spark):
    """Quadkey digits recompute from tile coords; parent = digit shift;
    child shares sum to 1 within every parent; counts partition events."""
    from osmgraft import contract_cells as cc
    from tests.conftest import SF_SMOKE

    rows = cc.quadkey_tile_counts(spark, SF_SMOKE).collect()
    assert rows
    n_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert sum(r["n_events"] for r in rows) == n_events
    shares: dict[int, float] = {}
    for r in rows:
        # recompute the msb-first bit interleave in plain python
        digits = [
            (((r["ty"] >> s) & 1) << 1) | ((r["tx"] >> s) & 1)
            for s in range(cc._QK_Z - 1, -1, -1)
        ]
        assert r["quadkey"] == int("".join(map(str, digits)))
        assert r["parent_quadkey"] == r["quadkey"] // 10
        assert 0 <= r["tx"] < (1 << cc._QK_Z) and 0 <= r["ty"] < (1 << cc._QK_Z)
        shares[r["parent_quadkey"]] = shares.get(r["parent_quadkey"], 0.0) + r["pct_of_parent"]
    for parent, total in shares.items():
        assert abs(total - 1.0) < 1e-4, (parent, total)


def test_quadkey_plan_has_no_single_partition_exchange(spark):
    """The share window partitions by parent — the pyramid rollup must
    never funnel through one task (global-window trap, VERDICT r2 #4)."""
    from osmgraft import contract_cells as cc
    from tests.conftest import SF_SMOKE

    df = cc.quadkey_tile_counts(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_geohash_encode_matches_python(spark):
    """Recompute the asymmetric-interleave geohash in plain Python per
    cell: base-32 chars, 8+7 bit split, and the 2-char-parent block
    identity (same parent_gh ⇔ same (gx>>3, gy>>2)); per-parent shares
    sum to 1."""
    from osmgraft.contract_cells import (
        _GH_ALPHABET,
        geohash_cell_counts,
    )
    from tests.conftest import SF_CORRECT

    rows = geohash_cell_counts(spark, SF_CORRECT).collect()
    assert rows
    shares: dict[str, float] = {}
    parents: dict[str, set] = {}
    for r in rows:
        gx, gy = r["gx"], r["gy"]
        code = 0
        for j in range(8):
            code |= ((gx >> j) & 1) << (2 * j)
        for j in range(7):
            code |= ((gy >> j) & 1) << (2 * j + 1)
        gh = "".join(
            _GH_ALPHABET[(code >> (5 * (2 - c))) & 31] for c in range(3)
        )
        assert r["geohash"] == gh, (gx, gy)
        assert r["parent_gh"] == gh[:2]
        shares[r["parent_gh"]] = shares.get(r["parent_gh"], 0.0) + r["pct_of_parent"]
        parents.setdefault(r["parent_gh"], set()).add((gx >> 3, gy >> 2))
    for p, s in shares.items():
        assert abs(s - 1.0) < 1e-3, p
    for p, blocks in parents.items():
        assert len(blocks) == 1, p


class TestPointPatternOps:
    """Brute-force cross-checks for the session-8 point-pattern surface:
    DBSCAN, KDE heatmap, NN/Clark-Evans."""

    @staticmethod
    def _points(spark, mod):
        from osmgraft.contract_cells import _DC_PX, _DC_PY
        from osmgraft.contract import t

        px = _DC_PX.replace("//", " div ")
        py = _DC_PY.replace("//", " div ")
        from pyspark.sql import functions as F

        return (
            t(spark, "/root/testdata/sf0.001", "events")
            .filter(F.col("event_id") % mod == 0)
            .selectExpr("event_id", f"({px}) AS px", f"({py}) AS py")
            .toPandas()
        )

    def test_dbscan_matches_bruteforce(self, spark, monkeypatch):
        """Cell-bucketed DBSCAN == classic O(n²) DBSCAN on sf0.001."""
        import numpy as np

        import osmgraft.contract_cells as cc

        pts = self._points(spark, cc._DB_MOD)
        xy = pts[["px", "py"]].to_numpy()
        ids = pts["event_id"].to_numpy()
        n = len(xy)
        assert n > 20
        d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(-1)
        eps2 = float(cc._DB_EPS) ** 2
        nbr = (d2 <= eps2) & ~np.eye(n, dtype=bool)
        core = nbr.sum(1) + 1 >= cc._DB_MINPTS
        # min-label CC over core-core eps edges
        lab = {int(ids[i]): int(ids[i]) for i in range(n) if core[i]}
        changed = True
        while changed:
            changed = False
            for i in range(n):
                if not core[i]:
                    continue
                for j in range(n):
                    if core[j] and nbr[i, j]:
                        m = min(lab[int(ids[i])], lab[int(ids[j])])
                        if lab[int(ids[i])] != m or lab[int(ids[j])] != m:
                            lab[int(ids[i])] = lab[int(ids[j])] = m
                            changed = True
        border = {}
        for i in range(n):
            if core[i]:
                continue
            cands = [lab[int(ids[j])] for j in range(n)
                     if core[j] and nbr[i, j]]
            if cands:
                border[int(ids[i])] = min(cands)
        from collections import Counter

        exp_core = Counter(lab.values())
        exp_border = Counter(border.values())
        n_noise = n - len(lab) - len(border)

        out = cc.dbscan_point_clusters(
            spark, "/root/testdata/sf0.001"
        ).toPandas().set_index("cluster_id")
        for cid, ncore in exp_core.items():
            assert out.loc[cid, "n_core"] == ncore
            assert out.loc[cid, "n_border"] == exp_border.get(cid, 0)
        assert out.loc[-1, "n_pts"] == n_noise
        assert len(out) == len(exp_core) + 1

    def test_kde_matches_bruteforce(self, spark):
        """Top-k grid KDE == direct kernel sums over all points."""
        import numpy as np

        import osmgraft.contract_cells as cc

        pts = self._points(spark, 1)
        xy = pts[["px", "py"]].to_numpy()
        h = float(cc._KDE_H)
        out = cc.kde_heatmap(spark, "/root/testdata/sf0.001").toPandas()
        assert len(out) == cc._KDE_TOPK
        # recompute each reported cell's density exactly
        for _, row in out.iterrows():
            ctr = np.array(
                [(row.gx + 0.5) * h, (row.gy + 0.5) * h]
            )
            d2 = ((xy - ctr) ** 2).sum(1)
            m = d2 < h * h
            wu = np.floor((1.0 - d2[m] / (h * h)) * 1e6 + 0.5).astype(
                np.int64
            )
            assert int(row.n_contrib) == int(m.sum())
            assert abs(row.density - wu.sum() / 1e6) < 1e-3
        # densities are non-increasing (top-k order)
        dens = out.density.to_numpy()
        assert (np.diff(dens) <= 1e-9).all()

    def test_nn_profile_matches_bruteforce(self, spark):
        """1-ring-bounded NN mean == brute-force within the radius bound,
        censoring accounted exactly."""
        import numpy as np

        import osmgraft.contract_cells as cc

        pts = self._points(spark, cc._NN_MOD)
        xy = pts[["px", "py"]].to_numpy()
        n = len(xy)
        d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(-1)
        np.fill_diagonal(d2, np.inf)
        nn = np.sqrt(d2.min(1))
        w = float(cc._NN_CELL)
        obs = nn[nn <= w]
        du = np.floor(obs * 10000.0 + 0.5).astype(np.int64)
        out = cc.nn_distance_profile(
            spark, "/root/testdata/sf0.001"
        ).toPandas().iloc[0]
        assert int(out.n_pts) == n
        assert int(out.n_censored) == int((nn > w).sum())
        assert abs(out.mean_nn - du.sum() / 1e4 / len(du)) < 1e-3


def test_haversine_bands_match_python_reference(spark):
    """Band counts and ranges equal a plain-Python haversine recompute
    (same 6-dp snap); accounting covers every event."""
    import math

    from osmgraft.contract_cells import (
        _HAV_BAND_KM,
        _HAV_POI,
        _HAV_R_KM,
        haversine_band_counts,
    )
    from tests.conftest import SF_CORRECT

    rows = haversine_band_counts(spark, SF_CORRECT).collect()
    ev = (
        spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .select("event_id")
        .collect()
    )
    ref: dict[int, list[float]] = {}
    for e in ev:
        eid = e["event_id"]
        lat = 50.0 + (eid % 900) * 1.0e-2
        lon = -8.0 + (int(math.floor(eid / 13.0)) % 1000) * 1.0e-2
        dlat = math.radians(_HAV_POI[0] - lat) * 0.5
        dlon = math.radians(_HAV_POI[1] - lon) * 0.5
        d = (
            2.0
            * _HAV_R_KM
            * math.asin(
                math.sqrt(
                    math.sin(dlat) ** 2
                    + math.cos(math.radians(lat))
                    * math.cos(math.radians(_HAV_POI[0]))
                    * math.sin(dlon) ** 2
                )
            )
        )
        d = math.floor(d * 1e6 + 0.5) / 1e6
        ref.setdefault(int(d // _HAV_BAND_KM), []).append(d)
    assert sum(r["n_events"] for r in rows) == len(ev)
    assert {r["band"] for r in rows} == set(ref)
    for r in rows:
        ds = ref[r["band"]]
        assert r["n_events"] == len(ds)
        assert abs(r["min_km"] - round(min(ds), 3)) < 1e-6
        assert abs(r["max_km"] - round(max(ds), 3)) < 1e-6


def test_raster_slope_aspect_matches_python_reference(spark):
    """Aspect rollup equals a plain-Python central-difference recompute
    over the same grid; accounting covers every cell; gradient classes
    are non-degenerate (FLAT and several directions present)."""
    import math

    from osmgraft.contract import X_EXPR, Y_EXPR
    from osmgraft.contract_cells import _SLOPE_CS, raster_slope_aspect
    from tests.conftest import SF_CORRECT

    rows = raster_slope_aspect(spark, SF_CORRECT).collect()
    ev = (
        spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .selectExpr(f"{X_EXPR} AS x", f"{Y_EXPR} AS y")
        .collect()
    )
    z: dict[tuple[int, int], int] = {}
    for e in ev:
        c = (
            int(math.floor(e["x"] / _SLOPE_CS)),
            int(math.floor(e["y"] / _SLOPE_CS)),
        )
        z[c] = z.get(c, 0) + 1
    ref: dict[str, list[int]] = {}
    for (cx, cy) in z:
        dx = z.get((cx + 1, cy), 0) - z.get((cx - 1, cy), 0)
        dy = z.get((cx, cy + 1), 0) - z.get((cx, cy - 1), 0)
        if dx == 0 and dy == 0:
            a = "FLAT"
        elif 2 * abs(dy) <= abs(dx):
            a = "E" if dx > 0 else "W"
        elif 2 * abs(dx) <= abs(dy):
            a = "N" if dy > 0 else "S"
        else:
            a = ("N" if dy > 0 else "S") + ("E" if dx > 0 else "W")
        ref.setdefault(a, []).append(dx * dx + dy * dy)
    assert sum(r["n_cells"] for r in rows) == len(z)
    assert {r["aspect"] for r in rows} == set(ref)
    assert len(rows) >= 4  # several directions fire on the fixture
    for r in rows:
        gs = ref[r["aspect"]]
        assert r["n_cells"] == len(gs)
        assert r["total_grad2"] == sum(gs)
        assert r["max_grad2"] == max(gs)


def test_cell_trend_hotspots_match_python_mann_kendall(spark):
    """Per-cell Mann-Kendall S equals a plain-Python recompute over the
    same drifted space-time cube; all three trend classes fire; the
    injected drift shows up where designed (high even cx intensifies,
    high odd cx diminishes)."""
    from osmgraft.contract_cells import (
        _MK_CS,
        _MK_MIN_DAYS,
        cell_trend_hotspots,
    )
    from tests.conftest import SF_CORRECT

    rows = cell_trend_hotspots(spark, SF_CORRECT).collect()
    assert rows
    classes = {r["trend"] for r in rows}
    assert classes == {"intensifying", "diminishing", "stable"}

    ev = (
        spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .select("event_id", "ts")
        .collect()
    )
    cube: dict[tuple[int, int], dict] = {}
    for e in ev:
        eid = e["event_id"]
        x = (eid * 48271) % 700000
        y = (eid * 16807) % 700000
        cx, cy = x // _MK_CS, y // _MK_CS
        dom = e["ts"].day
        thr = (
            1 + (cx + 1) * dom // 8
            if cx % 2 == 0
            else 1 + (cx + 1) * (32 - dom) // 8
        )
        if eid % 31 >= thr:
            continue
        day = e["ts"].date()
        cube.setdefault((cx, cy), {}).setdefault(day, 0)
        cube[(cx, cy)][day] += 1
    got = {(r["cx"], r["cy"]): r for r in rows}
    n_checked = 0
    for cell, daily in cube.items():
        if len(daily) < _MK_MIN_DAYS:
            assert cell not in got
            continue
        days = sorted(daily)
        s = sum(
            (daily[dj] > daily[di]) - (daily[dj] < daily[di])
            for i, di in enumerate(days)
            for dj in days[i + 1:]
        )
        r = got[cell]
        assert r["mk_s"] == s
        assert r["n_days"] == len(days)
        assert r["total"] == sum(daily.values())
        n_checked += 1
    assert n_checked == len(rows)
    # the injected drift: the strongest even column trends up in
    # aggregate, the strongest odd column down (individual cells may be
    # noise-stable, the column-level sign may not)
    assert sum(r["mk_s"] for r in rows if r["cx"] == 6) > 0
    assert sum(r["mk_s"] for r in rows if r["cx"] == 5) < 0
    assert any(r["trend"] == "intensifying" for r in rows if r["cx"] == 6)
    assert any(r["trend"] == "diminishing" for r in rows if r["cx"] == 5)
