"""Hypothesis property tests for the S2 and hex cell indexes.

Complements the fixed-seed suite (test_cellindexes.py) with adversarial
coordinate generation — poles, antimeridian, face edges, huge/tiny planar
values — asserting the invariants the engine relies on at any input."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from osmgraft.geo import hexgrid as hg
from osmgraft.geo import s2

lat_s = st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)
lng_s = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)
coord_s = st.floats(min_value=-2.0e7, max_value=2.0e7, allow_nan=False)
level_s = st.integers(min_value=1, max_value=30)
res_s = st.integers(min_value=0, max_value=13)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(lat_s, lng_s), min_size=1, max_size=50), level_s)
def test_s2_parent_prefix_property(pts, level):
    lat = np.array([p[0] for p in pts])
    lng = np.array([p[1] for p in pts])
    ids = s2.cell_np(lat, lng, level)
    assert (s2.level_np(ids) == level).all()
    plevel = max(level - 3, 0)
    p = s2.parent_np(ids, plevel)
    # coarser direct indexing == parent of finer indexing (hierarchy is
    # consistent no matter which level you index at)
    assert (s2.cell_np(lat, lng, plevel) == p).all()
    assert ((s2.range_min_np(p) <= ids) & (ids <= s2.range_max_np(p))).all()


# |lat| < 89.9: within ~1e-6 deg of a pole the degree-space round trip is
# ill-conditioned (cos(lat) cancellation) — real S2 round-trips unit
# vectors, not lat/lng; cell ids themselves are still well-defined there
# (covered by test_s2_parent_prefix_property, which includes the poles).
lat_inner_s = st.floats(min_value=-89.9, max_value=89.9, allow_nan=False)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(lat_inner_s, lng_s), min_size=1, max_size=30), st.integers(2, 28))
def test_s2_center_reindexes_to_same_cell(pts, level):
    lat = np.array([p[0] for p in pts])
    lng = np.array([p[1] for p in pts])
    ids = s2.cell_np(lat, lng, level)
    clat, clng = s2.cell_center_latlng(ids)
    assert (s2.cell_np(clat, clng, level) == ids).all()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coord_s, coord_s), min_size=1, max_size=50), res_s)
def test_hex_roundtrip_and_duckdb_equivalence(pts, res):
    x = np.array([p[0] for p in pts])
    y = np.array([p[1] for p in pts])
    ids = hg.cell_np(x, y, res)
    # packing round-trips
    q, r, rr = hg.unpack_np(ids)
    assert (rr == res).all()
    assert (hg.pack_np(q, r, res) == ids).all()
    # containment: point within circumradius of its cell center
    cx, cy = hg.center_np(ids)
    assert (np.hypot(cx - x, cy - y) <= hg.edge_m(res) * (1 + 1e-9) + 1e-6).all()
    # DuckDB recomputes identical ids from the emitted SQL
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"x": x, "y": y}))
    got = (
        con.execute(f"SELECT {hg.hex_cell_sql('x', 'y', res)} AS id FROM pts")
        .df()["id"]
        .to_numpy()
    )
    assert (got == ids).all()


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(coord_s, coord_s), min_size=1, max_size=20),
       st.integers(1, 10), st.integers(1, 3))
def test_hex_kring_distance_bound(pts, res, k):
    x = np.array([p[0] for p in pts])
    y = np.array([p[1] for p in pts])
    ids = hg.cell_np(x, y, res)
    kr = hg.kring_np(ids, k)
    assert kr.shape == (len(ids), 1 + 3 * k * (k + 1))
    rep = np.repeat(ids, kr.shape[1])
    assert (hg.hex_distance_np(rep, kr.ravel()) <= k).all()
    # ring ids are unique per row
    for row in kr:
        assert len(set(row.tolist())) == len(row)
