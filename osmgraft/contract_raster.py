"""Driver-contract entries: raster→vector map algebra (round-3 session-17).

The north-star brief names "raster-to-vector tile aggregation" as a core
capability; the registry already has the raster ANALYSIS half
(``raster_slope_aspect`` gradients, ``flow_accumulation_d8`` hydrology,
``kde_heatmap`` / ``idw_grid_interpolation`` surfaces, ``line_of_sight_profile``
viewshed).  This module adds the raster→VECTOR extraction half — the ops a
GIS pipeline runs to turn the density raster back into vector products —
plus the spatial-backbone op (Euclidean MST) that vector post-processing
feeds into:

- ``marching_squares_cases``: iso-contour extraction census (the marching
  squares algorithm, Lorensen & Cline's 2-D case) at the mean-density
  iso-level.  Per 2x2 dual cell, the 4 corner above/below bits form the
  case code 0-15; the census reports cells, emitted segments, and total
  contour length per case under midpoint (non-interpolating) vertex
  placement.  The iso-level is the EXACT mean density via the cleared
  denominator z * n_cells >= z_total — integer comparison, no division,
  scale-invariant across SF.
- ``focal_mean_raster``: 3x3 zero-padded focal (moving-window) statistics —
  the map-algebra smoothing primitive — expressed as SCATTER-GATHER:
  every cell contributes its z to its 9 neighbor positions (one explode),
  one position-keyed partial agg rebuilds the focal sum, and roughness
  |9*z - S| stays an exact integer (9x the deviation from the focal mean).
  Reports the 10 roughest cells (the candidate vector features).
- ``zonal_ring_stats``: zonal statistics over zone geometry NOT aligned
  with the raster partition — concentric 70 km rings around the extent
  center — per ring cell count, sum/max elevation, micro-snapped mean,
  and ppm share of total mass.  The zone assignment snaps the distance
  to 6 dp before FLOOR so libm sqrt ulps cannot flip a ring at any SF.
- ``mst_hub_backbone``: the Euclidean minimum-spanning-tree backbone over
  per-hub point summaries (single-linkage clustering's dendrogram edges;
  the vectorization step after contour/zone extraction).  Hubs are the
  bounded user_id%37 groups; the raw scan reduces to <=37 hub anchor
  rows ONCE, and the MST over the complete hub graph is found by the
  minimax-path closure: with a strict total order on weights, edge e is
  in the unique MST iff its weight equals the minimax path weight
  between its endpoints (cycle property).  The closure is 6 unrolled
  min-max semiring squarings over the <=37^2-row relation — bounded,
  deterministic, identical structure on both engines.  Weights are exact
  integer squared distances, made strictly distinct by w*2048 + 37u + v
  (tie-break preserves MST optimality: it refines, never reorders, the
  weight order).  At raw-point scale the same op runs as Boruvka rounds
  over cell-blocked candidate edges; the hub reduction is the bounded
  form every engine query here uses for iterative models (cf.
  ``bradley_terry_strengths``, ``markov_steady_state``).

Reference surface generalized: the reference renders per-area density
tables and tile scores (generate_weekly_report.sh score-distribution
sections, power_user_queries.sql area rollups); these entries are the
standard GIS products OVER that same density surface (contour map,
smoothed surface, ring profile, cluster backbone).

Scale shapes: every query aggregates the raw scan ONCE on the cell (or
hub) key; all subsequent joins are equi-joins of bounded post-agg
relations (cells ~ extent/cs^2 << points; hubs <= 37).  No windows over
raw rows, no cross joins except against 1-row totals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmgraft.contract import X_EXPR, Y_EXPR, q, t
from osmgraft.runtime.cut import cut

_CS = 50_000  # raster cell size (same DEM as raster_slope_aspect)

# shared SQL prefix: the density raster (cell -> z) plus its totals
_GRID_SQL = f"""
    pts AS (SELECT {X_EXPR} AS x, {Y_EXPR} AS y FROM events),
    grid AS (
      SELECT CAST(FLOOR(x / {_CS}.0e0) AS BIGINT) AS cx,
             CAST(FLOOR(y / {_CS}.0e0) AS BIGINT) AS cy,
             CAST(COUNT(*) AS BIGINT) AS z
      FROM pts GROUP BY cx, cy),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
                   CAST(SUM(z) AS BIGINT) AS z_total
            FROM grid)
"""


def _grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The density raster: one cell-keyed partial agg over the raw scan."""
    return (
        t(spark, sf_dir, "events")
        .selectExpr(f"{X_EXPR} AS x", f"{Y_EXPR} AS y")
        .selectExpr(
            f"CAST(FLOOR(x / {_CS}.0e0) AS BIGINT) AS cx",
            f"CAST(FLOOR(y / {_CS}.0e0) AS BIGINT) AS cy",
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("long").alias("z"))
    )


# ---------------------------------------------------------------------------
# marching squares: iso-contour case census at the mean-density level
# ---------------------------------------------------------------------------

# midpoint-placement segment geometry per case (in units of the cell size):
# one clipped corner -> sqrt(2)/2, straight crossing -> 1, saddle -> sqrt(2)
_SEG_CASE = (
    "CASE WHEN code IN (0, 15) THEN 0 "
    "WHEN code IN (5, 10) THEN 2 ELSE 1 END"
)
_LEN_CASE = (
    "CASE WHEN code IN (0, 15) THEN 0.0e0 "
    "WHEN code IN (5, 10) THEN 1.41421356237309515e0 "
    "WHEN code IN (3, 6, 9, 12) THEN 1.0e0 "
    "ELSE 0.70710678118654757e0 END"
)

_MS_SQL = f"""
    WITH {_GRID_SQL},
    above AS (
      SELECT g.cx, g.cy FROM grid g, tot
      WHERE g.z * tot.n_cells >= tot.z_total),
    dual AS (
      SELECT DISTINCT a.cx - o.ox AS dx, a.cy - o.oy AS dy
      FROM above a,
           (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) AS o(ox, oy)),
    coded AS (
      SELECT d.dx, d.dy,
             (CASE WHEN sw.cx IS NULL THEN 0 ELSE 1 END)
             + 2 * (CASE WHEN se.cx IS NULL THEN 0 ELSE 1 END)
             + 4 * (CASE WHEN ne.cx IS NULL THEN 0 ELSE 1 END)
             + 8 * (CASE WHEN nw.cx IS NULL THEN 0 ELSE 1 END) AS code
      FROM dual d
      LEFT JOIN above sw ON sw.cx = d.dx AND sw.cy = d.dy
      LEFT JOIN above se ON se.cx = d.dx + 1 AND se.cy = d.dy
      LEFT JOIN above ne ON ne.cx = d.dx + 1 AND ne.cy = d.dy + 1
      LEFT JOIN above nw ON nw.cx = d.dx AND nw.cy = d.dy + 1)
    SELECT code AS case_code,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(*) * ({_SEG_CASE}) AS BIGINT) AS n_segments,
           ROUND(COUNT(*) * ({_LEN_CASE}) * {_CS}.0e0, 3) AS contour_len
    FROM coded GROUP BY code ORDER BY case_code
    """


@q("marching_squares_cases", oracle=_MS_SQL)
def marching_squares_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares iso-contour census of the density raster at the
    exact mean-density iso-level: per 2x2 case code (corner bits SW=1,
    SE=2, NE=4, NW=8), the dual-cell count, segments emitted, and total
    contour length under midpoint vertex placement.

    The iso-level comparison is the cleared denominator
    z * n_cells >= z_total — pure integer, no division, and the SAME
    fraction of cells sits above the mean at every SF, so the census
    stays rich as data scales.  Saddles (cases 5/10) emit 2 segments of
    identical total length under either disambiguation, so the census is
    invariant to the saddle rule (documented convention: no center
    probe).

    Scale shape: one cell-keyed partial agg builds the raster; dual-cell
    enumeration is a 4-literal explode + DISTINCT of the ABOVE subset
    (<= cells); the 4 corner lookups are equi-joins of bounded post-agg
    relations.  This is the raster->vector contour pass of the north-star
    tile pipeline run entirely as relational algebra.
    """
    grid = _grid(spark, sf_dir)
    tot = grid.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("z").cast("long").alias("z_total"),
    )
    above = (
        grid.crossJoin(F.broadcast(tot))
        .where(F.col("z") * F.col("n_cells") >= F.col("z_total"))
        .select("cx", "cy")
        .transform(cut)
    )
    offsets = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1)], "ox int, oy int"
    )
    dual = (
        above.crossJoin(F.broadcast(offsets))
        .select(
            (F.col("cx") - F.col("ox")).alias("dx"),
            (F.col("cy") - F.col("oy")).alias("dy"),
        )
        .distinct()
    )
    coded = dual
    for tag, ox, oy, bit in (
        ("sw", 0, 0, 1), ("se", 1, 0, 2), ("ne", 1, 1, 4), ("nw", 0, 1, 8),
    ):
        nb = above.select(
            F.col("cx").alias(f"{tag}_cx"), F.col("cy").alias(f"{tag}_cy")
        )
        coded = coded.join(
            nb,
            (F.col(f"{tag}_cx") == F.col("dx") + ox)
            & (F.col(f"{tag}_cy") == F.col("dy") + oy),
            "left",
        ).withColumn(
            f"b_{tag}",
            F.when(F.col(f"{tag}_cx").isNull(), F.lit(bit * 0)).otherwise(
                F.lit(bit)
            ),
        )
    coded = coded.select(
        "dx", "dy",
        (F.col("b_sw") + F.col("b_se") + F.col("b_ne") + F.col("b_nw"))
        .alias("code"),
    )
    return (
        coded.groupBy(F.col("code").alias("case_code"))
        .agg(F.count("*").cast("long").alias("n_cells"))
        .selectExpr(
            "case_code",
            "n_cells",
            f"CAST(n_cells * ({_SEG_CASE.replace('code', 'case_code')}) "
            "AS BIGINT) AS n_segments",
            f"ROUND(n_cells * ({_LEN_CASE.replace('code', 'case_code')}) "
            f"* {_CS}.0e0, 3) AS contour_len",
        )
        .orderBy("case_code")
    )


# ---------------------------------------------------------------------------
# 3x3 focal mean via scatter-gather (map-algebra smoothing)
# ---------------------------------------------------------------------------

_FM_SQL = f"""
    WITH {_GRID_SQL},
    contrib AS (
      SELECT g.cx + o.ox AS px, g.cy + o.oy AS py, g.z
      FROM grid g,
           (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                   (1,-1),(1,0),(1,1)) AS o(ox, oy)),
    focal AS (
      SELECT px, py, CAST(SUM(z) AS BIGINT) AS s
      FROM contrib GROUP BY px, py)
    SELECT g.cx, g.cy, g.z,
           f.s AS focal_sum,
           ABS(9 * g.z - f.s) AS rough
    FROM grid g JOIN focal f ON f.px = g.cx AND f.py = g.cy
    ORDER BY rough DESC, g.cx, g.cy LIMIT 10
    """


@q("focal_mean_raster", oracle=_FM_SQL)
def focal_mean_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 zero-padded focal-mean map algebra over the density raster,
    expressed as SCATTER-GATHER: each cell scatters its z to its 9
    neighbor positions (one 9-literal explode), one position-keyed
    partial agg gathers the focal sum, and one equi-join back to the
    raster yields per-cell (z, focal_sum).  Roughness |9z - S| is 9x the
    absolute deviation from the focal mean — exact integer, no division.
    Reports the 10 roughest cells (deterministic (rough desc, cx, cy)
    order): the local-extreme candidates a vectorizer would emit.

    Scale shape: explode(9) + ONE shuffle on the position key + one
    equi-join of post-agg cell relations; the top-10 is
    TakeOrderedAndProject.  The scatter-gather form is the distributed
    convolution pattern — no windowed neighborhood sort, no 8-way join
    fan-out, and the same single-shuffle plan at any raster size.
    """
    grid = cut(_grid(spark, sf_dir))
    offsets = spark.createDataFrame(
        [(ox, oy) for ox in (-1, 0, 1) for oy in (-1, 0, 1)],
        "ox int, oy int",
    )
    focal = (
        grid.crossJoin(F.broadcast(offsets))
        .select(
            (F.col("cx") + F.col("ox")).alias("px"),
            (F.col("cy") + F.col("oy")).alias("py"),
            "z",
        )
        .groupBy("px", "py")
        .agg(F.sum("z").cast("long").alias("s"))
    )
    return (
        grid.join(
            focal,
            (F.col("px") == F.col("cx")) & (F.col("py") == F.col("cy")),
        )
        .select(
            "cx", "cy", "z",
            F.col("s").alias("focal_sum"),
            F.abs(F.lit(9) * F.col("z") - F.col("s")).alias("rough"),
        )
        .orderBy(F.desc("rough"), "cx", "cy")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# zonal statistics over ring zones (zone geometry != raster partition)
# ---------------------------------------------------------------------------

_RING_W = 70_000
_CTR = 350_000

_RING_EXPR = (
    f"CAST(FLOOR(ROUND(SQRT("
    f"POWER((cx + 0.5e0) * {_CS}.0e0 - {_CTR}.0e0, 2)"
    f" + POWER((cy + 0.5e0) * {_CS}.0e0 - {_CTR}.0e0, 2)"
    f"), 6) / {_RING_W}.0e0) AS BIGINT)"
)

_ZR_SQL = f"""
    WITH {_GRID_SQL},
    zoned AS (SELECT {_RING_EXPR} AS ring, z FROM grid)
    SELECT ring,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(z) AS BIGINT) AS sum_z,
           CAST(MAX(z) AS BIGINT) AS max_z,
           CAST(FLOOR(SUM(z) * 1000000.0e0 / COUNT(*) + 0.5e0) AS BIGINT)
             AS mean_z_micro,
           CAST(FLOOR(SUM(z) * 1000000.0e0 / (SELECT z_total FROM tot)
                      + 0.5e0) AS BIGINT) AS share_ppm
    FROM zoned GROUP BY ring ORDER BY ring
    """


@q("zonal_ring_stats", oracle=_ZR_SQL)
def zonal_ring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics of the density raster by concentric 70 km ring
    zones around the extent center — the classic zonal-stats op where the
    zone geometry does NOT align with the raster partitioning (vs
    ``hex_parent_rollup``-style aligned parents): per ring, cell count,
    total and max elevation, micro-snapped mean, and ppm share of total
    mass (the radial density profile).

    Cross-engine float discipline: the center distance is snapped to
    6 dp BEFORE the ring FLOOR, so a libm sqrt ulp cannot flip a cell's
    zone at any SF (cell centers sit >= 3.9 km from every ring edge on
    this grid — the snap collapses any sub-nanometre difference).

    Scale shape: one cell-keyed partial agg, in-row zone math, one
    ring-keyed agg of the bounded cell relation; the 1-row total is a
    broadcast scalar.
    """
    grid = _grid(spark, sf_dir)
    tot = grid.agg(F.sum("z").cast("long").alias("z_total"))
    zoned = grid.selectExpr(f"{_RING_EXPR} AS ring", "z")
    return (
        zoned.groupBy("ring")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum("z").cast("long").alias("sum_z"),
            F.max("z").cast("long").alias("max_z"),
            F.expr(
                "CAST(FLOOR(SUM(z) * 1000000.0e0 / COUNT(*) + 0.5e0) "
                "AS BIGINT)"
            ).alias("mean_z_micro"),
            F.sum("z").alias("_sz"),
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "ring", "n_cells", "sum_z", "max_z", "mean_z_micro",
            "CAST(FLOOR(_sz * 1000000.0e0 / z_total + 0.5e0) AS BIGINT)"
            " AS share_ppm",
        )
        .orderBy("ring")
    )


# ---------------------------------------------------------------------------
# Euclidean MST backbone over hub summaries (minimax-path closure)
# ---------------------------------------------------------------------------

_N_HUBS = 37
# strictly-ordered weight: squared distance * 2048 + 37u + v  (u < v < 37,
# so the tie-break term < 1369 < 2048 refines but never reorders weights;
# coords < 7e5 => w <= 9.8e11, w' <= 2.01e15 — comfortably BIGINT)
_WPRIME = "w * 2048 + 37 * u + v"

# one min-max semiring squaring: D'(u,v) = min_k max(D(u,k), D(k,v))
_SQUARE = """
    {out} AS (
      SELECT a.u AS u, b.v AS v, MIN(CASE WHEN a.d > b.d THEN a.d ELSE b.d END) AS d
      FROM {inp} a JOIN {inp} b ON a.v = b.u
      GROUP BY a.u, b.v)
"""


def _mst_sql() -> str:
    hubs = f"""
    pts AS (SELECT user_id % {_N_HUBS} AS hub,
                   CAST(ROUND({X_EXPR}) AS BIGINT) AS xi,
                   CAST(ROUND({Y_EXPR}) AS BIGINT) AS yi
            FROM events),
    hub AS (SELECT hub, MIN(xi) AS hx, MIN(yi) AS hy
            FROM pts GROUP BY hub),
    edge AS (
      SELECT a.hub AS u, b.hub AS v,
             (a.hx - b.hx) * (a.hx - b.hx)
             + (a.hy - b.hy) * (a.hy - b.hy) AS w
      FROM hub a JOIN hub b ON a.hub < b.hub),
    d0 AS (
      SELECT u, v, {_WPRIME} AS d FROM edge
      UNION ALL
      SELECT v AS u, u AS v, {_WPRIME} AS d FROM edge
      UNION ALL
      SELECT hub AS u, hub AS v, CAST(0 AS BIGINT) AS d FROM hub)
"""
    squarings = ",".join(
        _SQUARE.format(out=f"d{i + 1}", inp=f"d{i}") for i in range(6)
    )
    return f"""
    WITH {hubs},
    {squarings}
    SELECT e.u AS hub_u, e.v AS hub_v, e.w AS weight
    FROM edge e JOIN d6 m ON m.u = e.u AND m.v = e.v
    WHERE {_WPRIME.replace('w', 'e.w').replace('u', 'e.u').replace('v', 'e.v')} = m.d
    ORDER BY weight DESC, hub_u, hub_v
    """


@q("mst_hub_backbone", oracle=_mst_sql())
def mst_hub_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean minimum-spanning-tree backbone over per-hub point
    anchors — the single-linkage dendrogram edge set (cut it at any
    threshold and the components are the single-linkage clusters), and
    the vector-backbone product downstream of contour/zone extraction.

    Algorithm: the raw scan reduces ONCE to <=37 hub anchor rows
    (user_id%37, MIN integer coords — exact, no division); edge weights
    are exact integer squared distances made strictly distinct by
    w*2048 + 37u + v (a refinement of the weight order, so the unique
    MST under w' is AN MST under w).  By the cycle property, an edge is
    in the unique MST iff its weight equals the minimax path weight
    between its endpoints; the all-pairs minimax closure is computed by
    6 unrolled min-max semiring squarings (2^6 >= hub count), each one
    equi-join + partial agg over the <=1369-row pair relation.  Output:
    every MST edge (hub_u, hub_v, weight), heaviest first — the heaviest
    edges are the single-linkage cluster bridges.

    Scale shape: one hub-keyed partial agg over the raw scan; everything
    after runs on bounded post-agg relations (<=37 hubs).  At raw-point
    scale the same op is Boruvka rounds over cell-blocked candidate
    edges; the closure form is the bounded-relation analogue this
    registry uses for iterative models (``bradley_terry_strengths``,
    ``markov_steady_state``).
    """
    hubs = (
        t(spark, sf_dir, "events")
        .selectExpr(
            f"user_id % {_N_HUBS} AS hub",
            f"CAST(ROUND({X_EXPR}) AS BIGINT) AS xi",
            f"CAST(ROUND({Y_EXPR}) AS BIGINT) AS yi",
        )
        .groupBy("hub")
        .agg(F.min("xi").alias("hx"), F.min("yi").alias("hy"))
        .transform(cut)
    )
    a = hubs.select(
        F.col("hub").alias("u"), F.col("hx").alias("ax"),
        F.col("hy").alias("ay"),
    )
    b = hubs.select(
        F.col("hub").alias("v"), F.col("hx").alias("bx"),
        F.col("hy").alias("by"),
    )
    edge = (
        a.join(b, F.col("u") < F.col("v"))
        .select(
            "u", "v",
            (
                (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
                + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
            ).alias("w"),
        )
        .transform(cut)
    )
    wprime = F.col("w") * 2048 + 37 * F.col("u") + F.col("v")
    fwd = edge.select("u", "v", wprime.alias("d"))
    rev = edge.select(
        F.col("v").alias("u"), F.col("u").alias("v"), wprime.alias("d")
    )
    diag = hubs.select(
        F.col("hub").alias("u"), F.col("hub").alias("v"),
        F.lit(0).cast("long").alias("d"),
    )
    d = fwd.unionByName(rev).unionByName(diag)
    for _ in range(6):
        left = d.select(F.col("u"), F.col("v").alias("k"), F.col("d").alias("da"))
        right = d.select(F.col("u").alias("k"), F.col("v"), F.col("d").alias("db"))
        d = (
            left.join(right, "k")
            .groupBy("u", "v")
            .agg(F.min(F.greatest("da", "db")).alias("d"))
        )
    closure = d.select(
        F.col("u").alias("mu"), F.col("v").alias("mv"), F.col("d").alias("md")
    )
    mst = edge.join(
        closure,
        (F.col("mu") == F.col("u"))
        & (F.col("mv") == F.col("v"))
        & (F.col("w") * 2048 + 37 * F.col("u") + F.col("v") == F.col("md")),
    )
    return mst.select(
        F.col("u").alias("hub_u"), F.col("v").alias("hub_v"),
        F.col("w").alias("weight"),
    ).orderBy(F.desc("weight"), "hub_u", "hub_v")
