"""Driver-contract entries: trajectory (per-user track) analytics.

The geospatial tier's polyline surface: each user's ordered event points
form a GPS-grade track (the planar coordinates are the shared
deterministic fixture expressions X_EXPR/Y_EXPR — both engines recompute
identical doubles from event_id). Douglas-Peucker simplification is the
generalization step between raster->vector tile extraction and vector
serving; the reference ships database geometries unsimplified
(07_pipeline_polygon.sh exports raw WKB), which does not survive
10^12-point polylines.

Oracle discipline: the DuckDB oracle runs REAL Douglas-Peucker as a
recursive CTE — the per-segment argmax split is an `arg_max` aggregate
over the recursive frontier (lexicographic [c², -seq] == numpy first-max
tiebreak), and the split test compares squared cross products against
eps² * chord² (multiplication only — no sqrt/division ulp). The Spark
side runs the identical arithmetic in a vectorized numpy kernel via
mapInPandas (geo/simplify.simplify_partition), one shuffle on user_id,
Arrow-batched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osmgraft.contract import X_EXPR, Y_EXPR, q, t

_DP_EPS = 150000.0  # planar units; the fixture extent is 700 000 square


def _dp_oracle() -> str:
    cross = "((b.x - a.x) * (a.y - p.y) - (a.x - p.x) * (b.y - a.y))"
    c2 = f"({cross} * {cross})"
    chord2 = ("((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y))")
    return f"""
    WITH RECURSIVE
      pts0 AS (SELECT user_id, event_id, {X_EXPR} AS x, {Y_EXPR} AS y
               FROM events),
      pts AS (SELECT user_id,
                     CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY event_id) - 1
                          AS BIGINT) AS seq,
                     x, y
              FROM pts0),
      segs(user_id, lo, hi) AS (
        SELECT user_id, MIN(seq), MAX(seq) FROM pts GROUP BY user_id
        UNION ALL
        SELECT s.user_id, u.lo2, u.hi2
        FROM segs s
        JOIN pts a ON a.user_id = s.user_id AND a.seq = s.lo
        JOIN pts b ON b.user_id = s.user_id AND b.seq = s.hi
        JOIN LATERAL (
          SELECT p.seq AS k, {c2} AS c2v
          FROM pts p
          WHERE p.user_id = s.user_id AND p.seq > s.lo AND p.seq < s.hi
          ORDER BY {c2} DESC, p.seq ASC LIMIT 1
        ) m ON m.c2v > {_DP_EPS}e0 * {_DP_EPS}e0 * {chord2},
        LATERAL (VALUES (s.lo, m.k), (m.k, s.hi)) u(lo2, hi2)
      ),
      kept AS (SELECT DISTINCT user_id, seq FROM (
                 SELECT user_id, lo AS seq FROM segs
                 UNION ALL SELECT user_id, hi FROM segs))
    SELECT k.user_id, k.seq,
           FLOOR(p.x * 10000 + 0.5) / 10000 AS x,
           FLOOR(p.y * 10000 + 0.5) / 10000 AS y
    FROM kept k JOIN pts p ON p.user_id = k.user_id AND p.seq = k.seq
    ORDER BY k.user_id, k.seq
    """


@q("track_simplify", oracle=_dp_oracle())
def track_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker simplification of every user's event track
    (eps = 150 000 planar units on the 700 000-unit fixture extent).

    Scale shape: ONE shuffle (explicit hash repartition on user_id,
    sorted within partitions by (user_id, event_id)) delivers whole
    tracks contiguously; a partition-level ``mapInPandas`` kernel
    (geo/simplify.simplify_partition) assigns per-track seq (arange ==
    the row_number window it replaces) and dispatches DP per group
    slice with one numpy boundary scan — no per-track Arrow/pandas
    slicing tax, and task count is pinned by the explicit partition
    count instead of AQE's byte-based coalescing (which ran 1500
    tracks on 2 tasks). Track length is bounded per user, so no group
    outgrows an executor. The recursive-CTE oracle proves the
    distributed kernel byte-equal to textbook DP — including the
    first-max tiebreak and the degenerate-chord (c ≡ 0) convention.
    """
    from osmgraft.geo.simplify import simplify_partition

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr(X_EXPR).alias("x"),
        F.expr(Y_EXPR).alias("y"),
    )
    n_parts = spark.sparkContext.defaultParallelism
    kept = (
        ev.repartition(n_parts, "user_id")
        .sortWithinPartitions("user_id", "event_id")
        .mapInPandas(
            lambda it: simplify_partition(it, _DP_EPS),
            schema="user_id bigint, seq bigint, x double, y double",
        )
    )
    snap = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return kept.select(
        "user_id", "seq", snap("x").alias("x"), snap("y").alias("y")
    ).orderBy("user_id", "seq")


_TRACK_STATS_SQL = f"""
    WITH pts0 AS (SELECT user_id, event_id, {X_EXPR} AS x, {Y_EXPR} AS y
                  FROM events),
         hops AS (SELECT user_id, x, y,
                         LAG(x) OVER w AS px, LAG(y) OVER w AS py
                  FROM pts0 WINDOW w AS (PARTITION BY user_id
                                         ORDER BY event_id)),
         ends AS (SELECT user_id,
                         FIRST(x ORDER BY event_id) AS x0,
                         FIRST(y ORDER BY event_id) AS y0,
                         LAST(x ORDER BY event_id) AS x1,
                         LAST(y ORDER BY event_id) AS y1
                  FROM pts0 GROUP BY user_id),
         agg AS (SELECT user_id,
                        CAST(COUNT(*) AS BIGINT) AS n_points,
                        SUM(CASE WHEN px IS NULL THEN 0.0e0
                                 ELSE sqrt((x - px) * (x - px)
                                           + (y - py) * (y - py)) END)
                          AS path_len
                 FROM hops GROUP BY user_id)
    SELECT a.user_id, a.n_points,
           FLOOR(a.path_len * 100 + 0.5) / 100 AS path_len,
           FLOOR(sqrt((e.x1 - e.x0) * (e.x1 - e.x0)
                      + (e.y1 - e.y0) * (e.y1 - e.y0)) * 100 + 0.5) / 100
             AS net_disp,
           CASE WHEN sqrt((e.x1 - e.x0) * (e.x1 - e.x0)
                          + (e.y1 - e.y0) * (e.y1 - e.y0)) = 0.0e0 THEN NULL
                ELSE FLOOR(a.path_len
                           / sqrt((e.x1 - e.x0) * (e.x1 - e.x0)
                                  + (e.y1 - e.y0) * (e.y1 - e.y0))
                           * 10000 + 0.5) / 10000 END AS sinuosity
    FROM agg a JOIN ends e USING (user_id)
    ORDER BY a.user_id
    """


@q("track_stats", oracle=_TRACK_STATS_SQL)
def track_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory characterization: point count, total path
    length (sum of hop lengths), net displacement, and sinuosity
    (path/displacement — the tortuosity measure trajectory-mining uses to
    separate commutes from wandering).

    Scale shape: the LAG window partitions by user_id (partition-local
    sort inside each user's frame — never global); one partial-agg
    shuffle rolls up hops, a second tiny join attaches the endpoint pair.
    Floating parity: hop lengths sum in the SAME order on both engines
    only if addition order is fixed — it is not, so path_len is snapped
    at 1e-2 where the fixture's ~1e6-magnitude sums agree bit-stably
    (double addition reordering error ~1e-9 relative).
    """
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr(X_EXPR).alias("x"),
        F.expr(Y_EXPR).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    hops = ev.select(
        "user_id",
        "x",
        "y",
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
    )
    hop_len = F.when(F.col("px").isNull(), F.lit(0.0)).otherwise(
        F.sqrt(
            (F.col("x") - F.col("px")) * (F.col("x") - F.col("px"))
            + (F.col("y") - F.col("py")) * (F.col("y") - F.col("py"))
        )
    )
    agg = hops.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum(hop_len).alias("path_len"),
    )
    ends = ev.groupBy("user_id").agg(
        F.min_by("x", "event_id").alias("x0"),
        F.min_by("y", "event_id").alias("y0"),
        F.max_by("x", "event_id").alias("x1"),
        F.max_by("y", "event_id").alias("y1"),
    )
    disp = F.sqrt(
        (F.col("x1") - F.col("x0")) * (F.col("x1") - F.col("x0"))
        + (F.col("y1") - F.col("y0")) * (F.col("y1") - F.col("y0"))
    )
    return (
        agg.join(ends, "user_id")
        .select(
            "user_id",
            "n_points",
            (F.floor(F.col("path_len") * 100 + 0.5) / 100).alias("path_len"),
            (F.floor(disp * 100 + 0.5) / 100).alias("net_disp"),
            F.when(disp == 0.0, F.lit(None).cast("double"))
            .otherwise(F.floor(F.col("path_len") / disp * 10000 + 0.5) / 10000)
            .alias("sinuosity"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# cross-track segment intersections (cell-bucketed candidate join)
# ---------------------------------------------------------------------------

_XC_CS = 50000  # blocking cell size (output-invariant): the jitter box is
# 100k so a segment spans <= 3 cells per axis (<= 9 copies)
_XC_SALT = 16  # skew fan-out: hot-cell pair blocks split across 16 tasks

_XC_PTS_CTE = """
      SELECT user_id, event_id,
             (user_id * 131) % 600000 + (event_id * 37) % 100000 AS x,
             (user_id * 197) % 600000 + (event_id * 59) % 100000 AS y
      FROM events WHERE user_id % 4 = 0
"""

_XC_SQL = f"""
    WITH pts AS ({_XC_PTS_CTE}),
    sq AS (SELECT user_id,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY event_id) AS seq,
                  x, y
           FROM pts),
    segs AS (
      SELECT user_id, seq, x AS x2, y AS y2,
             LAG(x) OVER (PARTITION BY user_id ORDER BY seq) AS x1,
             LAG(y) OVER (PARTITION BY user_id ORDER BY seq) AS y1
      FROM sq QUALIFY x1 IS NOT NULL),
    cells AS (
      SELECT s.*, cx, cy
      FROM segs s,
           UNNEST(range(LEAST(x1, x2) // {_XC_CS},
                        GREATEST(x1, x2) // {_XC_CS} + 1)) t1(cx),
           UNNEST(range(LEAST(y1, y2) // {_XC_CS},
                        GREATEST(y1, y2) // {_XC_CS} + 1)) t2(cy)),
    cand AS (
      SELECT a.user_id AS ua, a.seq AS sa,
             a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
             b.user_id AS ub, b.seq AS sb,
             b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2
      FROM cells a JOIN cells b
        ON a.cx = b.cx AND a.cy = b.cy AND a.user_id < b.user_id
      -- canonical-cell dedup: a pair sharing k cells appears k times in
      -- the join; keep only the occurrence in the lexicographically
      -- smallest COMMON cell (= max of the two bbox minima, recomputed
      -- from the pair's own coordinates) instead of a wide-row DISTINCT
      WHERE a.cx = GREATEST(LEAST(a.x1, a.x2) // {_XC_CS},
                            LEAST(b.x1, b.x2) // {_XC_CS})
        AND a.cy = GREATEST(LEAST(a.y1, a.y2) // {_XC_CS},
                            LEAST(b.y1, b.y2) // {_XC_CS})),
    hits AS (
      SELECT ua, ub FROM cand
      WHERE SIGN((ax2 - ax1) * (by1 - ay1) - (bx1 - ax1) * (ay2 - ay1))
          * SIGN((ax2 - ax1) * (by2 - ay1) - (bx2 - ax1) * (ay2 - ay1)) < 0
        AND SIGN((bx2 - bx1) * (ay1 - by1) - (ax1 - bx1) * (by2 - by1))
          * SIGN((bx2 - bx1) * (ay2 - by1) - (ax2 - bx1) * (by2 - by1)) < 0)
    SELECT ua AS user_a, ub AS user_b,
           CAST(COUNT(*) AS BIGINT) AS n_crossings
    FROM hits GROUP BY user_a, user_b
    ORDER BY n_crossings DESC, user_a, user_b LIMIT 20
    """


@q("track_crossings", oracle=_XC_SQL)
def track_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-track segment intersections (road-crossing / encounter
    analytics): tracks are locality-synthesized (per-user anchor + one-
    cell jitter — GPS tracks are spatially LOCAL, which is exactly what
    makes the cell strategy work; the global-random fixture points would
    make every bbox span the map), segments come from a per-user LAG,
    candidate pairs generated per shared grid cell (a segment spans ≤ 9
    cells by construction) INSIDE a cell-cogrouped numpy kernel — the
    second r04 rewrite: the cell-keyed equi-join materialized ~1.2e8
    candidate JVM rows through codegen (19 s at sf0.1); the kernel
    builds the same pairs as chunked boolean masks (canonical-cell
    dedup: a pair is tested only in the lexicographically smallest
    common cell; plus a bbox-overlap prefilter — a proper crossing
    implies overlapping bboxes) and each cell emits pre-aggregated
    (user_a, user_b) counts. The exact test is the classic orientation
    predicate — integer coordinates make every cross product EXACT in
    int64 (numpy int64 == the JVM arithmetic), and comparing SIGN
    products avoids the d1·d2 overflow (crosses ~5e11; their product
    would not fit).

    Scale shape: the quadratic risk lives only inside a cell (the
    standard spatial-join bound — sub-divide with the ``ann/pairs.py``
    lane split if a cell is London-hot); everything else is windows
    keyed by user, ONE explicit hash repartition on the cell key
    (AQE-coalescing-proof), a tiny count rollup,
    TakeOrderedAndProject for the top-20.
    """
    ev = t(spark, sf_dir, "events").where(F.col("user_id") % 4 == 0)
    uid, eid = F.col("user_id"), F.col("event_id")
    pts = ev.select(
        "user_id",
        "event_id",
        ((uid * 131) % 600000 + (eid * 37) % 100000).alias("x"),
        ((uid * 197) % 600000 + (eid * 59) % 100000).alias("y"),
    )
    wseq = Window.partitionBy("user_id").orderBy("event_id")
    sq = pts.select(
        "user_id", F.row_number().over(wseq).alias("seq"), "x", "y"
    )
    wlag = Window.partitionBy("user_id").orderBy("seq")
    segs = sq.select(
        "user_id",
        "seq",
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
        F.lag("x").over(wlag).alias("x1"),
        F.lag("y").over(wlag).alias("y1"),
    ).where(F.col("x1").isNotNull())
    cs = _XC_CS
    cells = (
        segs.select(
            "*",
            F.explode(
                F.sequence(
                    F.floor(F.least("x1", "x2") / cs).cast("long"),
                    F.floor(F.greatest("x1", "x2") / cs).cast("long"),
                )
            ).alias("cx"),
        )
        .select(
            "*",
            F.explode(
                F.sequence(
                    F.floor(F.least("y1", "y2") / cs).cast("long"),
                    F.floor(F.greatest("y1", "y2") / cs).cast("long"),
                )
            ).alias("cy"),
        )
    )
    import numpy as np
    import pandas as pd

    seg = cells.select(
        "cx", "cy", F.col("user_id").alias("ua"), "x1", "y1", "x2", "y2"
    )
    csl = int(cs)
    # 512-row chunks keep each outer-mask temp (~chunk x n_cell bools)
    # L2-resident, and the bbox/cell mask operands run in int32 — the
    # mask phase is memory-bandwidth bound (measured 1.14 s -> 0.31 s on
    # the hottest sf0.1 cell): coordinates are modularly bounded
    # (< 7e5 at ANY scale by construction) so int32 is exact for the
    # comparisons; user ids and the orientation predicate stay int64
    chunk = 512
    empty = pd.DataFrame(
        {
            "user_a": pd.Series(dtype="int64"),
            "user_b": pd.Series(dtype="int64"),
            "n": pd.Series(dtype="int64"),
        }
    )

    def cell_kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # one cell's segment set: the candidate pairs never materialize
        # as JVM rows — chunked numpy masks do the canonical-cell dedup,
        # a bbox-overlap prefilter (a proper crossing implies overlapping
        # bboxes), then the exact int64 orientation predicate, and the
        # cell emits pre-aggregated (user_a, user_b) counts
        n = len(pdf)
        if n < 2:
            return empty
        kcx, kcy = int(key[0]), int(key[1])
        ua = pdf["ua"].to_numpy()
        x1 = pdf["x1"].to_numpy()
        y1 = pdf["y1"].to_numpy()
        x2 = pdf["x2"].to_numpy()
        y2 = pdf["y2"].to_numpy()
        lox, hix = np.minimum(x1, x2), np.maximum(x1, x2)
        loy, hiy = np.minimum(y1, y2), np.maximum(y1, y2)
        # canonical cell of a pair = max of the two bbox-min cells
        # (coords are non-negative ints, so // == the engine's floor/div)
        mcx, mcy = lox // csl, loy // csl
        lox32, hix32 = lox.astype(np.int32), hix.astype(np.int32)
        loy32, hiy32 = loy.astype(np.int32), hiy.astype(np.int32)
        mcx32, mcy32 = mcx.astype(np.int32), mcy.astype(np.int32)
        pa, pb = [], []
        for lo in range(0, n, chunk):
            s = slice(lo, lo + chunk)
            m = ua[s, None] < ua[None, :]
            m &= np.maximum(mcx32[s, None], mcx32[None, :]) == kcx
            m &= np.maximum(mcy32[s, None], mcy32[None, :]) == kcy
            m &= (lox32[s, None] <= hix32[None, :]) & (
                lox32[None, :] <= hix32[s, None]
            )
            m &= (loy32[s, None] <= hiy32[None, :]) & (
                loy32[None, :] <= hiy32[s, None]
            )
            ii, jj = np.nonzero(m)
            if len(ii) == 0:
                continue
            ii += lo
            d1 = (x2[ii] - x1[ii]) * (y1[jj] - y1[ii]) - (
                x1[jj] - x1[ii]
            ) * (y2[ii] - y1[ii])
            d2 = (x2[ii] - x1[ii]) * (y2[jj] - y1[ii]) - (
                x2[jj] - x1[ii]
            ) * (y2[ii] - y1[ii])
            d3 = (x2[jj] - x1[jj]) * (y1[ii] - y1[jj]) - (
                x1[ii] - x1[jj]
            ) * (y2[jj] - y1[jj])
            d4 = (x2[jj] - x1[jj]) * (y2[ii] - y1[jj]) - (
                x2[ii] - x1[jj]
            ) * (y2[jj] - y1[jj])
            hit = (np.sign(d1) * np.sign(d2) < 0) & (
                np.sign(d3) * np.sign(d4) < 0
            )
            if hit.any():
                pa.append(ua[ii[hit]])
                pb.append(ua[jj[hit]])
        if not pa:
            return empty
        pairs = np.stack(
            [np.concatenate(pa), np.concatenate(pb)], axis=1
        )
        uniq, cnt = np.unique(pairs, axis=0, return_counts=True)
        return pd.DataFrame(
            {
                "user_a": uniq[:, 0],
                "user_b": uniq[:, 1],
                "n": cnt.astype("int64"),
            }
        )

    n_parts = spark.sparkContext.defaultParallelism
    counts = (
        seg.repartition(n_parts, "cx", "cy")
        .groupBy("cx", "cy")
        .applyInPandas(cell_kernel, "user_a long, user_b long, n long")
    )
    return (
        counts.groupBy("user_a", "user_b")
        .agg(F.sum("n").cast("long").alias("n_crossings"))
        .orderBy(F.desc("n_crossings"), "user_a", "user_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# map matching: snap points to the nearest road segment within a radius
# ---------------------------------------------------------------------------

_MM_R = 60000  # match radius == cell size: a point within R of a segment is
# always within 1 cell ring of the segment's dilated bbox cells, so the
# bucketed candidate join provably contains the true nearest segment

# point-to-segment squared distance with endpoint clamping; identical
# expression TEXT on both engines so every double is recomputed bit-equal
_MM_DOT = "((px - ax) * (bx - ax) + (py - ay) * (by - ay))"
_MM_LEN2 = "((bx - ax) * (bx - ax) + (by - ay) * (by - ay))"
_MM_CROSS = "((bx - ax) * (ay - py) - (ax - px) * (by - ay))"
_MM_DIST2 = f"""CASE
    WHEN {_MM_DOT} <= 0e0
    THEN (px - ax) * (px - ax) + (py - ay) * (py - ay)
    WHEN {_MM_DOT} >= {_MM_LEN2}
    THEN (px - bx) * (px - bx) + (py - by) * (py - by)
    ELSE {_MM_CROSS} * {_MM_CROSS} / {_MM_LEN2}
    END"""

_MM_SQL = f"""
    WITH roads AS (
      SELECT k AS seg_id,
             CAST(CASE WHEN k % 2 = 0 THEN ((k * 37) % 13) * 30000
                  ELSE (k * 16807) % 650000 END AS BIGINT) AS ax,
             CAST(CASE WHEN k % 2 = 0 THEN (k * 16807) % 650000
                  ELSE ((k * 37) % 13) * 30000 END AS BIGINT) AS ay
      FROM UNNEST(range(40)) AS t(k)),
    r2 AS (SELECT seg_id, ax, ay,
                  ax + CASE WHEN seg_id % 2 = 0 THEN 250000 ELSE 0 END AS bx,
                  ay + CASE WHEN seg_id % 2 = 0 THEN 0 ELSE 250000 END AS by
           FROM roads),
    segcells AS (SELECT seg_id, ax, ay, bx, by, cx, cy
                 FROM r2,
                      UNNEST(range(ax // {_MM_R} - 1, bx // {_MM_R} + 2))
                        AS u(cx),
                      UNNEST(range(ay // {_MM_R} - 1, by // {_MM_R} + 2))
                        AS v(cy)),
    pts AS (SELECT event_id, {{X}} AS px, {{Y}} AS py FROM events),
    p2 AS (SELECT event_id, px, py,
                  CAST(FLOOR(px / {_MM_R}.0e0) AS BIGINT) AS cx,
                  CAST(FLOOR(py / {_MM_R}.0e0) AS BIGINT) AS cy
           FROM pts),
    cand0 AS (SELECT p.event_id, s.seg_id, {_MM_DIST2} AS dist2
              FROM p2 p JOIN segcells s ON p.cx = s.cx AND p.cy = s.cy),
    cand AS (SELECT * FROM cand0
             WHERE dist2 <= {_MM_R}.0e0 * {_MM_R}.0e0),
    best AS (SELECT event_id, seg_id,
                    ROUND(SQRT(dist2), 4) AS d,
                    ROW_NUMBER() OVER (PARTITION BY event_id
                                       ORDER BY dist2, seg_id) AS rn
             FROM cand),
    j AS (SELECT e.event_id,
                 COALESCE(b.seg_id, -1) AS seg_id,
                 COALESCE(b.d, -1.0e0) AS d
          FROM (SELECT event_id FROM events) e
          LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (event_id))
    SELECT seg_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           MIN(d) AS min_d, MAX(d) AS max_d
    FROM j GROUP BY seg_id ORDER BY seg_id
    """


def _mm_oracle() -> str:
    from osmgraft.contract import X_EXPR, Y_EXPR

    return _MM_SQL.replace("{X}", X_EXPR).replace("{Y}", Y_EXPR)


@q("map_match_points", oracle=_mm_oracle())
def map_match_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map matching: snap every event point to its nearest road segment
    within a 60 000-unit radius (deterministic 40-segment axis-aligned
    synthetic road grid over the 700 000-unit fixture extent), reporting
    per-segment match counts and snap-distance extrema plus the unmatched
    bucket (seg_id = -1). Point-to-segment distance uses the clamped
    projection form (endpoint / interior cases) written as ONE shared
    expression text so both engines recompute identical doubles.

    Completes the trajectory family (simplify/stats/crossings) with the
    nearest-LINE primitive — ``knn_pois`` is nearest-POINT; snapping GPS
    tracks to a road network is the canonical geospatial join the
    reference's POI scoring pipeline never needed but a tile-serving
    engine does.

    Scale shape: segments explode to dilated-bbox cover cells at cell
    size == match radius (1-ring containment guarantee, so the bucketed
    equi-join provably contains the true nearest segment); the exploded
    road side is tiny and BROADCAST — the point side never shuffles for
    the join; the argmin is a per-point window over <= 40 candidates; one
    partial-agg shuffle on seg_id ends the plan. MIN/MAX aggregates only
    (order-insensitive), no float SUM.
    """
    from osmgraft.contract import X_EXPR, Y_EXPR

    r = _MM_R
    roads = spark.range(40).select(
        F.col("id").alias("seg_id"),
        F.expr(
            "CAST(CASE WHEN id % 2 = 0 THEN ((id * 37) % 13) * 30000 "
            "ELSE (id * 16807) % 650000 END AS BIGINT)"
        ).alias("ax"),
        F.expr(
            "CAST(CASE WHEN id % 2 = 0 THEN (id * 16807) % 650000 "
            "ELSE ((id * 37) % 13) * 30000 END AS BIGINT)"
        ).alias("ay"),
    )
    r2 = roads.select(
        "seg_id",
        "ax",
        "ay",
        F.expr(
            "ax + CASE WHEN seg_id % 2 = 0 THEN 250000 ELSE 0 END"
        ).alias("bx"),
        F.expr(
            "ay + CASE WHEN seg_id % 2 = 0 THEN 0 ELSE 250000 END"
        ).alias("by"),
    )
    segcells = (
        r2.withColumn(
            "cx", F.explode(F.expr(f"sequence(ax div {r} - 1, bx div {r} + 1)"))
        )
        .withColumn(
            "cy", F.explode(F.expr(f"sequence(ay div {r} - 1, by div {r} + 1)"))
        )
    )
    p2 = t(spark, sf_dir, "events").select(
        "event_id",
        F.expr(X_EXPR).alias("px"),
        F.expr(Y_EXPR).alias("py"),
    ).select(
        "event_id",
        "px",
        "py",
        F.expr(f"CAST(FLOOR(px / {r}.0e0) AS BIGINT)").alias("cx"),
        F.expr(f"CAST(FLOOR(py / {r}.0e0) AS BIGINT)").alias("cy"),
    )
    cand = (
        p2.join(F.broadcast(segcells), ["cx", "cy"])
        .withColumn("dist2", F.expr(_MM_DIST2))
        .filter(F.col("dist2") <= float(r) * float(r))
    )
    w = Window.partitionBy("event_id").orderBy("dist2", "seg_id")
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id", "seg_id", F.round(F.sqrt("dist2"), 4).alias("d")
        )
    )
    j = (
        t(spark, sf_dir, "events")
        .select("event_id")
        .join(best, "event_id", "left")
        .select(
            F.coalesce("seg_id", F.lit(-1)).alias("seg_id"),
            F.coalesce("d", F.lit(-1.0)).alias("d"),
        )
    )
    return (
        j.groupBy("seg_id")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
        )
        .orderBy("seg_id")
    )


# ---------------------------------------------------------------------------
# turning behaviour: left/right turn counts + straightness ratio
# ---------------------------------------------------------------------------


def _turn_sql() -> str:
    from osmgraft.contract import X_EXPR, Y_EXPR

    return f"""
    WITH p AS (SELECT user_id, event_id, {X_EXPR} AS x, {Y_EXPR} AS y
               FROM events),
    o AS (SELECT user_id, x, y,
                 LAG(x, 1) OVER w AS x1, LAG(y, 1) OVER w AS y1,
                 LAG(x, 2) OVER w AS x2, LAG(y, 2) OVER w AS y2,
                 FIRST_VALUE(x) OVER w AS fx, FIRST_VALUE(y) OVER w AS fy,
                 ROW_NUMBER() OVER w AS rn,
                 COUNT(*) OVER (PARTITION BY user_id) AS np
          FROM p WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
    seg AS (SELECT user_id, np, rn, x, y, fx, fy,
                   CASE WHEN x1 IS NOT NULL THEN
                     CAST(FLOOR(SQRT((x - x1) * (x - x1)
                                     + (y - y1) * (y - y1))
                                * 10000.0e0 + 5.0e-1) AS BIGINT)
                   END AS seg_lu,
                   CASE WHEN x2 IS NOT NULL THEN
                     SIGN((x1 - x2) * (y - y1) - (y1 - y2) * (x - x1))
                   END AS turn
            FROM o)
    SELECT user_id,
           CAST(COUNT(seg_lu) AS BIGINT) AS n_segments,
           CAST(COUNT(CASE WHEN turn > 0 THEN 1 END) AS BIGINT) AS n_left,
           CAST(COUNT(CASE WHEN turn < 0 THEN 1 END) AS BIGINT) AS n_right,
           ROUND(SUM(seg_lu) / 10000.0e0, 4) AS path_len,
           ROUND(MAX(CASE WHEN rn = np THEN
                     SQRT((x - fx) * (x - fx) + (y - fy) * (y - fy))
                   END), 4) AS net_disp,
           ROUND(MAX(CASE WHEN rn = np THEN
                     SQRT((x - fx) * (x - fx) + (y - fy) * (y - fy))
                   END)
                 / (SUM(seg_lu) / 10000.0e0), 6) AS straightness
    FROM seg GROUP BY user_id HAVING COUNT(seg_lu) >= 2
    ORDER BY user_id
    """


@q("track_turning_stats", oracle=_turn_sql())
def track_turning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning behaviour per track: consecutive-segment cross-product
    signs count left vs right turns, and the straightness ratio (net
    displacement / path length) separates purposeful movement from
    wander — the kinematic profile beside ``track_stats`` (lengths) and
    ``track_simplify`` (geometry), and a standard GPS-quality signal
    (a jittery sensor turns constantly; a highway track doesn't).

    Exactness: turn counts are integer conditional counts on the SIGN of
    the cross product (both engines compute the identical double);
    per-segment lengths snap to 1e-4 units BEFORE the per-user SUM
    (order-free); net displacement is computed once from the endpoint
    row.

    Scale shape: ONE user-keyed window serves both LAGs, FIRST_VALUE,
    and the endpoint pick; one partial agg ends the plan. No self-join.
    """
    from osmgraft.contract import X_EXPR, Y_EXPR

    p = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr(X_EXPR).alias("x"),
        F.expr(Y_EXPR).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    o = p.select(
        "user_id",
        "x",
        "y",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("x", 2).over(w).alias("x2"),
        F.lag("y", 2).over(w).alias("y2"),
        F.first("x").over(w).alias("fx"),
        F.first("y").over(w).alias("fy"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("user_id")).alias("np"),
    )
    seg_lu = F.when(
        F.col("x1").isNotNull(),
        F.floor(
            F.sqrt(
                (F.col("x") - F.col("x1")) * (F.col("x") - F.col("x1"))
                + (F.col("y") - F.col("y1")) * (F.col("y") - F.col("y1"))
            )
            * 10000.0
            + 0.5
        ).cast("long"),
    )
    turn = F.when(
        F.col("x2").isNotNull(),
        F.signum(
            (F.col("x1") - F.col("x2")) * (F.col("y") - F.col("y1"))
            - (F.col("y1") - F.col("y2")) * (F.col("x") - F.col("x1"))
        ),
    )
    end_disp = F.when(
        F.col("rn") == F.col("np"),
        F.sqrt(
            (F.col("x") - F.col("fx")) * (F.col("x") - F.col("fx"))
            + (F.col("y") - F.col("fy")) * (F.col("y") - F.col("fy"))
        ),
    )
    seg = o.select(
        "user_id",
        seg_lu.alias("seg_lu"),
        turn.alias("turn"),
        end_disp.alias("ed"),
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("seg_lu").cast("long").alias("n_segments"),
            F.count(F.when(F.col("turn") > 0, 1)).cast("long").alias(
                "n_left"
            ),
            F.count(F.when(F.col("turn") < 0, 1)).cast("long").alias(
                "n_right"
            ),
            F.round(F.sum("seg_lu") / 10000.0, 4).alias("path_len"),
            F.round(F.max("ed"), 4).alias("net_disp"),
            F.round(F.max("ed") / (F.sum("seg_lu") / 10000.0), 6).alias(
                "straightness"
            ),
        )
        .filter(F.col("n_segments") >= 2)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# geometric median of each track (Weiszfeld iterations, in-row)
# ---------------------------------------------------------------------------


def _gm_sql() -> str:
    from osmgraft.contract import X_EXPR, Y_EXPR

    # one Weiszfeld step from (mx{r-1}, my{r-1}) -> (mx{r}, my{r});
    # numbered names because DuckDB resolves LATERAL column aliases —
    # reusing `mx` would make the `my` expression read the NEW mx
    def step(r):
        pm, qm = f"mx{r - 1}", f"my{r - 1}"
        dexpr = (
            f"GREATEST(SQRT((xs[i] - {pm}) * (xs[i] - {pm})"
            f" + (ys[i] - {qm}) * (ys[i] - {qm})), 1.0e0)"
        )
        return f"""
    g{r} AS (SELECT user_id, xs, ys, n,
                    ROUND(
                      list_reduce(list_prepend(0.0e0,
                        list_transform(range(1, n + 1), i ->
                          xs[i] / {dexpr})), (a, b) -> a + b)
                      / list_reduce(list_prepend(0.0e0,
                          list_transform(range(1, n + 1), i ->
                            1.0e0 / {dexpr})), (a, b) -> a + b), 6)
                      AS mx{r},
                    ROUND(
                      list_reduce(list_prepend(0.0e0,
                        list_transform(range(1, n + 1), i ->
                          ys[i] / {dexpr})), (a, b) -> a + b)
                      / list_reduce(list_prepend(0.0e0,
                          list_transform(range(1, n + 1), i ->
                            1.0e0 / {dexpr})), (a, b) -> a + b), 6)
                      AS my{r}
             FROM g{r - 1})"""

    head = f"""
    WITH p AS (SELECT user_id, event_id, {X_EXPR} AS x, {Y_EXPR} AS y
               FROM events),
    g AS (SELECT user_id,
                 list_transform(list_sort(list_zip(
                     array_agg(event_id), array_agg(x))), q -> q[2]) AS xs,
                 list_transform(list_sort(list_zip(
                     array_agg(event_id), array_agg(y))), q -> q[2]) AS ys,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM p GROUP BY user_id),
    g0 AS (SELECT user_id, xs, ys, n,
                  ROUND(list_reduce(list_prepend(0.0e0, xs),
                                    (a, b) -> a + b) / n, 6) AS mx0,
                  ROUND(list_reduce(list_prepend(0.0e0, ys),
                                    (a, b) -> a + b) / n, 6) AS my0
           FROM g)"""
    body = "".join("," + step(r) for r in [1, 2, 3])
    return (
        head
        + body
        + """
    SELECT user_id, CAST(n AS BIGINT) AS n_points, mx3 AS median_x,
           my3 AS median_y
    FROM g3 ORDER BY user_id
    """
    )


@q("geometric_median_tracks", oracle=_gm_sql())
def geometric_median_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric median of each user's track by 3 Weiszfeld iterations
    (w_i = 1/max(dist, 1), next = Σw·p/Σw, seeded at the centroid) —
    the ROBUST center an outlier GPS fix cannot drag, where the mean
    centroid (§2.9 geo scalars) moves with every bad point; the robust
    counterpart to ``track_stats``.

    Determinism: all sums are left-folds over the event-id-sorted
    per-user coordinate arrays (identical fold order on both engines)
    and the iterate snaps to 6 dp between iterations — the
    ``ewma_daily_values`` recursion discipline applied to a 2-D fixed-
    point iteration.

    Scale shape: one user-keyed bounded-array collect; O(iters·n) in-row
    arithmetic; parallelism = user count. No joins, no windows.
    """
    from osmgraft.contract import X_EXPR, Y_EXPR

    p = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr(X_EXPR).alias("x"),
        F.expr(Y_EXPR).alias("y"),
    )
    g = p.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("event_id", "x", "y"))).alias(
            "s"
        )
    )
    xs = F.transform(F.col("s"), lambda r: r.x)
    ys = F.transform(F.col("s"), lambda r: r.y)
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda a, b: a + b
    )
    base = g.select(
        "user_id",
        xs.alias("xs"),
        ys.alias("ys"),
        F.size(xs).alias("n"),
    ).select(
        "*",
        F.round(fold(F.col("xs")) / F.col("n"), 6).alias("mx"),
        F.round(fold(F.col("ys")) / F.col("n"), 6).alias("my"),
    )
    cur = base
    for _ in range(3):
        d = lambda i: F.greatest(  # noqa: E731
            F.sqrt(
                (F.element_at(F.col("xs"), i) - F.col("mx"))
                * (F.element_at(F.col("xs"), i) - F.col("mx"))
                + (F.element_at(F.col("ys"), i) - F.col("my"))
                * (F.element_at(F.col("ys"), i) - F.col("my"))
            ),
            F.lit(1.0),
        )
        seq = F.sequence(F.lit(1), F.col("n"))
        num_x = fold(
            F.transform(seq, lambda i: F.element_at(F.col("xs"), i) / d(i))
        )
        num_y = fold(
            F.transform(seq, lambda i: F.element_at(F.col("ys"), i) / d(i))
        )
        den = fold(F.transform(seq, lambda i: F.lit(1.0) / d(i)))
        # compute to fresh names, then rename: BOTH engines resolve a
        # reused alias in the same select list laterally (Spark 4 lateral
        # column aliases; DuckDB lateral aliases), which would feed the
        # my-update the NEW mx
        cur = cur.select(
            "user_id",
            "xs",
            "ys",
            "n",
            F.round(num_x / den, 6).alias("mx_next"),
            F.round(num_y / den, 6).alias("my_next"),
        ).select(
            "user_id",
            "xs",
            "ys",
            "n",
            F.col("mx_next").alias("mx"),
            F.col("my_next").alias("my"),
        )
    return cur.select(
        "user_id",
        F.col("n").cast("long").alias("n_points"),
        F.col("mx").alias("median_x"),
        F.col("my").alias("median_y"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# bbox-intersection pair join (PBSM cell blocking, all-pairs oracle)
# ---------------------------------------------------------------------------

_BI_CS = 100000  # blocking cell; track jitter box is one cell wide
_BI_TOPK = 20

_BI_SQL = f"""
    WITH pts AS (
      SELECT user_id,
             (user_id * 131) % 600000 + (event_id * 37) % 100000 AS x,
             (user_id * 197) % 600000 + (event_id * 59) % 100000 AS y
      FROM events WHERE user_id % 4 = 0),
    bb AS (
      SELECT user_id,
             CAST(MIN(x) AS BIGINT) AS minx, CAST(MAX(x) AS BIGINT) AS maxx,
             CAST(MIN(y) AS BIGINT) AS miny, CAST(MAX(y) AS BIGINT) AS maxy
      FROM pts GROUP BY user_id),
    hits AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             (LEAST(a.maxx, b.maxx) - GREATEST(a.minx, b.minx))
             * (LEAST(a.maxy, b.maxy) - GREATEST(a.miny, b.miny))
               AS overlap_area
      FROM bb a JOIN bb b
        ON a.user_id < b.user_id
       AND a.minx <= b.maxx AND b.minx <= a.maxx
       AND a.miny <= b.maxy AND b.miny <= a.maxy)
    SELECT user_a, user_b, overlap_area
    FROM hits
    ORDER BY overlap_area DESC, user_a, user_b LIMIT {_BI_TOPK}
    """


@q("bbox_intersect_pairs", oracle=_BI_SQL)
def bbox_intersect_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rectangle-rectangle spatial pair join over per-track bounding
    boxes — the partition-based-spatial-merge (PBSM) shape: each bbox
    fans to the grid cells it covers (≤ 2×2 by construction — the
    locality-synthesized tracks span one jitter box), candidate pairs
    come from a CELL-keyed equi-join, the exact bbox-overlap predicate
    refines, and each qualifying pair is reported EXACTLY ONCE via the
    owner-cell rule: only the cell containing the intersection's
    min-corner (GREATEST of the two min-corners) emits the pair — the
    textbook dedup that needs no DISTINCT shuffle, unlike
    ``track_crossings``' segment variant. Top-20 by exact integer
    overlap area.

    The oracle is the ALL-PAIRS theta-join form (fine at fixture scale,
    quadratic at 10^12): two algorithms, one answer — the blocked plan
    is additionally pinned equi-join-only by a plan audit.

    Scale shape: one user-keyed partial agg builds the bboxes, one
    Generate fans ≤ 4 cells/bbox, one cell-keyed equi-join carries the
    quadratic risk only within a cell, TakeOrderedAndProject tops.
    """
    ev = t(spark, sf_dir, "events").where(F.col("user_id") % 4 == 0)
    uid, eid = F.col("user_id"), F.col("event_id")
    pts = ev.select(
        "user_id",
        ((uid * 131) % 600000 + (eid * 37) % 100000).alias("x"),
        ((uid * 197) % 600000 + (eid * 59) % 100000).alias("y"),
    )
    bb = pts.groupBy("user_id").agg(
        F.min("x").cast("long").alias("minx"),
        F.max("x").cast("long").alias("maxx"),
        F.min("y").cast("long").alias("miny"),
        F.max("y").cast("long").alias("maxy"),
    )
    cs = _BI_CS
    cells = bb.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("minx") / cs).cast("long"),
                F.floor(F.col("maxx") / cs).cast("long"),
            )
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("miny") / cs).cast("long"),
                F.floor(F.col("maxy") / cs).cast("long"),
            )
        ).alias("cy"),
    )
    a = cells.select(
        F.col("user_id").alias("user_a"),
        F.col("minx").alias("aminx"), F.col("maxx").alias("amaxx"),
        F.col("miny").alias("aminy"), F.col("maxy").alias("amaxy"),
        "cx", "cy",
    )
    b = cells.select(
        F.col("user_id").alias("user_b"),
        F.col("minx").alias("bminx"), F.col("maxx").alias("bmaxx"),
        F.col("miny").alias("bminy"), F.col("maxy").alias("bmaxy"),
        F.col("cx").alias("bcx"), F.col("cy").alias("bcy"),
    )
    cand = a.join(
        b,
        (F.col("cx") == F.col("bcx"))
        & (F.col("cy") == F.col("bcy"))
        & (F.col("user_a") < F.col("user_b"))
        & (F.col("aminx") <= F.col("bmaxx"))
        & (F.col("bminx") <= F.col("amaxx"))
        & (F.col("aminy") <= F.col("bmaxy"))
        & (F.col("bminy") <= F.col("amaxy")),
    )
    # owner-cell dedup: report only in the cell holding the
    # intersection's min-corner
    owner = cand.filter(
        (
            F.floor(F.greatest("aminx", "bminx") / cs).cast("long")
            == F.col("cx")
        )
        & (
            F.floor(F.greatest("aminy", "bminy") / cs).cast("long")
            == F.col("cy")
        )
    )
    hits = owner.select(
        "user_a",
        "user_b",
        (
            (F.least("amaxx", "bmaxx") - F.greatest("aminx", "bminx"))
            * (F.least("amaxy", "bmaxy") - F.greatest("aminy", "bminy"))
        ).alias("overlap_area"),
    )
    return hits.orderBy(
        F.desc("overlap_area"), "user_a", "user_b"
    ).limit(_BI_TOPK)


# ---------------------------------------------------------------------------
# symmetric Hausdorff distance between co-located user tracks
# ---------------------------------------------------------------------------

_HD_CS = 100_000  # anchor-cell size used for candidate-pair blocking
_HD_CAP = 64  # representative points per track (deterministic first-k by
# event order) — bounds per-pair work at CAP² regardless of track length;
# production trajectory similarity runs on simplified/sampled tracks
# (track_simplify is the companion stage), never raw point clouds

# anchor multipliers chosen to WRAP the 600k extent even for small
# user_ids (38 users at sf0.01): 131 (track_crossings' multiplier) puts
# every small-id anchor in cell (0,0) and the blocking would degenerate
# to all-pairs at every SF
_HD_PTS_CTE = """
      SELECT user_id, event_id,
             (user_id * 48271) % 600000 + (event_id * 37) % 100000 AS x,
             (user_id * 16807) % 600000 + (event_id * 59) % 100000 AS y
      FROM events WHERE user_id % 4 = 0
"""

_HD_SQL = f"""
    WITH pts0 AS ({_HD_PTS_CTE}),
    sq AS (SELECT user_id, x, y,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY event_id) AS seq
           FROM pts0),
    p AS (SELECT * FROM sq WHERE seq <= {_HD_CAP}),
    np AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM p
           GROUP BY user_id),
    anch AS (SELECT DISTINCT user_id,
                    (user_id * 48271) % 600000 // {_HD_CS} AS acx,
                    (user_id * 16807) % 600000 // {_HD_CS} AS acy
             FROM pts0),
    pairs AS (
      SELECT a.user_id AS ua, b.user_id AS ub
      FROM anch a JOIN anch b
        ON a.acx = b.acx AND a.acy = b.acy AND a.user_id < b.user_id),
    d AS (
      SELECT pr.ua, pr.ub, pa.seq AS sa, pb.seq AS sb,
             (pa.x - pb.x) * (pa.x - pb.x)
             + (pa.y - pb.y) * (pa.y - pb.y) AS d2
      FROM pairs pr
      JOIN p pa ON pa.user_id = pr.ua
      JOIN p pb ON pb.user_id = pr.ub),
    ha AS (SELECT ua, ub, MAX(md) AS h FROM (
             SELECT ua, ub, sa, MIN(d2) AS md FROM d GROUP BY ua, ub, sa) z
           GROUP BY ua, ub),
    hb AS (SELECT ua, ub, MAX(md) AS h FROM (
             SELECT ua, ub, sb, MIN(d2) AS md FROM d GROUP BY ua, ub, sb) z
           GROUP BY ua, ub)
    SELECT ha.ua AS user_a, ha.ub AS user_b,
           na.n AS n_pts_a, nb.n AS n_pts_b,
           CAST(GREATEST(ha.h, hb.h) AS BIGINT) AS hausdorff_sq
    FROM ha JOIN hb ON ha.ua = hb.ua AND ha.ub = hb.ub
    JOIN np na ON na.user_id = ha.ua
    JOIN np nb ON nb.user_id = ha.ub
    ORDER BY hausdorff_sq, user_a, user_b LIMIT 20
    """


@q("track_hausdorff_pairs", oracle=_HD_SQL)
def track_hausdorff_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric Hausdorff distance between co-located user tracks (the
    trajectory-similarity primitive beside ``track_crossings``'
    intersection test): candidate pairs come from an EQUI-join on the
    track's anchor cell (spatial blocking — never an all-pairs user
    join), each track is represented by a deterministic cap of its
    first 64 points, and H(A,B) = max(h(A→B), h(B→A)) where
    h(A→B) = max_p min_q d²(p,q). Integer coordinates keep every
    squared distance exact in int64 — the output is deterministic with
    no float anywhere. Top-20 MOST similar pairs (smallest H).

    Scale shape: blocking join on anchor cells, two point-side
    equi-joins fanning out to ≤ CAP² rows per candidate pair, min/max
    partial aggs, TakeOrderedAndProject top-k. Per-pair work is
    CAP²-bounded no matter how long tracks get; pair count is bounded
    by cell occupancy (the dense-cell salting story applies to hot
    cells at 100 TB).
    """
    ev = t(spark, sf_dir, "events").where(F.col("user_id") % 4 == 0)
    pts0 = ev.select(
        "user_id",
        "event_id",
        ((F.col("user_id") * 48271) % 600000 + (F.col("event_id") * 37) % 100000).alias("x"),
        ((F.col("user_id") * 16807) % 600000 + (F.col("event_id") * 59) % 100000).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    p = (
        pts0.withColumn("seq", F.row_number().over(w))
        .where(F.col("seq") <= _HD_CAP)
        .select("user_id", "seq", "x", "y")
    )
    np_ = p.groupBy("user_id").agg(F.count("*").cast("long").alias("n"))
    anch = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.expr(f"(user_id * 48271) % 600000 div {_HD_CS}").alias("acx"),
            F.expr(f"(user_id * 16807) % 600000 div {_HD_CS}").alias("acy"),
        )
    )
    a = anch.select(F.col("user_id").alias("ua"), "acx", "acy")
    b = anch.select(F.col("user_id").alias("ub"), "acx", "acy")
    pairs = a.join(b, ["acx", "acy"]).where(F.col("ua") < F.col("ub")).select("ua", "ub")
    pa = p.select(
        F.col("user_id").alias("ua"), F.col("seq").alias("sa"),
        F.col("x").alias("xa"), F.col("y").alias("ya"),
    )
    pb = p.select(
        F.col("user_id").alias("ub"), F.col("seq").alias("sb"),
        F.col("x").alias("xb"), F.col("y").alias("yb"),
    )
    d = (
        pairs.join(pa, "ua")
        .join(pb, "ub")
        .select(
            "ua", "ub", "sa", "sb",
            (
                (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
                + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            ).alias("d2"),
        )
    )
    ha = (
        d.groupBy("ua", "ub", "sa").agg(F.min("d2").alias("md"))
        .groupBy("ua", "ub").agg(F.max("md").alias("h"))
    )
    hb = (
        d.groupBy("ua", "ub", "sb").agg(F.min("d2").alias("md"))
        .groupBy("ua", "ub").agg(F.max("md").alias("hb_h"))
    )
    res = (
        ha.join(hb, ["ua", "ub"])
        .join(np_.select(F.col("user_id").alias("ua"), F.col("n").alias("n_pts_a")), "ua")
        .join(np_.select(F.col("user_id").alias("ub"), F.col("n").alias("n_pts_b")), "ub")
        .select(
            F.col("ua").alias("user_a"),
            F.col("ub").alias("user_b"),
            "n_pts_a",
            "n_pts_b",
            F.greatest("h", "hb_h").cast("long").alias("hausdorff_sq"),
        )
    )
    return res.orderBy("hausdorff_sq", "user_a", "user_b").limit(20)


# ---------------------------------------------------------------------------
# stay-point episodes (dwell detection over user tracks)
# ---------------------------------------------------------------------------

_SP_CS = 100_000  # dwell cell size
_SP_MIN_PTS = 4  # minimum consecutive same-cell points to call a stay

_SP_SQL = f"""
    WITH pts AS ({_HD_PTS_CTE}),
    sq AS (SELECT user_id, event_id,
                  x // {_SP_CS} AS cx, y // {_SP_CS} AS cy,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY event_id) AS seq
           FROM pts),
    flagged AS (
      SELECT user_id, seq, cx, cy,
             CASE WHEN LAG(cx) OVER w IS NULL
                    OR LAG(cx) OVER w <> cx
                    OR LAG(cy) OVER w <> cy THEN 1 ELSE 0 END AS is_new
      FROM sq WINDOW w AS (PARTITION BY user_id ORDER BY seq)),
    runs AS (
      SELECT user_id, seq, cx, cy,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY seq
                               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged),
    episodes AS (
      SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
             MIN(cx) AS cx, MIN(cy) AS cy,
             CAST(COUNT(*) AS BIGINT) AS n_pts,
             CAST(MIN(seq) AS BIGINT) AS start_seq
      FROM runs GROUP BY user_id, run_id)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_stays,
           CAST(MAX(n_pts) AS BIGINT) AS longest_stay_pts,
           CAST(SUM(n_pts) AS BIGINT) AS pts_in_stays
    FROM episodes WHERE n_pts >= {_SP_MIN_PTS}
    GROUP BY user_id ORDER BY user_id
    """


@q("stay_point_episodes", oracle=_SP_SQL)
def stay_point_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection (the mobility-mining dwell primitive): runs
    of consecutive same-cell points per user track become stay episodes;
    runs of ≥ 4 points count as stays; per user emit stay count, longest
    stay, and points spent dwelling — the input every visit/POI model
    consumes. Run segmentation is the LAG-change-flag + running-sum
    idiom (``scd2_dimension_build``'s version discipline, here on a
    spatial key).

    Scale shape: the row-number, change flag, and run-id windows are all
    USER-KEYED and share one exchange; episodes and the per-user rollup
    are partial aggs. No global sort anywhere.
    """
    ev = t(spark, sf_dir, "events").where(F.col("user_id") % 4 == 0)
    pts = ev.select(
        "user_id",
        "event_id",
        F.expr(f"((user_id * 48271) % 600000 + (event_id * 37) % 100000) div {_SP_CS}").alias("cx"),
        F.expr(f"((user_id * 16807) % 600000 + (event_id * 59) % 100000) div {_SP_CS}").alias("cy"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    sq = pts.withColumn("seq", F.row_number().over(w))
    ws = Window.partitionBy("user_id").orderBy("seq")
    flagged = sq.withColumn(
        "is_new",
        F.when(
            F.lag("cx").over(ws).isNull()
            | (F.lag("cx").over(ws) != F.col("cx"))
            | (F.lag("cy").over(ws) != F.col("cy")),
            1,
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("is_new").over(ws.rowsBetween(Window.unboundedPreceding, 0)),
    )
    episodes = runs.groupBy(
        "user_id", F.col("run_id").cast("long").alias("run_id")
    ).agg(F.count("*").cast("long").alias("n_pts"))
    return (
        episodes.where(F.col("n_pts") >= _SP_MIN_PTS)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_stays"),
            F.max("n_pts").cast("long").alias("longest_stay_pts"),
            F.sum("n_pts").cast("long").alias("pts_in_stays"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# radius of gyration per user (mobility range)
# ---------------------------------------------------------------------------

_RG_SQL = f"""
    WITH pts AS ({_HD_PTS_CTE}),
    s AS (SELECT user_id,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * x) AS sxx, SUM(y * y) AS syy
          FROM pts GROUP BY user_id)
    SELECT user_id, n,
           ROUND((sxx * 1.0e0 / n - (sx * 1.0e0 / n) * (sx * 1.0e0 / n)
                  + syy * 1.0e0 / n - (sy * 1.0e0 / n) * (sy * 1.0e0 / n))
                 / 1.0e6, 4) AS rg2_km2,
           CAST(FLOOR(SQRT(
             (sxx * 1.0e0 / n - (sx * 1.0e0 / n) * (sx * 1.0e0 / n)
              + syy * 1.0e0 / n - (sy * 1.0e0 / n) * (sy * 1.0e0 / n))
             / 1.0e6) * 100 + 0.5) AS BIGINT) AS rg_band
    FROM s ORDER BY user_id
    """


@q("radius_of_gyration", oracle=_RG_SQL)
def radius_of_gyration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius of gyration per user (Gonzalez et al., the canonical
    human-mobility range statistic): rg² = E[x²] − E[x]² + E[y²] − E[y]²
    over the user's track points, from exact int64 power sums (integer
    planar coordinates — the ``ols_multifeature`` discipline), floats
    only in the final closed form; plus an integer centi-band of rg for
    stable downstream grouping.

    Scale shape: one user-keyed partial agg over the raw points; nothing
    else. The canonical example of a mobility metric that needs NO
    window and NO join.
    """
    ev = t(spark, sf_dir, "events").where(F.col("user_id") % 4 == 0)
    pts = ev.select(
        "user_id",
        F.expr("(user_id * 48271) % 600000 + (event_id * 37) % 100000").alias("x"),
        F.expr("(user_id * 16807) % 600000 + (event_id * 59) % 100000").alias("y"),
    )
    s = pts.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    var = (
        F.col("sxx") * F.lit(1.0) / n
        - (F.col("sx") * F.lit(1.0) / n) * (F.col("sx") * F.lit(1.0) / n)
        + F.col("syy") * F.lit(1.0) / n
        - (F.col("sy") * F.lit(1.0) / n) * (F.col("sy") * F.lit(1.0) / n)
    ) / F.lit(1.0e6)
    return s.select(
        "user_id",
        "n",
        F.round(var, 4).alias("rg2_km2"),
        F.floor(F.sqrt(var) * 100 + F.lit(0.5)).cast("long").alias("rg_band"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# co-movement (co-travel) pair detection
# ---------------------------------------------------------------------------

_CM_MIN_SHARED = 3
# deterministic position cell per (user, hour-bucket): users 2k and 2k+1
# share the seed (user_id // 2) so even/odd pairs genuinely co-travel;
# unrelated seeds collide on a cell only at ~1e-5 per bucket
_CM_CELL = "((user_id // 2) * 48271 + bkt * 16807 + 13) % 100000"

_CM_SQL = f"""
    WITH pres AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(FLOOR(epoch(ts)) / 3600.0e0) AS BIGINT) AS bkt
      FROM events),
    loc AS (SELECT user_id, bkt, {_CM_CELL} AS cell FROM pres),
    act AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS nb
            FROM pres GROUP BY user_id),
    pairs AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM loc a JOIN loc b
        ON a.bkt = b.bkt AND a.cell = b.cell AND a.user_id < b.user_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_CM_MIN_SHARED})
    SELECT p.user_a, p.user_b, p.n_shared,
           x.nb AS n_buckets_a, y.nb AS n_buckets_b,
           ROUND(p.n_shared * 1.0e0
                 / (x.nb + y.nb - p.n_shared), 4) AS jaccard
    FROM pairs p JOIN act x ON p.user_a = x.user_id
                 JOIN act y ON p.user_b = y.user_id
    ORDER BY p.n_shared DESC, p.user_a, p.user_b LIMIT 50
    """


@q("co_movement_pairs", oracle=_CM_SQL)
def co_movement_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-movement (co-travel) detection: user pairs observed in the SAME
    spatial cell in the SAME hour bucket for ≥{_CM_MIN_SHARED} distinct
    buckets, with temporal-Jaccard strength (shared / union of active
    buckets) — the trajectory-mining companion-detection classic (Li et
    al. swarm/convoy patterns) and the pairwise complement of
    ``stay_point_episodes``.

    Fixture: positions derive deterministically from (user_id // 2,
    bucket), so even/odd user pairs genuinely co-travel whenever both are
    active in a bucket (2-13 shared buckets at sf0.01) while unrelated
    users collide on a cell at ~1e-5 per bucket — detections are real
    signal, not noise, at every SF.

    Scale shape: presence dedups once per (user, bucket); the candidate
    join is an EQUI-join on (bucket, cell) — pair expansion bounded by
    per-(cell, bucket) occupancy, the blocking discipline of
    track_crossings — followed by one pair-keyed partial agg, two
    broadcast-sized activity joins, and TakeOrderedAndProject.

    unix_timestamp(ts) ≡ DuckDB FLOOR(epoch(ts)) under the UTC session
    (the bot_regularity_profile equivalence).
    """
    ev = t(spark, sf_dir, "events")
    pres = ev.select(
        "user_id",
        F.expr(
            "CAST(FLOOR(unix_timestamp(ts) / 3600.0e0) AS BIGINT)"
        ).alias("bkt"),
    ).distinct()
    loc = pres.select(
        "user_id", "bkt", F.expr(_CM_CELL.replace("//", " div ")).alias("cell")
    )
    act = pres.groupBy("user_id").agg(
        F.count("*").cast("long").alias("nb")
    )
    b = loc.select(
        F.col("user_id").alias("user_b"),
        F.col("bkt").alias("b_bkt"),
        F.col("cell").alias("b_cell"),
    )
    pairs = (
        loc.join(
            b,
            (F.col("bkt") == F.col("b_bkt"))
            & (F.col("cell") == F.col("b_cell"))
            & (F.col("user_id") < F.col("user_b")),
        )
        .groupBy(F.col("user_id").alias("user_a"), "user_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= _CM_MIN_SHARED)
    )
    ax = act.select(
        F.col("user_id").alias("user_a"), F.col("nb").alias("n_buckets_a")
    )
    ay = act.select(
        F.col("user_id").alias("user_b"), F.col("nb").alias("n_buckets_b")
    )
    return (
        pairs.join(F.broadcast(ax), "user_a")
        .join(F.broadcast(ay), "user_b")
        .select(
            "user_a",
            "user_b",
            "n_shared",
            "n_buckets_a",
            "n_buckets_b",
            F.round(
                F.col("n_shared")
                * 1.0
                / (
                    F.col("n_buckets_a")
                    + F.col("n_buckets_b")
                    - F.col("n_shared")
                ),
                4,
            ).alias("jaccard"),
        )
        .orderBy(F.col("n_shared").desc(), "user_a", "user_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# geofence dwell episodes (point-in-polygon x run detection)
# ---------------------------------------------------------------------------

# convex CCW pentagon fence on the 700 000-unit extent (~10% coverage)
_GF_VERTS = [
    (500000, 350000), (400000, 490000), (250000, 440000),
    (250000, 260000), (400000, 210000),
]
# inside test: point is left-of-or-on every CCW edge (5 cross products,
# one shared expression string on both engines)
_GF_INSIDE = " AND ".join(
    f"(({x2} - {x1}) * (y - {y1}) - (x - {x1}) * ({y2} - {y1})) >= 0e0"
    for (x1, y1), (x2, y2) in zip(_GF_VERTS, _GF_VERTS[1:] + _GF_VERTS[:1])
)

_GF_SQL = f"""
    WITH p AS (SELECT user_id, event_id, ts,
                      {X_EXPR} AS x, {Y_EXPR} AS y
               FROM events),
    f AS (SELECT user_id, event_id, ts,
                 CASE WHEN {_GF_INSIDE} THEN 1 ELSE 0 END AS inside
          FROM p),
    r AS (SELECT user_id, event_id, ts, inside,
                 CASE WHEN LAG(inside) OVER w IS NULL
                        OR LAG(inside) OVER w <> inside
                      THEN 1 ELSE 0 END AS chg
          FROM f WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
    runs AS (SELECT user_id, ts, inside,
                    SUM(chg) OVER (PARTITION BY user_id
                                   ORDER BY event_id) AS run_id
             FROM r),
    ep AS (SELECT user_id, run_id,
                  CAST(COUNT(*) AS BIGINT) AS n_pts,
                  CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts)))
                       AS BIGINT) AS dwell_s
           FROM runs WHERE inside = 1 GROUP BY user_id, run_id)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_visits,
           CAST(SUM(n_pts) AS BIGINT) AS n_points_inside,
           CAST(SUM(dwell_s) AS BIGINT) AS total_dwell_s,
           CAST(MAX(dwell_s) AS BIGINT) AS max_dwell_s
    FROM ep GROUP BY user_id ORDER BY user_id
    """


@q("geofence_dwell_stats", oracle=_GF_SQL)
def geofence_dwell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence dwell analysis: per-user visit episodes inside a convex
    pentagon fence — the point-in-polygon surface (geo/pip.py's exact
    convex case, here as one 5-edge cross-product conjunction shared
    with the oracle) composed with the ``stay_point_episodes`` run
    detector (LAG change flag + running sum), the geofencing primitive
    every fleet/advertising/compliance pipeline runs.

    Scale shape: the inside flag is scan-local; episode detection is
    TWO window functions over ONE user-keyed exchange; episodes and the
    per-user rollup are user-keyed partial aggs. Dwell seconds are
    integer unix-time differences (unix_timestamp ≡ FLOOR(epoch) under
    the UTC session), so every output column is exact.
    """
    p = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.expr(X_EXPR).alias("x"),
        F.expr(Y_EXPR).alias("y"),
    )
    f = p.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.expr(_GF_INSIDE), 1).otherwise(0).alias("inside"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    r = f.withColumn(
        "chg",
        F.when(
            F.lag("inside").over(w).isNull()
            | (F.lag("inside").over(w) != F.col("inside")),
            1,
        ).otherwise(0),
    )
    runs = r.withColumn("run_id", F.sum("chg").over(w))
    ep = (
        runs.where(F.col("inside") == 1)
        .groupBy("user_id", "run_id")
        .agg(
            F.count("*").cast("long").alias("n_pts"),
            (
                F.unix_timestamp(F.max("ts"))
                - F.unix_timestamp(F.min("ts"))
            )
            .cast("long")
            .alias("dwell_s"),
        )
    )
    return (
        ep.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_visits"),
            F.sum("n_pts").cast("long").alias("n_points_inside"),
            F.sum("dwell_s").cast("long").alias("total_dwell_s"),
            F.max("dwell_s").cast("long").alias("max_dwell_s"),
        )
        .orderBy("user_id")
    )
