"""Driver-contract entries: round-3 session-15 additions (model
diagnostics + concentration statistics).

The registry has the MODELS (``ols_multifeature``, ``theil_sen_daily_trend``,
``ar1_forecast``, ``holt_linear_forecast``) and the SERIES tests
(``ljung_box_test``, ``runs_test_randomness``, ``chow_test_midpoint``) but
not the standard REGRESSION-DIAGNOSTIC report a modelling pipeline runs
after every fit, nor the two classical distribution gates that precede
parametric modelling, nor the market-concentration index every
share-of-revenue dashboard ends with.  Each entry is oracle-paired and
follows the repo's exact-integer discipline: every cross-row sum is an
exact HUGEINT/DECIMAL(38,0) aggregate, statistics are ONE fixed-order
double expression over exact sums, snapped once to micro units — so the
DuckDB/Spark hash match is arithmetic, not luck.

- ``durbin_watson_autocorr``: lag-1 residual autocorrelation of the
  daily-trend OLS (Durbin & Watson 1950).  ``ljung_box_test`` gates the
  RAW series; DW gates the residuals AFTER detrending — the check that
  decides whether the OLS standard errors are usable at all.  Residuals
  are kept as exact integers by clearing denominators: with
  B_num = n*Sxy - Sx*Sy and B_den = n*Sxx - Sx^2,
  E_i = n*B_den*y_i - B_den*Sy + B_num*Sx - n*B_num*x_i is an exact
  HUGEINT multiple of the residual, and DW = sum(dE^2)/sum(E^2) is
  scale-invariant, so the statistic is a ratio of exact integers.
- ``breusch_pagan_test``: heteroskedasticity LM test (Breusch & Pagan
  1979) — the auxiliary regression of squared residuals on the
  regressor; BP = n*R^2 ~ chi-square(1).  R^2 is invariant to affine
  scaling of the response, so squared residuals are first snapped to
  exact integer dollars (deterministic on both engines) and every
  auxiliary moment is an exact integer sum.
- ``cooks_distance_days``: per-day influence D_i =
  e_i^2 h_i / (p s^2 (1-h_i)^2) with exact-rational leverage
  h_i = 1/n + (n x_i - Sx)^2 / (n B_den); e_i^2/s^2 reduces to
  E_i^2 (n-2) / sum(E^2) — again exact integers end-to-end.  Flags
  days with D > 4/n, the standard influential-observation cut.
- ``jarque_bera_normality``: the moment normality test (Jarque & Bera
  1980) per event type from exact integer power sums S1..S4 (4th powers
  through HUGEINT == DECIMAL(38,0)); skewness / excess kurtosis / JB
  are one fixed-order double expression each, vs the chi-square(2) 5 %
  critical value 5.991465.
- ``brown_forsythe_test``: variance-homogeneity test (Brown & Forsythe
  1974 — the median-centered Levene, robust to non-normality).  The
  group median of integer cents is always a multiple of 0.5, so
  w = |2*v - 2*median| is an exact integer and all ANOVA sums over w
  are exact; complements ``welch_ttest_weekend`` (2-sample unequal
  variance) and ``kruskal_wallis_test`` (k-sample location) with the
  k-sample SCALE member of the toolbox.
- ``hhi_concentration``: Herfindahl-Hirschman index of revenue
  concentration per region market (DOJ/FTC 1500/2500-point bands) —
  the one-number summary behind ``value_gini_by_type`` (inequality) and
  ``pareto_8020_point`` (cumulative share) that antitrust-style market
  reviews actually quote.  Exact integer cents shares; aggregates to
  25 (region, nation) rows before any dimension join.

Reference surface being generalized: the reference's weekly-report and
power-user query surface (generate_weekly_report.sh:42-281,
power_user_queries.sql score-distribution sections) publishes
score/revenue distribution rollups per area; these entries add the
inferential checks (is the trend's error structure sane? which days
drove it? is any market captured?) that a 10^12-page production rollup
needs before anyone acts on it.

Scale shapes: every entry aggregates the raw scan ONCE on a bounded key
(day, event_type, or (region, nation)); all statistics run over those
bounded relations (30 days / 5 types / 25 markets), never over raw rows.
The only windows order the 30-row daily relation — bounded by calendar,
not by data volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osmgraft.contract import q, t
from osmgraft.runtime.cut import cut

_D38 = "DECIMAL(38,0)"

# ---------------------------------------------------------------------------
# shared daily-OLS scaffolding (exact-integer residuals)
# ---------------------------------------------------------------------------

# SQL prefix shared by the three diagnostics: daily integer-cent totals,
# day offsets, exact regression moment sums, and the exact scaled
# residual E_i = n*B_den*y_i - B_den*Sy + B_num*Sx - n*B_num*x_i.
_OLS_PREFIX = """
    daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(FLOOR(value * 100e0) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY d),
    rng AS (SELECT MIN(d) AS d0 FROM daily),
    xy AS (SELECT d - (SELECT d0 FROM rng) AS x, y FROM daily),
    s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 CAST(SUM(x) AS HUGEINT) AS sx,
                 CAST(SUM(y) AS HUGEINT) AS sy,
                 CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                 CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
          FROM xy),
    f AS (SELECT n, sx, sy,
                 n * sxy - sx * sy AS bnum,
                 n * sxx - sx * sx AS bden
          FROM s),
    e AS (SELECT xy.x,
                 f.n * f.bden * xy.y - f.bden * f.sy
                 + f.bnum * f.sx - f.n * f.bnum * xy.x AS ei
          FROM xy, f)
"""


def _daily_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily integer-cent totals keyed by day offset from the first day."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.expr(
                "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)"
            ).alias("d")
        )
        .agg(
            F.sum(F.expr("CAST(FLOOR(value * 100e0) AS BIGINT)"))
            .cast("long")
            .alias("y")
        )
    )
    d0 = daily.agg(F.min("d")).collect()[0][0]
    return daily.select(
        (F.col("d") - F.lit(int(d0))).alias("x"), "y"
    )


def _ols_fit(xy: DataFrame) -> DataFrame:
    """One-row exact regression moments + cleared-denominator slope."""
    s = xy.agg(
        F.expr(f"CAST(COUNT(*) AS {_D38})").alias("n"),
        F.sum(F.expr(f"CAST(x AS {_D38})")).alias("sx"),
        F.sum(F.expr(f"CAST(y AS {_D38})")).alias("sy"),
        F.sum(F.expr(f"CAST(x AS {_D38}) * x")).alias("sxx"),
        F.sum(F.expr(f"CAST(x AS {_D38}) * y")).alias("sxy"),
    )
    return s.select(
        "n", "sx", "sy",
        F.expr("n * sxy - sx * sy").alias("bnum"),
        F.expr("n * sxx - sx * sx").alias("bden"),
    )


def _resid(xy: DataFrame, fit: DataFrame) -> DataFrame:
    """Exact scaled residual E_i per day (x, ei) — broadcast 1-row fit."""
    return xy.crossJoin(F.broadcast(fit)).select(
        "x", "n", "sx", "bden",
        F.expr(
            "n * bden * y - bden * sy + bnum * sx - n * bnum * x"
        ).alias("ei"),
    )


# ---------------------------------------------------------------------------
# Durbin-Watson lag-1 residual autocorrelation
# ---------------------------------------------------------------------------

_DW_SQL = f"""
    WITH {_OLS_PREFIX},
    l AS (SELECT ei, LAG(ei) OVER (ORDER BY x) AS ep FROM e),
    agg AS (
      SELECT SUM(CASE WHEN ep IS NULL THEN 0
                      ELSE (ei - ep) * (ei - ep) END) AS num,
             SUM(ei * ei) AS den
      FROM l)
    SELECT CAST((SELECT n FROM s) AS BIGINT) AS n_days,
           CAST(FLOOR(num * 1.0e0 / den * 1000000e0 + 0.5e0) AS BIGINT)
             AS dw_micro,
           CASE
             WHEN num * 1.0e0 / den < 1.5e0 THEN 'positive_autocorr'
             WHEN num * 1.0e0 / den > 2.5e0 THEN 'negative_autocorr'
             ELSE 'no_autocorr'
           END AS verdict
    FROM agg
    """


@q("durbin_watson_autocorr", oracle=_DW_SQL)
def durbin_watson_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson test on the daily-trend OLS residuals: DW =
    sum((e_i - e_{i-1})^2) / sum(e_i^2), ~2 under no autocorrelation,
    <1.5 / >2.5 as the standard rule-of-thumb bands.  The residual check
    behind every trend read (`theil_sen_daily_trend`, `ar1_forecast`):
    autocorrelated residuals mean the OLS error bars are fiction.

    Exactness: residuals are cleared-denominator exact integers
    (E_i = n*B_den*y_i - B_den*Sy + B_num*Sx - n*B_num*x_i); DW is
    scale-invariant, so numerator and denominator are exact HUGEINT /
    DECIMAL(38,0) sums and the statistic is ONE double division,
    micro-snapped.

    Scale shape: one day-keyed partial agg over the raw scan; the lag
    window orders the 30-row daily relation (bounded by calendar);
    the 1-row fit is broadcast.  Cites reference
    generate_weekly_report.sh:42-281 (weekly trend sections).
    """
    xy = cut(_daily_xy(spark, sf_dir))
    fit = _ols_fit(xy)
    e = _resid(xy, fit)
    l = e.select(
        "ei", F.lag("ei").over(Window.orderBy("x")).alias("ep"), "n"
    )
    agg = l.agg(
        F.sum(
            F.expr(
                "CASE WHEN ep IS NULL THEN CAST(0 AS DECIMAL(38,0))"
                " ELSE (ei - ep) * (ei - ep) END"
            )
        ).alias("num"),
        F.sum(F.expr("ei * ei")).alias("den"),
        F.max("n").alias("n"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        F.expr(
            "CAST(FLOOR(num * 1.0e0 / den * 1000000e0 + 0.5e0) AS BIGINT)"
        ).alias("dw_micro"),
        F.expr(
            "CASE WHEN num * 1.0e0 / den < 1.5e0 THEN 'positive_autocorr'"
            " WHEN num * 1.0e0 / den > 2.5e0 THEN 'negative_autocorr'"
            " ELSE 'no_autocorr' END"
        ).alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Breusch-Pagan heteroskedasticity LM test
# ---------------------------------------------------------------------------

_BP_SQL = f"""
    WITH {_OLS_PREFIX},
    u AS (SELECT x,
                 CAST(FLOOR(ei * 1.0e0 / (n * bden) / 100e0 + 0.5e0)
                      AS HUGEINT) AS ed
          FROM e, f),
    ux AS (SELECT x, ed * ed AS uu FROM u),
    a AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 CAST(SUM(x) AS HUGEINT) AS sx,
                 CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                 CAST(SUM(uu) AS HUGEINT) AS su,
                 CAST(SUM(CAST(x AS HUGEINT) * uu) AS HUGEINT) AS sxu,
                 CAST(SUM(uu * uu) AS HUGEINT) AS suu
          FROM ux),
    r AS (SELECT n,
                 (n * sxu - sx * su) * 1.0e0 * (n * sxu - sx * su)
                 / ((n * sxx - sx * sx) * 1.0e0 * (n * suu - su * su))
                   AS r2
          FROM a)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(FLOOR(n * 1.0e0 * r2 * 1000000e0 + 0.5e0) AS BIGINT)
             AS bp_micro,
           CAST(1 AS BIGINT) AS df,
           CASE WHEN n * 1.0e0 * r2 > 3.841459e0 THEN 'heteroskedastic'
                ELSE 'homoskedastic' END AS verdict
    FROM r
    """


@q("breusch_pagan_test", oracle=_BP_SQL)
def breusch_pagan_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan LM test on the daily-trend OLS: regress squared
    residuals on the day index; BP = n * R^2 ~ chi-square(1), 5 %
    critical value 3.841459.  Rising error variance (common when traffic
    grows) silently breaks every OLS interval the trend reports quote —
    this is the standard gate.

    Exactness: R^2 is invariant to affine scaling of the response, so
    residuals are snapped once to exact integer DOLLARS
    (FLOOR(E/(n*B_den)/100 + 0.5) — one deterministic double division of
    exact integers), squared exactly, and every auxiliary moment is an
    exact HUGEINT/DECIMAL(38,0) sum; BP is one double expression over
    them.  Dollar (not cent) units keep 4th-order sums inside 38 digits
    at any plausible SF.

    Scale shape: identical to ``durbin_watson_autocorr`` — one bounded
    day-keyed agg, broadcast 1-row fit, no windows over raw rows.
    """
    xy = cut(_daily_xy(spark, sf_dir))
    fit = _ols_fit(xy)
    u = _resid(xy, fit).select(
        "x",
        F.expr(
            "CAST(FLOOR(ei * 1.0e0 / (n * bden) / 100e0 + 0.5e0)"
            f" AS {_D38})"
        ).alias("ed"),
    )
    ux = u.select("x", F.expr("ed * ed").alias("uu"))
    a = ux.agg(
        F.expr(f"CAST(COUNT(*) AS {_D38})").alias("n"),
        F.sum(F.expr(f"CAST(x AS {_D38})")).alias("sx"),
        F.sum(F.expr(f"CAST(x AS {_D38}) * x")).alias("sxx"),
        F.sum("uu").alias("su"),
        F.sum(F.expr(f"CAST(x AS {_D38}) * uu")).alias("sxu"),
        F.sum(F.expr("uu * uu")).alias("suu"),
    )
    r = a.select(
        "n",
        F.expr(
            "(n * sxu - sx * su) * 1.0e0 * (n * sxu - sx * su)"
            " / ((n * sxx - sx * sx) * 1.0e0 * (n * suu - su * su))"
        ).alias("r2"),
    )
    return r.select(
        F.col("n").cast("long").alias("n_days"),
        F.expr(
            "CAST(FLOOR(n * 1.0e0 * r2 * 1000000e0 + 0.5e0) AS BIGINT)"
        ).alias("bp_micro"),
        F.lit(1).cast("long").alias("df"),
        F.expr(
            "CASE WHEN n * 1.0e0 * r2 > 3.841459e0 THEN 'heteroskedastic'"
            " ELSE 'homoskedastic' END"
        ).alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Cook's distance — influential days of the daily trend
# ---------------------------------------------------------------------------

_COOKS_SQL = f"""
    WITH {_OLS_PREFIX},
    sse AS (SELECT SUM(ei * ei) AS se2 FROM e),
    d AS (
      SELECT e.x,
             (f.n * e.x - f.sx) * 1.0e0 * (f.n * e.x - f.sx)
               / (f.n * 1.0e0 * f.bden) + 1e0 / (f.n * 1.0e0) AS h,
             ei * 1.0e0 * ei * (f.n - 2e0)
               / (SELECT se2 * 1.0e0 FROM sse) AS t2
      FROM e, f),
    cook AS (
      SELECT x,
             CAST(FLOOR(h * 1000000e0 + 0.5e0) AS BIGINT)
               AS leverage_micro,
             CAST(FLOOR(t2 * h / (2e0 * (1e0 - h) * (1e0 - h))
                        * 1000000e0 + 0.5e0) AS BIGINT) AS cooks_micro
      FROM d),
    top AS (
      SELECT x, leverage_micro, cooks_micro,
             ROW_NUMBER() OVER (ORDER BY cooks_micro DESC, x) AS rn
      FROM cook)
    SELECT DATE '1970-01-01' + CAST(x + (SELECT d0 FROM rng) AS INTEGER)
             AS day,
           leverage_micro, cooks_micro,
           CASE WHEN cooks_micro * (SELECT n FROM s) > 4000000
                THEN 'influential' ELSE 'typical' END AS flag
    FROM top WHERE rn <= 5
    ORDER BY cooks_micro DESC, day
    """


@q("cooks_distance_days", oracle=_COOKS_SQL)
def cooks_distance_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance per day of the daily-trend OLS — the top-5 most
    influential days with leverage and the D > 4/n influence flag.  The
    "which day is driving this trend" answer behind ``daily_anomalies``
    (which finds outliers in VALUE, not in INFLUENCE — a moderate
    outlier at the series edge can out-influence a big one in the
    middle, which is exactly what leverage captures).

    Exactness: leverage h_i = 1/n + (n*x_i - Sx)^2 / (n*B_den) and the
    studentized ratio e_i^2/s^2 = E_i^2 (n-2) / sum(E^2) are fixed
    double expressions over exact integers (the scale of E cancels);
    both are micro-snapped BEFORE the top-5 rank, so the cut is
    deterministic on both engines (ties broken by day).

    Scale shape: the rank orders the 30-row bounded daily relation;
    raw rows see one partial agg only.
    """
    xy = cut(_daily_xy(spark, sf_dir))
    fit = _ols_fit(xy)
    e = _resid(xy, fit)
    sse = e.agg(F.sum(F.expr("ei * ei")).alias("se2"))
    d = e.crossJoin(F.broadcast(sse)).select(
        "x",
        F.expr(
            "(n * x - sx) * 1.0e0 * (n * x - sx) / (n * 1.0e0 * bden)"
            " + 1e0 / (n * 1.0e0)"
        ).alias("h"),
        F.expr("ei * 1.0e0 * ei * (n - 2e0) / (se2 * 1.0e0)").alias("t2"),
        F.col("n"),
    )
    cook = d.select(
        "x", "n",
        F.expr(
            "CAST(FLOOR(h * 1000000e0 + 0.5e0) AS BIGINT)"
        ).alias("leverage_micro"),
        F.expr(
            "CAST(FLOOR(t2 * h / (2e0 * (1e0 - h) * (1e0 - h))"
            " * 1000000e0 + 0.5e0) AS BIGINT)"
        ).alias("cooks_micro"),
    )
    w = Window.orderBy(F.desc("cooks_micro"), "x")
    d0 = (
        t(spark, sf_dir, "events")
        .agg(F.expr("MIN(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT))"))
        .collect()[0][0]
    )
    return (
        cook.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            F.expr(
                f"DATE_ADD(DATE '1970-01-01', CAST(x + {int(d0)} AS INT))"
            ).alias("day"),
            "leverage_micro",
            "cooks_micro",
            F.expr(
                "CASE WHEN cooks_micro * CAST(n AS BIGINT) > 4000000"
                " THEN 'influential' ELSE 'typical' END"
            ).alias("flag"),
        )
        .orderBy(F.desc("cooks_micro"), "day")
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality test per event type
# ---------------------------------------------------------------------------

_JB_SQL = """
    WITH c AS (
      SELECT event_type, CAST(FLOOR(value * 100e0) AS BIGINT) AS v
      FROM events),
    p AS (
      SELECT event_type,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2,
             CAST(SUM(CAST(v AS HUGEINT) * v * v) AS HUGEINT) AS s3,
             CAST(SUM(CAST(v AS HUGEINT) * v * v * v) AS HUGEINT) AS s4
      FROM c GROUP BY event_type),
    m AS (
      SELECT event_type, n,
             s1 * 1.0e0 / n AS m1, s2 * 1.0e0 / n AS r2,
             s3 * 1.0e0 / n AS r3, s4 * 1.0e0 / n AS r4
      FROM p),
    k AS (
      SELECT event_type, n,
             r2 - m1 * m1 AS m2,
             r3 - 3e0 * m1 * r2 + 2e0 * m1 * m1 * m1 AS m3,
             r4 - 4e0 * m1 * r3 + 6e0 * m1 * m1 * r2
                - 3e0 * m1 * m1 * m1 * m1 AS m4
      FROM m),
    g AS (
      SELECT event_type, n,
             m3 / POWER(m2, 1.5e0) AS g1,
             m4 / (m2 * m2) - 3e0 AS g2
      FROM k)
    SELECT event_type, CAST(n AS BIGINT) AS n_obs,
           CAST(FLOOR(g1 * 1000000e0 + 0.5e0) AS BIGINT) AS skew_micro,
           CAST(FLOOR(g2 * 1000000e0 + 0.5e0) AS BIGINT) AS exkurt_micro,
           CAST(FLOOR(n * 1.0e0 / 6e0 * (g1 * g1 + g2 * g2 / 4e0)
                      * 1000e0 + 0.5e0) AS BIGINT) AS jb_milli,
           CASE WHEN n * 1.0e0 / 6e0 * (g1 * g1 + g2 * g2 / 4e0)
                     > 5.991465e0
                THEN 'reject_normality' ELSE 'consistent' END AS verdict
    FROM g ORDER BY event_type
    """


@q("jarque_bera_normality", oracle=_JB_SQL)
def jarque_bera_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per event type: JB = n/6 *
    (skew^2 + exkurt^2/4) ~ chi-square(2), 5 % critical value 5.991465.
    The gate before any z-interval / t-test on raw values —
    ``welch_ttest_weekend`` and ``abtest_conversion_z`` assume what this
    entry checks.  Complements ``benford_audit`` (digit-law shape) with
    the moment-law shape test.

    Exactness: S1..S4 are exact integer power sums of integer cents
    (4th powers via HUGEINT == DECIMAL(38,0); cents^4 at the fixture's
    value range is ~6e18 per row, sums ~1e23 — well inside 38 digits);
    central moments, skewness, kurtosis and JB are fixed-order double
    expressions over those exact sums, each snapped once.

    Scale shape: ONE partial agg over the raw scan keyed by the 5-value
    event_type; everything downstream is per-group scalar arithmetic.
    """
    c = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(FLOOR(value * 100e0) AS BIGINT)").alias("v"),
    )
    p = c.groupBy("event_type").agg(
        F.expr(f"CAST(COUNT(*) AS {_D38})").alias("n"),
        F.sum(F.expr(f"CAST(v AS {_D38})")).alias("s1"),
        F.sum(F.expr(f"CAST(v AS {_D38}) * v")).alias("s2"),
        F.sum(F.expr(f"CAST(v AS {_D38}) * v * v")).alias("s3"),
        F.sum(F.expr(f"CAST(v AS {_D38}) * v * v * v")).alias("s4"),
    )
    m = p.select(
        "event_type", "n",
        F.expr("s1 * 1.0e0 / n").alias("m1"),
        F.expr("s2 * 1.0e0 / n").alias("r2"),
        F.expr("s3 * 1.0e0 / n").alias("r3"),
        F.expr("s4 * 1.0e0 / n").alias("r4"),
    )
    k = m.select(
        "event_type", "n",
        F.expr("r2 - m1 * m1").alias("m2"),
        F.expr("r3 - 3e0 * m1 * r2 + 2e0 * m1 * m1 * m1").alias("m3"),
        F.expr(
            "r4 - 4e0 * m1 * r3 + 6e0 * m1 * m1 * r2"
            " - 3e0 * m1 * m1 * m1 * m1"
        ).alias("m4"),
    )
    g = k.select(
        "event_type", "n",
        F.expr("m3 / POWER(m2, 1.5e0)").alias("g1"),
        F.expr("m4 / (m2 * m2) - 3e0").alias("g2"),
    )
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n_obs"),
        F.expr(
            "CAST(FLOOR(g1 * 1000000e0 + 0.5e0) AS BIGINT)"
        ).alias("skew_micro"),
        F.expr(
            "CAST(FLOOR(g2 * 1000000e0 + 0.5e0) AS BIGINT)"
        ).alias("exkurt_micro"),
        F.expr(
            "CAST(FLOOR(n * 1.0e0 / 6e0 * (g1 * g1 + g2 * g2 / 4e0)"
            " * 1000e0 + 0.5e0) AS BIGINT)"
        ).alias("jb_milli"),
        F.expr(
            "CASE WHEN n * 1.0e0 / 6e0 * (g1 * g1 + g2 * g2 / 4e0)"
            " > 5.991465e0 THEN 'reject_normality'"
            " ELSE 'consistent' END"
        ).alias("verdict"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Brown-Forsythe (median-centered Levene) variance homogeneity
# ---------------------------------------------------------------------------

# F(4, inf) upper 5 % point — the fixture's df2 is ~10^4 so the
# asymptotic critical value is the right literal at any test SF.
_BF_CRIT = "2.372e0"

_BF_SQL = f"""
    WITH c AS (
      SELECT event_type, CAST(FLOOR(value * 100e0) AS BIGINT) AS v
      FROM events),
    med AS (
      SELECT event_type,
             CAST(2e0 * QUANTILE_CONT(v, 0.5e0) AS BIGINT) AS m2x
      FROM c GROUP BY event_type),
    w AS (
      SELECT c.event_type,
             CAST(ABS(2 * c.v - med.m2x) AS HUGEINT) AS w
      FROM c JOIN med ON c.event_type = med.event_type),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS HUGEINT) AS n_g,
             CAST(SUM(w) AS HUGEINT) AS sw,
             CAST(SUM(w * w) AS HUGEINT) AS sww
      FROM w GROUP BY event_type),
    tot AS (
      SELECT CAST(SUM(n_g) AS HUGEINT) AS nn,
             CAST(SUM(sw) AS HUGEINT) AS tw,
             CAST(COUNT(*) AS HUGEINT) AS k,
             SUM(sw * 1.0e0 * sw / n_g) AS sb_raw,
             SUM(sww * 1.0e0 - sw * 1.0e0 * sw / n_g) AS ssw4
      FROM g),
    r AS (
      SELECT nn, k,
             ((sb_raw - tw * 1.0e0 * tw / nn) / (k * 1.0e0 - 1e0))
             / (ssw4 / (nn * 1.0e0 - k)) AS fstat
      FROM tot)
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nn AS BIGINT) AS n_total,
           CAST(k - 1 AS BIGINT) AS df1,
           CAST(nn - k AS BIGINT) AS df2,
           CAST(FLOOR(fstat * 1000000e0 + 0.5e0) AS BIGINT) AS f_micro,
           CASE WHEN fstat > {_BF_CRIT} THEN 'variances_differ'
                ELSE 'homogeneous' END AS verdict
    FROM r
    """


@q("brown_forsythe_test", oracle=_BF_SQL)
def brown_forsythe_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across event types: a
    one-way ANOVA on absolute deviations from the GROUP MEDIAN (the
    robust Levene variant) — the formal check behind pooling variances
    in any k-group comparison (``kruskal_wallis_test`` tests location;
    this tests scale).

    Exactness: the median of integer cents is always a multiple of 0.5,
    so w = |2v - 2*median| is an exact integer and every ANOVA sum (Sw,
    Sww per group) is exact HUGEINT/DECIMAL(38,0); SSB and SSW carry a
    common factor 4 that cancels in F.  The only double sums run over
    the 5 group rows.  QUANTILE_CONT / percentile share the same
    linear-interpolation definition, and (a+b)/2 on integers < 2^52 is
    exact in binary doubles on both engines.

    Scale shape: one (event_type) partial agg for medians (5-row
    broadcast back), one more for the ANOVA sums; raw rows never
    shuffle on anything unbounded.
    """
    c = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(FLOOR(value * 100e0) AS BIGINT)").alias("v"),
    )
    med = c.groupBy("event_type").agg(
        F.expr("CAST(2e0 * percentile(v, 0.5e0) AS BIGINT)").alias("m2x")
    )
    w = c.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.expr(f"CAST(ABS(2 * v - m2x) AS {_D38})").alias("w"),
    )
    g = w.groupBy("event_type").agg(
        F.expr(f"CAST(COUNT(*) AS {_D38})").alias("n_g"),
        F.sum("w").alias("sw"),
        F.sum(F.expr("w * w")).alias("sww"),
    )
    tot = g.agg(
        F.sum("n_g").alias("nn"),
        F.sum("sw").alias("tw"),
        F.expr(f"CAST(COUNT(*) AS {_D38})").alias("k"),
        F.sum(F.expr("sw * 1.0e0 * sw / n_g")).alias("sb_raw"),
        F.sum(F.expr("sww * 1.0e0 - sw * 1.0e0 * sw / n_g")).alias("ssw4"),
    )
    r = tot.select(
        "nn", "k",
        F.expr(
            "((sb_raw - tw * 1.0e0 * tw / nn) / (k * 1.0e0 - 1e0))"
            " / (ssw4 / (nn * 1.0e0 - k))"
        ).alias("fstat"),
    )
    return r.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nn").cast("long").alias("n_total"),
        F.expr("CAST(k - 1 AS BIGINT)").alias("df1"),
        F.expr("CAST(nn - k AS BIGINT)").alias("df2"),
        F.expr(
            "CAST(FLOOR(fstat * 1000000e0 + 0.5e0) AS BIGINT)"
        ).alias("f_micro"),
        F.expr(
            f"CASE WHEN fstat > {_BF_CRIT} THEN 'variances_differ'"
            " ELSE 'homogeneous' END"
        ).alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman revenue concentration per region market
# ---------------------------------------------------------------------------

_HHI_SQL = """
    WITH rev AS (
      SELECT n.n_regionkey AS rk, c.c_nationkey AS nk,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100e0) AS BIGINT))
                  AS HUGEINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY rk, nk),
    tot AS (
      SELECT rk, CAST(SUM(cents) AS HUGEINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS n_nations
      FROM rev GROUP BY rk),
    hhi AS (
      SELECT r.rk, t.n_nations,
             SUM(10000e0 * (r.cents * 1.0e0 / t.t)
                 * (r.cents * 1.0e0 / t.t)) AS points
      FROM rev r JOIN tot t ON r.rk = t.rk
      GROUP BY r.rk, t.n_nations)
    SELECT reg.r_name AS region, h.n_nations,
           CAST(FLOOR(h.points * 100e0 + 0.5e0) AS BIGINT)
             AS hhi_centipoints,
           CASE WHEN h.points < 1500e0 THEN 'unconcentrated'
                WHEN h.points < 2500e0 THEN 'moderately_concentrated'
                ELSE 'highly_concentrated' END AS band
    FROM hhi h JOIN region reg ON h.rk = reg.r_regionkey
    ORDER BY region
    """


@q("hhi_concentration", oracle=_HHI_SQL)
def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of order-revenue concentration per
    region market: HHI = 10000 * sum(share^2) over the nations supplying
    each region, banded at the DOJ/FTC 1500 / 2500-point thresholds.
    The one-number concentration summary behind ``value_gini_by_type``
    (inequality curve) and ``pareto_8020_point`` (cumulative share) —
    and the statistic an antitrust-style market review quotes.

    Exactness: revenue is exact integer cents; shares and HHI are fixed
    double expressions over two exact integer aggregates; the 5-term
    per-region share sum is snapped to centipoints.

    Scale shape: orders joins customer once (both sides big at scale —
    a single key shuffle), aggregates to the 25-row (region, nation)
    relation BEFORE any dimension join; nation/region are broadcast.
    Cites reference generate_weekly_report.sh geographic-distribution
    sections and power_user_queries.sql regional rollups.
    """
    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(FLOOR(o_totalprice * 100e0) AS BIGINT)").alias("cents"),
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    reg = t(spark, sf_dir, "region")
    rev = (
        o.join(cust, o.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_regionkey").alias("rk"),
            F.col("c_nationkey").alias("nk"),
        )
        .agg(F.sum("cents").cast(_D38).alias("cents"))
    )
    tot = rev.groupBy("rk").agg(
        F.sum("cents").alias("t"),
        F.count("*").cast("long").alias("n_nations"),
    )
    hhi = (
        rev.join(tot, "rk")
        .groupBy("rk", "n_nations")
        .agg(
            F.sum(
                F.expr(
                    "10000e0 * (cents * 1.0e0 / t) * (cents * 1.0e0 / t)"
                )
            ).alias("points")
        )
    )
    return (
        hhi.join(
            F.broadcast(reg), hhi.rk == reg.r_regionkey
        )
        .select(
            F.col("r_name").alias("region"),
            "n_nations",
            F.expr(
                "CAST(FLOOR(points * 100e0 + 0.5e0) AS BIGINT)"
            ).alias("hhi_centipoints"),
            F.expr(
                "CASE WHEN points < 1500e0 THEN 'unconcentrated'"
                " WHEN points < 2500e0 THEN 'moderately_concentrated'"
                " ELSE 'highly_concentrated' END"
            ).alias("band"),
        )
        .orderBy("region")
    )
