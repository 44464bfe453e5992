"""Driver-contract entries: classical test battery II (round-3 session-17).

The inferential toolbox has location tests (``welch_ttest_weekend``,
``kruskal_wallis_test``, ``mann_whitney_drift``), scale
(``brown_forsythe_test``), blocked ranks (``friedman_test``), paired
binaries (``mcnemar_model_compare``), and post-hoc pairs
(``tukey_hsd_pairs``).  Four standard members are still missing — the
parametric k-sample workhorse itself, the k-sample BINARY twin, the
nonlinear-dependence measure, and the internal-consistency reliability
coefficient every multi-item score report quotes:

- ``oneway_anova_f``: the classical one-way fixed-effects ANOVA F over
  event types on integer cents.  The five per-group (n, sum, sum-sq)
  triples are ONE conditional-aggregation scan (exact BIGINT sums); SSB,
  SSW, F, and eta-squared are one fixed-order double expression over
  those 16 integers — written-out literal group order, no float
  aggregation over rows, so the Spark/DuckDB hash match is arithmetic.
  Critical value F(0.05; 4, inf) = 2.371944 inlined as a literal (df2 is
  5 orders of magnitude beyond the asymptote at any SF here).
- ``cochran_q_test``: Cochran's Q (1950) — the k-sample extension of
  McNemar for matched binary responses.  Blocks are users, treatments
  the 5 event types, and the binary is "user is above-average-active in
  type t" via the cleared denominator c * n_users > total_t (integer,
  scale-invariant; the raw did-type-t binary saturates — every user
  touches every type — so it would be degenerate by construction).
  Q = (k-1)(k*SumC2 - T^2) / (k*T - SumR2) is a ratio of exact integers,
  vs chi-square(4) 0.05 critical 9.487729.
- ``distance_correlation_daily``: Szekely-Rizzo distance correlation
  between the even-user and odd-user daily revenue series — detects
  NONLINEAR dependence Pearson (reported alongside for contrast)
  misses.  The n<=31-day distance matrices are double-centered with
  cleared denominators: At = n^2*a - n*rowsum - n*colsum + grandsum is
  an exact integer, so Sum(At*Bt), Sum(At^2), Sum(Bt^2) are exact
  DECIMAL(38,0) sums (<= ~1e29 at SF 1) and
  dcor = sqrt(Sab / sqrt(Saa*Sbb)) is one fixed-order double
  expression, micro-snapped.  Sample dCov^2 is non-negative by
  Szekely's theorem, so the outer sqrt is total.
- ``cronbach_alpha``: Cronbach (1951) internal-consistency alpha
  treating the 5 event types as test items and per-user cents as item
  scores (missing item = 0 spend by definition).  Population variance
  numerators n*SumX2 - (SumX)^2 are exact integers (DECIMAL(38,0) for
  the total-score column), the item sum is a written-out 5-term literal
  order, and alpha = k/(k-1) * (1 - SumVi/Vtot) is one double
  expression, micro-snapped; banded per the standard 0.9/0.8/0.7 rule.

Reference surface generalized: the reference's weekly report publishes
per-area score means and distribution tables
(generate_weekly_report.sh:42-281); these are the four checks a
production scorer runs on exactly that table — do the group means
differ (ANOVA), do participation rates differ (Q), do the two halves of
the traffic co-move nonlinearly (dcor), is the multi-component score
internally consistent (alpha).

Scale shapes: ANOVA / Q / alpha are each ONE conditional-agg pass over
the raw scan onto a bounded relation (1 row, or n_users rows keyed by
user); dcor aggregates the scan to the <=31-row daily relation ONCE and
every matrix op is an equi-join of that bounded relation with itself
(n^2 <= 961 rows, bounded by calendar, not data volume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmgraft.contract import q, t
from osmgraft.runtime.cut import cut

_TYPES = ("click", "error", "purchase", "signup", "view")
_CENTS = "CAST(FLOOR(value * 100e0) AS BIGINT)"


def _split_top(csv: str) -> list[str]:
    """Split a comma-joined column-expression list at top-level commas."""
    out, depth, cur = [], 0, []
    for ch in csv:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out

# ---------------------------------------------------------------------------
# one-way ANOVA F over event types
# ---------------------------------------------------------------------------

_F_CRIT = "2.371944e0"  # F(0.05; 4, inf)


def _anova_moments_sql() -> str:
    # power sums route through DECIMAL(38,0) (== DuckDB HUGEINT) so far
    # beyond the SF-1 envelope both engines surface overflow as
    # null/error instead of Spark's silent non-ANSI int64 wrap
    cols = [
        "CAST(COUNT(*) AS BIGINT) AS n",
        "CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS st",
        "CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DECIMAL(38,0)) AS qt",
    ]
    for ty in _TYPES:
        k = ty[0]
        cols.append(
            f"CAST(SUM(CASE WHEN et = '{ty}' THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_{k}"
        )
        cols.append(
            f"CAST(SUM(CASE WHEN et = '{ty}' THEN CAST(v AS DECIMAL(38,0))"
            f" ELSE 0 END) AS DECIMAL(38,0)) AS s_{k}"
        )
    return ", ".join(cols)


# fixed literal group order: click, error, purchase, signup, view
_SSB_EXPR = (
    "("
    + " + ".join(
        f"COALESCE(CAST(s_{ty[0]} AS DOUBLE) * CAST(s_{ty[0]} AS DOUBLE)"
        f" / CAST(NULLIF(n_{ty[0]}, 0) AS DOUBLE), 0.0e0)"
        for ty in _TYPES
    )
    + " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))"
)
_SSW_EXPR = (
    "(CAST(qt AS DOUBLE) - ("
    + " + ".join(
        f"COALESCE(CAST(s_{ty[0]} AS DOUBLE) * CAST(s_{ty[0]} AS DOUBLE)"
        f" / CAST(NULLIF(n_{ty[0]}, 0) AS DOUBLE), 0.0e0)"
        for ty in _TYPES
    )
    + "))"
)
_F_EXPR = (
    f"(({_SSB_EXPR} / 4.0e0) / ({_SSW_EXPR} / CAST(n - 5 AS DOUBLE)))"
)

_ANOVA_FINAL = f"""
    SELECT CAST(n AS BIGINT) AS n_total,
           CAST(4 AS BIGINT) AS df_between,
           CAST(n - 5 AS BIGINT) AS df_within,
           ROUND({_SSB_EXPR} / 10000.0e0, 2) AS ssb_dollars2,
           ROUND({_SSW_EXPR} / 10000.0e0, 2) AS ssw_dollars2,
           CAST(FLOOR({_F_EXPR} * 1000000e0 + 0.5e0) AS BIGINT) AS f_micro,
           CAST(FLOOR({_SSB_EXPR} / ({_SSB_EXPR} + {_SSW_EXPR})
                      * 1000000e0 + 0.5e0) AS BIGINT) AS eta2_ppm,
           CASE WHEN {_F_EXPR} > {_F_CRIT}
                THEN 'means_differ' ELSE 'no_difference' END AS verdict
"""

_ANOVA_SQL = f"""
    WITH c AS (SELECT event_type AS et, {_CENTS} AS v FROM events),
    m AS (SELECT {_anova_moments_sql()} FROM c)
    {_ANOVA_FINAL} FROM m
    """


@q("oneway_anova_f", oracle=_ANOVA_SQL)
def oneway_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way fixed-effects ANOVA F-test of mean cents across the five
    event types — the parametric k-sample workhorse (Fisher 1925)
    completing the location toolbox (Kruskal-Wallis is its rank twin,
    Tukey HSD its post-hoc, Brown-Forsythe its variance gate).

    Exactness: one conditional-agg scan yields 16 exact BIGINT moments
    (per-group n/sum plus global n/sum/sum-sq — cents^2 sums stay under
    2^63 through SF 1); SSB/SSW/F/eta^2 are ONE fixed-order double
    expression over them (written-out literal group order), so both
    engines execute identical IEEE ops.  F vs the inlined asymptotic
    critical value F(0.05; 4, inf) = 2.371944.

    Scale shape: one scan, one 1-row aggregate, zero joins/windows.
    """
    c = t(spark, sf_dir, "events").selectExpr(
        "event_type AS et", f"{_CENTS} AS v"
    )
    m = c.agg(*[F.expr(e) for e in _split_top(_anova_moments_sql())])
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_total",
        "CAST(4 AS BIGINT) AS df_between",
        "CAST(n - 5 AS BIGINT) AS df_within",
        f"ROUND({_SSB_EXPR} / 10000.0e0, 2) AS ssb_dollars2",
        f"ROUND({_SSW_EXPR} / 10000.0e0, 2) AS ssw_dollars2",
        f"CAST(FLOOR({_F_EXPR} * 1000000e0 + 0.5e0) AS BIGINT) AS f_micro",
        f"CAST(FLOOR({_SSB_EXPR} / ({_SSB_EXPR} + {_SSW_EXPR})"
        " * 1000000e0 + 0.5e0) AS BIGINT) AS eta2_ppm",
        f"CASE WHEN {_F_EXPR} > {_F_CRIT}"
        " THEN 'means_differ' ELSE 'no_difference' END AS verdict",
    )


# ---------------------------------------------------------------------------
# Cochran's Q over matched above-average-activity binaries
# ---------------------------------------------------------------------------

_CHI2_4 = "9.487729e0"  # chi-square(4) 0.05 critical value

_COCHRAN_SQL = f"""
    WITH cnt AS (
      SELECT user_id AS u, event_type AS ty, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY u, ty),
    nu AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users FROM cnt),
    tots AS (SELECT ty, CAST(SUM(c) AS BIGINT) AS tot FROM cnt GROUP BY ty),
    flags AS (
      SELECT cnt.u, cnt.ty
      FROM cnt JOIN tots ON tots.ty = cnt.ty, nu
      WHERE cnt.c * nu.n_users > tots.tot),
    colsum AS (SELECT ty, CAST(COUNT(*) AS BIGINT) AS ct
               FROM flags GROUP BY ty),
    rowsum AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS r
               FROM flags GROUP BY u),
    agg AS (
      SELECT (SELECT SUM(ct) FROM colsum) AS t_flags,
             (SELECT SUM(ct * ct) FROM colsum) AS sc2,
             (SELECT SUM(r * r) FROM rowsum) AS sr2)
    SELECT nu.n_users,
           CAST(agg.t_flags AS BIGINT) AS t_flags,
           CAST(FLOOR(
             CASE WHEN 5 * agg.t_flags - agg.sr2 = 0 THEN 0.0e0
                  ELSE 4.0e0 * (5.0e0 * agg.sc2
                                - CAST(agg.t_flags AS DOUBLE) * agg.t_flags)
                       / (5.0e0 * agg.t_flags - agg.sr2) END
             * 1000000e0 + 0.5e0) AS BIGINT) AS q_micro,
           CAST(4 AS BIGINT) AS df,
           CASE WHEN (CASE WHEN 5 * agg.t_flags - agg.sr2 = 0 THEN 0.0e0
                           ELSE 4.0e0 * (5.0e0 * agg.sc2
                                - CAST(agg.t_flags AS DOUBLE) * agg.t_flags)
                                / (5.0e0 * agg.t_flags - agg.sr2) END)
                     > {_CHI2_4}
                THEN 'rates_differ' ELSE 'no_difference' END AS verdict
    FROM agg, nu
    """


@q("cochran_q_test", oracle=_COCHRAN_SQL)
def cochran_q_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test (1950) — k matched binary treatments, the
    k-sample McNemar: do the five event types have different
    above-average-participation rates across the SAME user blocks?
    The binary is the cleared denominator c * n_users > total_t (the
    raw did-type-t binary saturates on this corpus — every user touches
    every type — which would make Q 0/0 by construction; above-average
    participation is the non-degenerate, skew-sensitive form).

    Q = (k-1)(k*SumC^2 - T^2)/(k*T - SumR^2): every term is an exact
    integer from count aggregates; Q is one double division,
    micro-snapped, vs the inlined chi-square(4) critical value.
    Absent (user, type) pairs are exact zeros by construction (0 is
    never above average), so no dense matrix is materialized.

    Scale shape: one (user, type)-keyed partial agg over the raw scan
    (<= 5x users rows), one broadcast-scalar comparison, two bounded
    rollups.  No windows, no user-side loops.
    """
    ev = t(spark, sf_dir, "events")
    cnt = ev.groupBy(
        F.col("user_id").alias("u"), F.col("event_type").alias("ty")
    ).agg(F.count("*").cast("long").alias("c"))
    cnt = cut(cnt)
    nu = cnt.agg(
        F.countDistinct("u").cast("long").alias("n_users")
    )
    tots = cnt.groupBy("ty").agg(F.sum("c").cast("long").alias("tot"))
    flags = (
        cnt.join(F.broadcast(tots), "ty")
        .crossJoin(F.broadcast(nu))
        .where(F.col("c") * F.col("n_users") > F.col("tot"))
        .select("u", "ty")
        .transform(cut)
    )
    colsum = flags.groupBy("ty").agg(F.count("*").cast("long").alias("ct"))
    rowsum = flags.groupBy("u").agg(F.count("*").cast("long").alias("r"))
    agg = (
        colsum.agg(
            F.sum("ct").cast("long").alias("t_flags"),
            F.sum(F.col("ct") * F.col("ct")).cast("long").alias("sc2"),
        )
        .crossJoin(
            rowsum.agg(
                F.sum(F.col("r") * F.col("r")).cast("long").alias("sr2")
            )
        )
        .crossJoin(nu)
    )
    # degenerate-data guard: every user flagging all five types makes
    # the denominator 0 (Spark NULL vs DuckDB inf) — agree on 0 instead
    qexpr = (
        "CASE WHEN 5 * t_flags - sr2 = 0 THEN 0.0e0"
        " ELSE 4.0e0 * (5.0e0 * sc2 - CAST(t_flags AS DOUBLE) * t_flags)"
        " / (5.0e0 * t_flags - sr2) END"
    )
    return agg.selectExpr(
        "n_users",
        "CAST(t_flags AS BIGINT) AS t_flags",
        f"CAST(FLOOR({qexpr} * 1000000e0 + 0.5e0) AS BIGINT) AS q_micro",
        "CAST(4 AS BIGINT) AS df",
        f"CASE WHEN {qexpr} > {_CHI2_4}"
        " THEN 'rates_differ' ELSE 'no_difference' END AS verdict",
    )


# ---------------------------------------------------------------------------
# distance correlation between the even/odd-user daily series
# ---------------------------------------------------------------------------

_D38 = "DECIMAL(38,0)"

_DAILY_UV = f"""
    daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(SUM(CASE WHEN user_id % 2 = 0 THEN {_CENTS}
                           ELSE 0 END) AS BIGINT) AS u,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN {_CENTS}
                           ELSE 0 END) AS BIGINT) AS v
      FROM events GROUP BY d)
"""

_DCOR_TAIL = """
    SELECT CAST(nn.n AS BIGINT) AS n_days,
           CAST(FLOOR(SQRT(CASE WHEN m.saa = 0 OR m.sbb = 0 THEN 0.0e0
                ELSE CAST(m.sab AS DOUBLE)
                     / SQRT(CAST(m.saa AS DOUBLE) * CAST(m.sbb AS DOUBLE))
                END) * 1000000e0 + 0.5e0) AS BIGINT) AS dcor_micro,
           CAST(FLOOR((CAST(nn.n AS DOUBLE) * p.suv
                       - CAST(p.su AS DOUBLE) * p.sv)
                / SQRT((CAST(nn.n AS DOUBLE) * p.suu
                        - CAST(p.su AS DOUBLE) * p.su)
                       * (CAST(nn.n AS DOUBLE) * p.svv
                          - CAST(p.sv AS DOUBLE) * p.sv))
                * 1000000e0
                + CASE WHEN CAST(nn.n AS DOUBLE) * p.suv
                            - CAST(p.su AS DOUBLE) * p.sv >= 0.0e0
                       THEN 0.5e0 ELSE -0.5e0 END) AS BIGINT)
             AS pearson_micro
    FROM m, nn, p
"""


def _dcor_sql() -> str:
    return f"""
    WITH {_DAILY_UV},
    nn AS (SELECT CAST(COUNT(*) AS {_D38}) AS n FROM daily),
    pairs AS (
      SELECT j.d AS dj, k.d AS dk,
             CAST(ABS(j.u - k.u) AS BIGINT) AS a,
             CAST(ABS(j.v - k.v) AS BIGINT) AS b
      FROM daily j, daily k),
    rws AS (SELECT dj, CAST(SUM(a) AS BIGINT) AS ra,
                   CAST(SUM(b) AS BIGINT) AS rb
            FROM pairs GROUP BY dj),
    cls AS (SELECT dk, CAST(SUM(a) AS BIGINT) AS ca,
                   CAST(SUM(b) AS BIGINT) AS cb
            FROM pairs GROUP BY dk),
    g AS (SELECT CAST(SUM(a) AS BIGINT) AS ga,
                 CAST(SUM(b) AS BIGINT) AS gb
          FROM pairs),
    cent AS (
      SELECT nn.n * nn.n * p.a - nn.n * r.ra - nn.n * c.ca + g.ga AS at,
             nn.n * nn.n * p.b - nn.n * r.rb - nn.n * c.cb + g.gb AS bt
      FROM pairs p
      JOIN rws r ON r.dj = p.dj
      JOIN cls c ON c.dk = p.dk, g, nn),
    m AS (SELECT CAST(SUM(at * bt) AS {_D38}) AS sab,
                 CAST(SUM(at * at) AS {_D38}) AS saa,
                 CAST(SUM(bt * bt) AS {_D38}) AS sbb
          FROM cent),
    p AS (SELECT CAST(SUM(u) AS {_D38}) AS su,
                 CAST(SUM(v) AS {_D38}) AS sv,
                 CAST(SUM(CAST(u AS {_D38}) * u) AS {_D38}) AS suu,
                 CAST(SUM(CAST(v AS {_D38}) * v) AS {_D38}) AS svv,
                 CAST(SUM(CAST(u AS {_D38}) * v) AS {_D38}) AS suv
          FROM daily)
    {_DCOR_TAIL}
    """


@q("distance_correlation_daily", oracle=_dcor_sql())
def distance_correlation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Szekely-Rizzo distance correlation (2007) between the even-user
    and odd-user daily revenue series, with Pearson alongside for
    contrast — dcor = 0 iff independent, so a high dcor with a low |r|
    flags NONLINEAR co-movement the linear toolbox
    (``spearman_corr``, ``kendall_tau_daily``, ``co_movement_pairs``)
    cannot see.

    Exactness: double-centering is cleared-denominator —
    At = n^2*a_jk - n*row_j - n*col_k + grand is an exact integer — so
    Sum(At*Bt) / Sum(At^2) / Sum(Bt^2) are exact DECIMAL(38,0) sums
    (|At| <= ~1.2e13 at SF 1 => products <= ~1.5e26, well inside 38
    digits), and dcor is ONE fixed-order double expression over them.
    Sample dCov^2 >= 0 by Szekely's theorem, so the outer sqrt is
    total; the Pearson snap is signed half-away rounding.

    Scale shape: the raw scan aggregates ONCE to the <=31-row daily
    relation (bounded by calendar); the distance matrices are
    equi-joins of that bounded relation (<= 961 pair rows).  At a
    longer horizon the same shape holds per (series-pair, window).
    """
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.expr(
                "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)"
            ).alias("d")
        )
        .agg(
            F.sum(
                F.expr(f"CASE WHEN user_id % 2 = 0 THEN {_CENTS} ELSE 0 END")
            ).cast("long").alias("u"),
            F.sum(
                F.expr(f"CASE WHEN user_id % 2 = 1 THEN {_CENTS} ELSE 0 END")
            ).cast("long").alias("v"),
        )
        .transform(cut)
    )
    nn = daily.agg(F.expr(f"CAST(COUNT(*) AS {_D38})").alias("n"))
    j = daily.select(
        F.col("d").alias("dj"), F.col("u").alias("ju"), F.col("v").alias("jv")
    )
    k = daily.select(
        F.col("d").alias("dk"), F.col("u").alias("ku"), F.col("v").alias("kv")
    )
    pairs = j.crossJoin(k).select(
        "dj", "dk",
        F.abs(F.col("ju") - F.col("ku")).cast("long").alias("a"),
        F.abs(F.col("jv") - F.col("kv")).cast("long").alias("b"),
    ).transform(cut)
    rws = pairs.groupBy("dj").agg(
        F.sum("a").cast("long").alias("ra"), F.sum("b").cast("long").alias("rb")
    )
    cls = pairs.groupBy("dk").agg(
        F.sum("a").cast("long").alias("ca"), F.sum("b").cast("long").alias("cb")
    )
    g = pairs.agg(
        F.sum("a").cast("long").alias("ga"), F.sum("b").cast("long").alias("gb")
    )
    cent = (
        pairs.join(rws, "dj")
        .join(cls, "dk")
        .crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(nn))
        .selectExpr(
            "n * n * a - n * ra - n * ca + ga AS at",
            "n * n * b - n * rb - n * cb + gb AS bt",
        )
    )
    m = cent.agg(
        F.expr(f"CAST(SUM(at * bt) AS {_D38})").alias("sab"),
        F.expr(f"CAST(SUM(at * at) AS {_D38})").alias("saa"),
        F.expr(f"CAST(SUM(bt * bt) AS {_D38})").alias("sbb"),
    )
    p = daily.agg(
        F.expr(f"CAST(SUM(u) AS {_D38})").alias("su"),
        F.expr(f"CAST(SUM(v) AS {_D38})").alias("sv"),
        F.expr(f"CAST(SUM(CAST(u AS {_D38}) * u) AS {_D38})").alias("suu"),
        F.expr(f"CAST(SUM(CAST(v AS {_D38}) * v) AS {_D38})").alias("svv"),
        F.expr(f"CAST(SUM(CAST(u AS {_D38}) * v) AS {_D38})").alias("suv"),
    )
    out = m.crossJoin(nn).crossJoin(p)
    return out.selectExpr(
        "CAST(n AS BIGINT) AS n_days",
        "CAST(FLOOR(SQRT(CASE WHEN saa = 0 OR sbb = 0 THEN 0.0e0"
        " ELSE CAST(sab AS DOUBLE)"
        " / SQRT(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE)) END)"
        " * 1000000e0 + 0.5e0) AS BIGINT) AS dcor_micro",
        "CAST(FLOOR((CAST(n AS DOUBLE) * suv - CAST(su AS DOUBLE) * sv)"
        " / SQRT((CAST(n AS DOUBLE) * suu - CAST(su AS DOUBLE) * su)"
        " * (CAST(n AS DOUBLE) * svv - CAST(sv AS DOUBLE) * sv))"
        " * 1000000e0"
        " + CASE WHEN CAST(n AS DOUBLE) * suv - CAST(su AS DOUBLE) * sv"
        " >= 0.0e0 THEN 0.5e0 ELSE -0.5e0 END) AS BIGINT) AS pearson_micro",
    )


# ---------------------------------------------------------------------------
# Cronbach's alpha over event-type "items"
# ---------------------------------------------------------------------------

_ALPHA_ITEMS = ", ".join(
    f"CAST(SUM(CASE WHEN event_type = '{ty}' THEN {_CENTS} ELSE 0 END)"
    f" AS BIGINT) AS x_{ty[0]}"
    for ty in _TYPES
)
_ALPHA_VARS = ", ".join(
    [
        f"CAST(SUM(CAST(x_{ty[0]} AS {_D38}) * x_{ty[0]}) AS {_D38}) AS q_{ty[0]}"
        for ty in _TYPES
    ]
    + [f"CAST(SUM(x_{ty[0]}) AS {_D38}) AS s_{ty[0]}" for ty in _TYPES]
    + [
        f"CAST(SUM(CAST(x_c + x_e + x_p + x_s + x_v AS {_D38})"
        f" * (x_c + x_e + x_p + x_s + x_v)) AS {_D38}) AS q_tot",
        f"CAST(SUM(x_c + x_e + x_p + x_s + x_v) AS {_D38}) AS s_tot",
        f"CAST(COUNT(*) AS {_D38}) AS nu",
    ]
)
# fixed literal item order: click, error, purchase, signup, view
_ALPHA_NUM = " + ".join(
    f"CAST(nu * q_{ty[0]} - s_{ty[0]} * s_{ty[0]} AS DOUBLE)" for ty in _TYPES
)
_ALPHA_EXPR = (
    f"(1.25e0 * (1.0e0 - ({_ALPHA_NUM})"
    " / CAST(nu * q_tot - s_tot * s_tot AS DOUBLE)))"
)

_ALPHA_SQL = f"""
    WITH scores AS (
      SELECT user_id, {_ALPHA_ITEMS}
      FROM events GROUP BY user_id),
    v AS (SELECT {_ALPHA_VARS} FROM scores)
    SELECT CAST(5 AS BIGINT) AS k_items,
           CAST(nu AS BIGINT) AS n_users,
           CAST(FLOOR({_ALPHA_EXPR} * 1000000e0
                      + CASE WHEN {_ALPHA_EXPR} >= 0.0e0
                             THEN 0.5e0 ELSE -0.5e0 END) AS BIGINT)
             AS alpha_micro,
           CASE WHEN {_ALPHA_EXPR} >= 0.9e0 THEN 'excellent'
                WHEN {_ALPHA_EXPR} >= 0.8e0 THEN 'good'
                WHEN {_ALPHA_EXPR} >= 0.7e0 THEN 'acceptable'
                ELSE 'weak' END AS band
    FROM v
    """


@q("cronbach_alpha", oracle=_ALPHA_SQL)
def cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha (1951) internal-consistency reliability of the
    5-item per-user spend profile (items = event types, score = cents;
    a user with no events of a type scores an exact 0 by definition) —
    the standard check that a multi-component score behaves as ONE
    scale before anyone averages its components (cf. the rule-compiled
    additive scorers, which sum component scores per document).

    Exactness: per-user item scores are one conditional-agg scan;
    population variance numerators n*SumX^2 - (SumX)^2 are exact
    DECIMAL(38,0) integers; the 5-term item-variance sum is a
    written-out literal order and alpha = k/(k-1)(1 - SumVi/Vt) is one
    double expression, signed-snap to micro.

    Scale shape: one user-keyed partial agg over the raw scan, one
    1-row moment aggregate.  No joins, no windows.
    """
    ev = t(spark, sf_dir, "events")
    scores = ev.groupBy("user_id").agg(
        *[F.expr(e) for e in _split_top(_ALPHA_ITEMS)]
    )
    v = scores.agg(*[F.expr(e) for e in _split_top(_ALPHA_VARS)])
    return v.selectExpr(
        "CAST(5 AS BIGINT) AS k_items",
        "CAST(nu AS BIGINT) AS n_users",
        f"CAST(FLOOR({_ALPHA_EXPR} * 1000000e0"
        f" + CASE WHEN {_ALPHA_EXPR} >= 0.0e0"
        " THEN 0.5e0 ELSE -0.5e0 END) AS BIGINT) AS alpha_micro",
        f"CASE WHEN {_ALPHA_EXPR} >= 0.9e0 THEN 'excellent'"
        f" WHEN {_ALPHA_EXPR} >= 0.8e0 THEN 'good'"
        f" WHEN {_ALPHA_EXPR} >= 0.7e0 THEN 'acceptable'"
        " ELSE 'weak' END AS band",
    )


# ---------------------------------------------------------------------------
# Pettitt nonparametric changepoint (rank-based CUSUM)
# ---------------------------------------------------------------------------

_DAILY_Y = f"""
    daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(SUM({_CENTS}) AS BIGINT) AS y
      FROM events GROUP BY d)
"""

_PETTITT_TAIL = """
    SELECT CAST(nn.n AS BIGINT) AS n_days,
           star.td AS t_star_day,
           star.u AS u_at_t,
           k.kk AS k_stat,
           CAST(FLOOR(LEAST(1.0e0,
                2.0e0 * EXP(-6.0e0 * CAST(k.kk AS DOUBLE) * k.kk
                            / (CAST(nn.n AS DOUBLE) * nn.n * nn.n
                               + CAST(nn.n AS DOUBLE) * nn.n)))
                * 1000000e0 + 0.5e0) AS BIGINT) AS p_micro,
           CASE WHEN 2.0e0 * EXP(-6.0e0 * CAST(k.kk AS DOUBLE) * k.kk
                     / (CAST(nn.n AS DOUBLE) * nn.n * nn.n
                        + CAST(nn.n AS DOUBLE) * nn.n)) < 0.05e0
                THEN CASE WHEN star.u > 0 THEN 'shift_down'
                          ELSE 'shift_up' END
                ELSE 'no_changepoint' END AS verdict
    FROM star, k, nn
"""

_PETTITT_SQL = f"""
    WITH {_DAILY_Y},
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    pairs AS (
      SELECT i.d AS di, j.d AS dj,
             CASE WHEN i.y > j.y THEN 1
                  WHEN i.y < j.y THEN -1 ELSE 0 END AS s
      FROM daily i JOIN daily j ON i.d < j.d),
    ts_ AS (SELECT d FROM daily WHERE d < (SELECT MAX(d) FROM daily)),
    ut AS (
      SELECT t.d AS td, CAST(SUM(p.s) AS BIGINT) AS u
      FROM ts_ t JOIN pairs p ON p.di <= t.d AND p.dj > t.d
      GROUP BY t.d),
    k AS (SELECT CAST(MAX(ABS(u)) AS BIGINT) AS kk FROM ut),
    star AS (SELECT ut.td, ut.u FROM ut, k WHERE ABS(ut.u) = k.kk
             ORDER BY ut.td LIMIT 1)
    {_PETTITT_TAIL}
    """


@q("pettitt_changepoint", oracle=_PETTITT_SQL)
def pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt test (1979) — the nonparametric single-changepoint locator
    (a rank-based CUSUM; the distribution-free member of the changepoint
    family next to ``cusum_changepoints`` (parametric),
    ``chow_test_midpoint`` (F at a fixed split) and
    ``page_hinkley_drift`` (sequential)): U_t = sum of sign(y_i - y_j)
    over pairs straddling t; the changepoint is argmax |U_t| and
    p ~ 2 exp(-6K^2/(n^3+n^2)).

    Exactness: signs and U_t are exact integers; only the final p goes
    through EXP (one fixed-order double expression, micro-snapped —
    the same libm-snap discipline as ``haversine_band_counts``).  Ties
    in |U_t| resolve to the earliest day.

    Scale shape: one day-keyed partial agg over the raw scan; the pair
    and straddle joins run over the <=31-row daily relation (<=465
    pairs x <=30 candidate cuts — bounded by calendar, not data).
    """
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.expr(
                "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)"
            ).alias("d")
        )
        .agg(F.sum(F.expr(_CENTS)).cast("long").alias("y"))
        .transform(cut)
    )
    nn = daily.agg(F.count("*").cast("long").alias("n"))
    i = daily.select(F.col("d").alias("di"), F.col("y").alias("yi"))
    jj = daily.select(F.col("d").alias("dj"), F.col("y").alias("yj"))
    pairs = i.join(jj, F.col("di") < F.col("dj")).selectExpr(
        "di", "dj",
        "CASE WHEN yi > yj THEN 1 WHEN yi < yj THEN -1 ELSE 0 END AS s",
    )
    dmax = daily.agg(F.max("d").alias("dm"))
    ts_ = daily.crossJoin(F.broadcast(dmax)).where(
        F.col("d") < F.col("dm")
    ).select(F.col("d").alias("td"))
    ut = (
        ts_.join(
            pairs,
            (F.col("di") <= F.col("td")) & (F.col("dj") > F.col("td")),
        )
        .groupBy("td")
        .agg(F.sum("s").cast("long").alias("u"))
        .transform(cut)
    )
    k = ut.agg(F.max(F.abs(F.col("u"))).cast("long").alias("kk"))
    star = (
        ut.crossJoin(F.broadcast(k))
        .where(F.abs(F.col("u")) == F.col("kk"))
        .orderBy("td")
        .limit(1)
    )
    out = star.crossJoin(F.broadcast(nn))
    pexpr = (
        "2.0e0 * EXP(-6.0e0 * CAST(kk AS DOUBLE) * kk"
        " / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n))"
    )
    return out.selectExpr(
        "CAST(n AS BIGINT) AS n_days",
        "td AS t_star_day",
        "u AS u_at_t",
        "kk AS k_stat",
        f"CAST(FLOOR(LEAST(1.0e0, {pexpr}) * 1000000e0 + 0.5e0) AS BIGINT)"
        " AS p_micro",
        f"CASE WHEN {pexpr} < 0.05e0"
        " THEN CASE WHEN u > 0 THEN 'shift_down' ELSE 'shift_up' END"
        " ELSE 'no_changepoint' END AS verdict",
    )


# ---------------------------------------------------------------------------
# attribute p-chart (SPC on daily purchase share)
# ---------------------------------------------------------------------------

_PCHART_SQL = """
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS n_i,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x_i
      FROM events GROUP BY d),
    pool AS (SELECT CAST(SUM(n_i) AS BIGINT) AS nn,
                    CAST(SUM(x_i) AS BIGINT) AS xx
             FROM daily)
    SELECT d.d AS day_off,
           d.n_i AS n_events,
           d.x_i AS n_purchases,
           CAST(FLOOR(d.x_i * 1000000.0e0 / d.n_i + 0.5e0) AS BIGINT)
             AS p_micro,
           CAST(FLOOR(CAST(p.xx AS DOUBLE) / p.nn * 1000000e0 + 0.5e0)
                AS BIGINT) AS center_micro,
           CAST(FLOOR(GREATEST(0.0e0,
                CAST(p.xx AS DOUBLE) / p.nn
                - 3.0e0 * SQRT(CAST(p.xx AS DOUBLE) / p.nn
                               * (1.0e0 - CAST(p.xx AS DOUBLE) / p.nn)
                               / d.n_i)) * 1000000e0 + 0.5e0) AS BIGINT)
             AS lcl_micro,
           CAST(FLOOR(LEAST(1.0e0,
                CAST(p.xx AS DOUBLE) / p.nn
                + 3.0e0 * SQRT(CAST(p.xx AS DOUBLE) / p.nn
                               * (1.0e0 - CAST(p.xx AS DOUBLE) / p.nn)
                               / d.n_i)) * 1000000e0 + 0.5e0) AS BIGINT)
             AS ucl_micro,
           CASE WHEN CAST(d.x_i AS DOUBLE) / d.n_i
                     < CAST(p.xx AS DOUBLE) / p.nn
                       - 3.0e0 * SQRT(CAST(p.xx AS DOUBLE) / p.nn
                                      * (1.0e0 - CAST(p.xx AS DOUBLE) / p.nn)
                                      / d.n_i)
                  OR CAST(d.x_i AS DOUBLE) / d.n_i
                     > CAST(p.xx AS DOUBLE) / p.nn
                       + 3.0e0 * SQRT(CAST(p.xx AS DOUBLE) / p.nn
                                      * (1.0e0 - CAST(p.xx AS DOUBLE) / p.nn)
                                      / d.n_i)
                THEN 'out_of_control' ELSE 'in_control' END AS flag
    FROM daily d, pool p
    ORDER BY day_off
    """


@q("p_chart_proportions", oracle=_PCHART_SQL)
def p_chart_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute p-chart (Shewhart) on the daily purchase share — the
    proportions member of the SPC family (``xmr_control_chart`` is the
    individuals chart, ``ewma_daily_values``/``cusum_changepoints`` the
    memory charts): variable-width 3-sigma binomial limits
    p_bar +- 3 sqrt(p_bar(1-p_bar)/n_i) around the pooled center,
    clamped to [0, 1], one row per day with the out-of-control flag.

    Exactness: counts are exact integers; every limit is a fixed-order
    double expression over (x_i, n_i, X, N); the flag compares the SAME
    raw doubles both engines compute, and displayed values are
    micro-snapped.

    Scale shape: one day-keyed partial agg over the raw scan; the 2-row
    pooled totals are a broadcast scalar; no windows.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)").alias(
            "d"
        )
    ).agg(
        F.count("*").cast("long").alias("n_i"),
        F.sum(
            F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")
        ).cast("long").alias("x_i"),
    )
    pool = daily.agg(
        F.sum("n_i").cast("long").alias("nn"),
        F.sum("x_i").cast("long").alias("xx"),
    )
    pb = "CAST(xx AS DOUBLE) / nn"
    sig = f"SQRT({pb} * (1.0e0 - {pb}) / n_i)"
    return (
        daily.crossJoin(F.broadcast(pool))
        .selectExpr(
            "d AS day_off",
            "n_i AS n_events",
            "x_i AS n_purchases",
            "CAST(FLOOR(x_i * 1000000.0e0 / n_i + 0.5e0) AS BIGINT)"
            " AS p_micro",
            f"CAST(FLOOR({pb} * 1000000e0 + 0.5e0) AS BIGINT)"
            " AS center_micro",
            f"CAST(FLOOR(GREATEST(0.0e0, {pb} - 3.0e0 * {sig})"
            " * 1000000e0 + 0.5e0) AS BIGINT) AS lcl_micro",
            f"CAST(FLOOR(LEAST(1.0e0, {pb} + 3.0e0 * {sig})"
            " * 1000000e0 + 0.5e0) AS BIGINT) AS ucl_micro",
            f"CASE WHEN CAST(x_i AS DOUBLE) / n_i < {pb} - 3.0e0 * {sig}"
            f" OR CAST(x_i AS DOUBLE) / n_i > {pb} + 3.0e0 * {sig}"
            " THEN 'out_of_control' ELSE 'in_control' END AS flag",
        )
        .orderBy("day_off")
    )


# ---------------------------------------------------------------------------
# process capability (Cp / Cpk) on transaction size
# ---------------------------------------------------------------------------

_LSL = 100     # spec limits on per-event cents — SF-invariant
_USL = 20000

_CAP_MOMS = (
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s, "
    "CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DECIMAL(38,0)) AS qq, "
    f"CAST(SUM(CASE WHEN v < {_LSL} OR v > {_USL} THEN 1 ELSE 0 END)"
    " AS BIGINT) AS oos"
)
_MU = "(CAST(s AS DOUBLE) / n)"
_SD = (
    "SQRT((CAST(n AS DOUBLE) * qq - CAST(s AS DOUBLE) * s)"
    " / (CAST(n AS DOUBLE) * (n - 1.0e0)))"
)
_CP = f"(({_USL}.0e0 - {_LSL}.0e0) / (6.0e0 * {_SD}))"
_CPK = (
    f"(LEAST({_USL}.0e0 - {_MU}, {_MU} - {_LSL}.0e0) / (3.0e0 * {_SD}))"
)

_CAP_SQL = f"""
    WITH v AS (SELECT {_CENTS} AS v FROM events),
    m AS (SELECT {_CAP_MOMS} FROM v)
    SELECT n AS n_events,
           CAST(FLOOR({_MU} * 1000000e0 + 0.5e0) AS BIGINT) AS mean_micro,
           CAST(FLOOR({_SD} * 1000000e0 + 0.5e0) AS BIGINT) AS sd_micro,
           CAST(FLOOR({_CP} * 1000000e0 + 0.5e0) AS BIGINT) AS cp_micro,
           CAST(FLOOR({_CPK} * 1000000e0
                      + CASE WHEN {_CPK} >= 0.0e0 THEN 0.5e0
                             ELSE -0.5e0 END) AS BIGINT) AS cpk_micro,
           CAST(FLOOR(oos * 1000000.0e0 / n + 0.5e0) AS BIGINT) AS oos_ppm,
           CASE WHEN {_CPK} >= 1.33e0 THEN 'capable'
                WHEN {_CPK} >= 1.0e0 THEN 'marginal'
                ELSE 'incapable' END AS verdict
    FROM m
    """


@q("capability_indices", oracle=_CAP_SQL)
def capability_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process capability indices Cp / Cpk (the SPC capability study) on
    per-event transaction cents against literal spec limits
    [100c, 20000c] — the one-number answer to "does the process FIT the
    spec", complementing the control charts (which ask "is it STABLE"):
    Cp = (USL-LSL)/6s, Cpk = min(USL-mu, mu-LSL)/3s, plus the observed
    out-of-spec ppm.

    Per-event specs keep the statistic SF-invariant (daily-total specs
    would need rescaling per SF).  All moments are exact BIGINT power
    sums (cents^2 stays under 2^63 through SF 1); mu/s/Cp/Cpk are one
    fixed-order double expression each, micro-snapped (signed snap for
    Cpk, which can be negative when the mean exits the spec window).

    Scale shape: one scan, one 1-row aggregate, no joins or windows.
    """
    v = t(spark, sf_dir, "events").selectExpr(f"{_CENTS} AS v")
    m = v.agg(*[F.expr(e) for e in _split_top(_CAP_MOMS)])
    return m.selectExpr(
        "n AS n_events",
        f"CAST(FLOOR({_MU} * 1000000e0 + 0.5e0) AS BIGINT) AS mean_micro",
        f"CAST(FLOOR({_SD} * 1000000e0 + 0.5e0) AS BIGINT) AS sd_micro",
        f"CAST(FLOOR({_CP} * 1000000e0 + 0.5e0) AS BIGINT) AS cp_micro",
        f"CAST(FLOOR({_CPK} * 1000000e0"
        f" + CASE WHEN {_CPK} >= 0.0e0 THEN 0.5e0 ELSE -0.5e0 END)"
        " AS BIGINT) AS cpk_micro",
        "CAST(FLOOR(oos * 1000000.0e0 / n + 0.5e0) AS BIGINT) AS oos_ppm",
        f"CASE WHEN {_CPK} >= 1.33e0 THEN 'capable'"
        f" WHEN {_CPK} >= 1.0e0 THEN 'marginal'"
        " ELSE 'incapable' END AS verdict",
    )


# ---------------------------------------------------------------------------
# paired sign test (even-user vs odd-user daily revenue)
# ---------------------------------------------------------------------------

_SIGN_Z = (
    "CASE WHEN 2 * splus - n_eff = 0 THEN 0.0e0"
    " ELSE (2.0e0 * splus - n_eff"
    "       - CASE WHEN 2 * splus > n_eff THEN 1.0e0 ELSE -1.0e0 END)"
    "      / SQRT(CAST(n_eff AS DOUBLE)) END"
)

_SIGN_SQL = f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(SUM(CASE WHEN user_id % 2 = 0 THEN {_CENTS}
                           ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN {_CENTS}
                           ELSE 0 END) AS BIGINT) AS b
      FROM events GROUP BY d),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(CASE WHEN a <> b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_eff,
             CAST(SUM(CASE WHEN a > b THEN 1 ELSE 0 END) AS BIGINT)
               AS splus,
             CAST(SUM(CASE WHEN a < b THEN 1 ELSE 0 END) AS BIGINT)
               AS sminus
      FROM daily)
    SELECT n_days, n_eff, splus, sminus,
           CAST(FLOOR({_SIGN_Z} * 1000000e0
                      + CASE WHEN {_SIGN_Z} >= 0.0e0 THEN 0.5e0
                             ELSE -0.5e0 END) AS BIGINT) AS z_micro,
           CASE WHEN ABS({_SIGN_Z}) > 1.959964e0
                THEN CASE WHEN 2 * splus > n_eff THEN 'even_higher'
                          ELSE 'odd_higher' END
                ELSE 'no_difference' END AS verdict
    FROM agg
    """


@q("sign_test_paired", oracle=_SIGN_SQL)
def sign_test_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test on matched daily revenue halves (even- vs
    odd-user-id traffic) — the paired-location nonparametric member of
    the battery (``mann_whitney_drift`` is the INDEPENDENT-samples rank
    test; ``mcnemar_model_compare`` the paired BINARY test; nothing
    covered paired continuous until now): S+ = #days even > odd over
    the n_eff non-tied days, normal approximation with continuity
    correction z = (2S+ - n -/+ 1)/sqrt(n) vs the two-sided 0.05
    critical 1.959964.

    Exactness: daily sums, S+, S-, n_eff are exact integers; z is one
    fixed-order double expression over (splus, n_eff), signed
    micro-snapped; the verdict compares the same raw double both
    engines compute.

    Scale shape: one day-keyed conditional-agg pass over the raw scan
    onto the <=31-row daily relation, then a 1-row aggregate; no joins,
    no windows.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)").alias(
            "d"
        )
    ).agg(
        F.sum(
            F.expr(f"CASE WHEN user_id % 2 = 0 THEN {_CENTS} ELSE 0 END")
        ).cast("long").alias("a"),
        F.sum(
            F.expr(f"CASE WHEN user_id % 2 = 1 THEN {_CENTS} ELSE 0 END")
        ).cast("long").alias("b"),
    )
    agg = daily.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.expr("CASE WHEN a <> b THEN 1 ELSE 0 END"))
        .cast("long").alias("n_eff"),
        F.sum(F.expr("CASE WHEN a > b THEN 1 ELSE 0 END"))
        .cast("long").alias("splus"),
        F.sum(F.expr("CASE WHEN a < b THEN 1 ELSE 0 END"))
        .cast("long").alias("sminus"),
    )
    return agg.selectExpr(
        "n_days",
        "n_eff",
        "splus",
        "sminus",
        f"CAST(FLOOR({_SIGN_Z} * 1000000e0"
        f" + CASE WHEN {_SIGN_Z} >= 0.0e0 THEN 0.5e0 ELSE -0.5e0 END)"
        " AS BIGINT) AS z_micro",
        f"CASE WHEN ABS({_SIGN_Z}) > 1.959964e0"
        " THEN CASE WHEN 2 * splus > n_eff THEN 'even_higher'"
        " ELSE 'odd_higher' END"
        " ELSE 'no_difference' END AS verdict",
    )
