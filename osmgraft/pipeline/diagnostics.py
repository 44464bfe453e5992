"""Pipeline diagnostics — the reference's diagnose_pipeline.sql re-hosted.

The reference ships a 12-check "why am I getting 0 candidates" script
(diagnose_pipeline.sql:1-288): source counts, keyword presence, stage
cardinality at each view, a simplified manual score crosscheck against the
real scorer, threshold-fallout, tag-map health, regex sanity. Here each
check is one lazy DataFrame; `run_diagnostics` evaluates them in a single
pass where possible (the per-kind counts share one aggregate) and returns a
plain dict so callers (or the CLI job) can json.dump it — the Spark analogue
of the reference's psql run.

Checks are numbered to match the reference's DIAGNOSTIC sections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmgraft.geo.geometry import xy_validity_sql
from osmgraft.rules import reference_rules as R
from osmgraft.rules.sqlgen import filter_sql, score_sql


def _manual_score():
    """diagnose_pipeline.sql:119-142 — deliberately simplified, independent
    of the rules compiler, so a compiler bug can't hide in its own
    crosscheck. (Function, not module constant: Columns need an active
    session.)"""
    return (
        F.when(F.lower(F.coalesce(F.col("name"), F.lit(""))).rlike(
            "(aerospace|aviation|aircraft)"), 100).otherwise(0)
        + F.when(F.lower(F.coalesce(F.col("name"), F.lit(""))).rlike(
            "(engineering|precision|technology)"), 70).otherwise(0)
        + F.when(F.col("landuse") == "industrial", 40).otherwise(0)
        + F.when(F.col("building").isin("industrial", "warehouse", "factory"), 40).otherwise(0)
        + F.when(F.col("industrial").isNotNull(), 40).otherwise(0)
    )

_REGEX_PROBES = ["aerospace", "engineering", "precision"]


def run_diagnostics(features: DataFrame, threshold: int = R.SCORE_THRESHOLD) -> dict:
    """12-section diagnostic over a wide-schema features table."""
    out: dict = {}

    name_lc = F.lower(F.coalesce(F.col("name"), F.lit("")))

    # D1: source counts per geometry kind (diagnose_pipeline.sql:10-22)
    out["source_counts"] = {
        r["geom_kind"]: r["n"]
        for r in features.groupBy("geom_kind").agg(F.count("*").alias("n")).collect()
    }

    # D3 + D12: keyword/regex presence probes (:48-82, :247-276)
    probes = features.agg(
        *[
            F.sum(F.when(name_lc.rlike(p), 1).otherwise(0)).alias(f"rlike_{p}")
            for p in _REGEX_PROBES
        ],
        F.sum(F.when(name_lc.like("%engineering%"), 1).otherwise(0)).alias(
            "like_engineering"
        ),
    ).head()
    out["keyword_probes"] = probes.asDict()
    # POSIX `~` vs Java rlike must agree with LIKE on a plain substring.
    # Explicit raise (not assert): the check must survive `python -O`.
    if (
        out["keyword_probes"]["rlike_engineering"]
        != out["keyword_probes"]["like_engineering"]
    ):
        raise RuntimeError("regex dialect drift: rlike != LIKE on literal substring")
    out["regex_dialect_ok"] = True

    # D4, D6, D9 and D11 in one aggregate. `_s_<kind>` is the kind's
    # compiled score on its own rows and NULL elsewhere.
    scores = {
        kind: f"CASE WHEN geom_kind = '{kind}' THEN {score_sql(rs, dialect='spark')} END"
        for kind, rs in R.SCORERS.items()
    }
    counts = {
        # D4: filtered-stage cardinality per kind (:84-104)
        **{
            f"filtered_{kind}": f"geom_kind = '{kind}' AND {filter_sql(*ex, dialect='spark')}"
            for kind, ex in R.EXCLUSIONS.items()
        },
        # D6: manual simplified score vs the compiled polygon scorer
        # (:119-142; quick_test_polygon.sql crosscheck). The reference's
        # simplified formula probes '(aerospace|aviation|aircraft)' but its
        # real scorer's name branch is '(aerospace|avionics|aero)' —
        # 'aircraft'/'aviation' rows can legitimately score 0 (observed in
        # the reference semantics). The hard invariant covers the shared
        # terms only: any name matching '(aerospace|aero)' MUST get a
        # positive compiled score.
        "manual_vs_compiled_disagreements":
            "lower(coalesce(name, '')) RLIKE '(aerospace|aero)' AND _s_polygon <= 0",
        # exploratory, reference-faithful (may be > 0)
        "manual_only_hits": "_manual >= 100 AND _s_polygon <= 0",
        # D9: threshold fallout — scores in (0, threshold) per kind (:183-190)
        **{f"fallout_{k}": f"_s_{k} > 0 AND _s_{k} < {threshold}" for k in R.SCORERS},
        # D11: tag map health (:225-242)
        "tags_nonempty": "size(tags) > 0",
    }
    row = (
        features.withColumn("_manual", _manual_score())
        .selectExpr("*", *(f"{s} AS _s_{k}" for k, s in scores.items()))
        .selectExpr(*(f"count_if({p}) AS {n}" for n, p in counts.items()))
        .first()
    )
    out["filtered_counts"] = {k: row[f"filtered_{k}"] for k in R.EXCLUSIONS}
    out["manual_vs_compiled_disagreements"] = row["manual_vs_compiled_disagreements"]
    out["manual_only_hits"] = row["manual_only_hits"]
    out["threshold_fallout"] = {k: row[f"fallout_{k}"] for k in R.SCORERS}
    out["tags_nonempty"] = row["tags_nonempty"]

    # D13: geometry validity audit (verify_import.py:223-231 ST_IsValid
    # counts; round-3 gap-close) — every geometry classified by the validity
    # SQL over way_xy (finite / point count / closure / area);
    # reasons beyond 'valid' demand import investigation
    out["geometry_validity"] = {
        r["reason"]: r["n"]
        for r in features.selectExpr(f"{xy_validity_sql()} AS reason")
        .groupBy("reason")
        .agg(F.count("*").alias("n"))
        .collect()
    }

    return out
