"""Loader for reference-shaped scoring YAML (scoring.yaml:8-357).

The reference drives its whole pipeline from a 10-tier YAML of weighted
pattern groups (README.md:172-196 calls the YAML→SQL generator the most
architecturally important entry point). This module parses that exact YAML
shape into the engine's RuleSet, which the one emitter (sqlgen.score_sql)
compiles to SQL text for both engines: the `spark` dialect for the Spark
plans, the `duckdb` dialect for the oracles.

YAML shape accepted (the reference's own file parses unmodified):

    <section>:                  # e.g. tier1_companies, strong_negatives
      <group>:                  # e.g. prime_contractors
        weight: 200             # negative for penalties
        patterns: [regex, ...]        # PG POSIX; \\m..\\M handled
        keywords: [substring, ...]
        postcodes: [BS, GU14, ...]    # postcode-area prefixes
        conditions: {col: [vals] | '*' | scalar}    # mapping → OR of cols
        conditions: [{key: val}, ...]               # list    → AND of items
        override_if: [{name_contains: [...]}, ...]  # suppress the weight
    thresholds: {tier1_candidate: 150, ...}   # → tier bands
    validation: {...}                          # carried as metadata

Semantics (re-expressed from the reference's shell scorers, which grant each
group's weight once when any of its alternatives matches —
07_pipeline_point.sh:70-115):

- one ScoreRule per group; weight granted once per row;
- `patterns` → OR-alternation regex over the configured text blob;
- `keywords` → OR of case-insensitive substring tests over the blob;
- `postcodes` → anchored prefix regex on the postcode column. Letter-only
  areas must be followed by a digit ('S' matches 'S1 2AA' but not
  'SO16 7PX'); digit-terminated districts by a word boundary ('GU14 6XX');
- `conditions` mapping → OR across columns ("any shop OR any tourism"),
  where a list is an IN-list, '*' is IS NOT NULL, a scalar is equality;
- `conditions` list → AND across items (tier 9 legitimacy requires website
  AND phone AND postcode; tier 10 requires area AND building type);
- `override_if` → OR of its items; when it fires the group contributes 0
  (scoring.yaml:304-312 — "penalty UNLESS explicit aerospace").

Condition keys map through `ColumnMap`: special keys (name_contains,
website_contains, has_website/has_phone/has_postcode, building_area,
building_type) plus a passthrough for plain tag columns.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any

from osmgraft.rules.compiler import RuleSet, ScoreRule, _pg_regex_to_java

_META_SECTIONS = ("thresholds", "validation")


@dataclass(frozen=True)
class ColumnMap:
    """Schema binding for a reference-shaped scoring YAML."""

    text_blob: str = "name"           # patterns / keywords / name_contains
    postcode: str = "addr_postcode"   # postcodes sections
    website: str = "website"
    phone_map: str | None = "tags"    # has_phone → map_has_key(phone) if set
    phone_col: str | None = None      # … or a plain column if set
    area: str = "building_area"       # building_area '>N'
    building: str = "building"        # building_type
    rename: dict[str, str] = field(default_factory=dict)  # other columns


@dataclass(frozen=True)
class SuspicionTrigger:
    """One compiled `validation.suspicion_triggers` entry (round-3; the
    block was inert metadata through round 2). A trigger flags rows of the
    SCORED output for manual review: optional score floor, optional tier
    equality, optional column matcher (a ScoreRule, so sqlgen emits it
    for both engines).

    Reference: scoring.yaml:349-357 declares the triggers;
    power_user_queries.sql:190-237 ('7. SUSPICIOUS RECORDS') and
    validation_and_refinement_workflow.sh:85-135 ('PHASE 2: Red Flags
    Detection') are the queries they drive."""

    name: str
    min_score: int | None = None
    tier: str | None = None
    matcher: ScoreRule | None = None


@dataclass(frozen=True)
class ScoringSpec:
    """Parsed scoring YAML: additive ruleset + tier bands + metadata."""

    rules: RuleSet
    tier_bands: tuple[tuple[int, str], ...]
    minimum_score: int
    validation: dict[str, Any]
    triggers: tuple[SuspicionTrigger, ...] = ()


def _postcode_regex(codes: list[str]) -> str:
    parts = []
    for c in codes:
        if c[-1].isdigit():
            parts.append(f"{c}\\b")
        else:
            parts.append(f"{c}[0-9]")
    return "^(?:" + "|".join(parts) + ")"


def _cond_value_rule(col: str, val: Any) -> dict:
    if val == "*" or val == ["*"]:
        return {"kind": "not_null", "column": col}
    if isinstance(val, (list, tuple)):
        return {"kind": "in", "column": col, "values": tuple(str(v) for v in val)}
    return {"kind": "in", "column": col, "values": (str(val),)}


def _special_key_rule(key: str, val: Any, cm: ColumnMap) -> dict | None:
    if key == "name_contains":
        return {
            "kind": "any_of",
            "children": tuple(
                {"kind": "contains", "column": cm.text_blob, "pattern": str(v)}
                for v in val
            ),
        }
    if key == "website_contains":
        return {
            "kind": "any_of",
            "children": tuple(
                {"kind": "contains", "column": cm.website, "pattern": str(v)}
                for v in val
            ),
        }
    if key == "has_website":
        return {"kind": "not_null", "column": cm.website}
    if key == "has_phone":
        if cm.phone_col:
            return {"kind": "not_null", "column": cm.phone_col}
        return {"kind": "map_has_key", "column": cm.phone_map, "values": ("phone",)}
    if key == "has_postcode":
        return {"kind": "not_null", "column": cm.postcode}
    if key == "building_area":
        m = re.fullmatch(r"\s*>\s*([0-9.]+)\s*", str(val))
        if not m:
            raise ValueError(f"building_area condition not understood: {val!r}")
        return {"kind": "gt", "column": cm.area, "value": float(m.group(1))}
    if key == "building_type":
        return _cond_value_rule(cm.building, val)
    return None


def _condition_rule(key: str, val: Any, cm: ColumnMap) -> dict:
    special = _special_key_rule(key, val, cm)
    if special is not None:
        return special
    col = cm.rename.get(key, key)
    # '>N' values are numeric thresholds on any column (generalizes the
    # reference's building_area: '>5000' shape)
    if isinstance(val, str):
        m = re.fullmatch(r"\s*>\s*([0-9.]+)\s*", val)
        if m:
            return {"kind": "gt", "column": col, "value": float(m.group(1))}
    return _cond_value_rule(col, val)


def _conditions_to_rule(conds: Any, cm: ColumnMap) -> dict:
    if isinstance(conds, dict):  # mapping → OR across columns
        children = tuple(_condition_rule(k, v, cm) for k, v in conds.items())
        return children[0] if len(children) == 1 else {"kind": "any_of", "children": children}
    # list → AND across items (each item a 1+-key dict, multi-key = AND too)
    items: list[dict] = []
    for item in conds:
        for k, v in item.items():
            items.append(_condition_rule(k, v, cm))
    return items[0] if len(items) == 1 else {"kind": "all_of", "children": tuple(items)}


def _group_rule(section: str, group: str, spec: dict, cm: ColumnMap) -> dict:
    alternatives: list[dict] = []
    if "patterns" in spec:
        alternation = "|".join(f"(?:{_pg_regex_to_java(p)})" for p in spec["patterns"])
        alternatives.append(
            {"kind": "regex", "column": cm.text_blob, "pattern": alternation}
        )
    if "keywords" in spec:
        alternatives.append(
            {
                "kind": "any_of",
                "children": tuple(
                    {"kind": "contains", "column": cm.text_blob, "pattern": str(k)}
                    for k in spec["keywords"]
                ),
            }
        )
    if "postcodes" in spec:
        alternatives.append(
            {
                "kind": "raw_regex",
                "column": cm.postcode,
                "pattern": _postcode_regex([str(c) for c in spec["postcodes"]]),
            }
        )
    if "conditions" in spec:
        alternatives.append(_conditions_to_rule(spec["conditions"], cm))
    if not alternatives:
        raise ValueError(f"group {section}.{group} has no recognized matcher")
    base = (
        alternatives[0]
        if len(alternatives) == 1
        else {"kind": "any_of", "children": tuple(alternatives)}
    )
    rule = dict(base)
    rule["weight"] = int(spec["weight"])
    rule["label"] = f"{section}.{group}"
    if "override_if" in spec:
        rule["override_if"] = tuple(
            _conditions_to_rule([item], cm) for item in spec["override_if"]
        )
    return rule


def _builtin_trigger(name: str, cm: ColumnMap) -> SuspicionTrigger:
    """The reference's boolean trigger names (scoring.yaml:349-357) carry
    their semantics in the companion queries
    (power_user_queries.sql:190-237, validation workflow PHASE 2)."""
    from osmgraft.rules.compiler import rule_from_dict

    if name == "score_above_150_no_website":
        # 'Score >150 + No Contact'
        return SuspicionTrigger(
            name,
            min_score=150,
            matcher=rule_from_dict(
                {"kind": "expr", "pattern": f"{cm.website} IS NULL"}
            ),
        )
    if name == "tier1_but_residential_postcode":
        # 'High Score + Residential' (tier1 + residential building/landuse)
        return SuspicionTrigger(
            name,
            tier="tier1_candidate",
            matcher=rule_from_dict(
                {
                    "kind": "in",
                    "column": cm.building,
                    "values": ("house", "apartments", "residential"),
                }
            ),
        )
    if name == "high_score_but_consumer_amenity":
        # 'High Score + Consumer Keywords'
        return SuspicionTrigger(
            name,
            min_score=80,
            matcher=rule_from_dict(
                {
                    "kind": "regex",
                    "column": cm.text_blob,
                    "pattern": "(cafe|restaurant|hotel|pub|retail|shop|gym)",
                }
            ),
        )
    raise ValueError(f"unknown built-in suspicion trigger: {name!r}")


def _parse_triggers(validation: dict, cm: ColumnMap) -> tuple[SuspicionTrigger, ...]:
    from osmgraft.rules.compiler import rule_from_dict

    raw = validation.get("suspicion_triggers")
    if not raw:
        return ()
    out: list[SuspicionTrigger] = []
    if isinstance(raw, list):  # reference shape: [{name: true}, ...]
        for item in raw:
            for name, enabled in item.items():
                if enabled:
                    out.append(_builtin_trigger(str(name), cm))
        return tuple(out)
    # mapping shape: {name: {min_score?, tier?, patterns/keywords/conditions?}}
    for name, spec in raw.items():
        matcher_keys = {"patterns", "keywords", "postcodes", "conditions"}
        matcher_spec = {k: v for k, v in spec.items() if k in matcher_keys}
        matcher = None
        if matcher_spec:
            gd = _group_rule("suspicion", str(name), {**matcher_spec, "weight": 1}, cm)
            matcher = rule_from_dict(gd)
        out.append(
            SuspicionTrigger(
                str(name),
                min_score=(
                    int(spec["min_score"]) if spec.get("min_score") is not None else None
                ),
                tier=spec.get("tier"),
                matcher=matcher,
            )
        )
    return tuple(out)


def trigger_sql(
    trig: SuspicionTrigger, score_expr: str = "score", tier_expr: str = "tier", *, dialect: str
) -> str:
    """The trigger's predicate over a scored table, as SQL text."""
    from osmgraft.rules.sqlgen import quote, rule_sql

    parts = []
    if trig.min_score is not None:
        parts.append(f"{score_expr} >= {trig.min_score}")
    if trig.tier is not None:
        parts.append(f"{tier_expr} = {quote(trig.tier, dialect)}")
    if trig.matcher is not None:
        parts.append(rule_sql(trig.matcher, dialect=dialect))
    return " AND ".join(parts) if parts else "TRUE"


def trigger_predicate(trig: SuspicionTrigger, score_col: str = "score", tier_col: str = "tier"):
    """The trigger's predicate as a Spark Column."""
    from pyspark.sql import functions as F

    return F.expr(trigger_sql(trig, score_col, tier_col, dialect="spark"))


def load_scoring_yaml(text: str, cm: ColumnMap | None = None) -> ScoringSpec:
    import yaml

    cm = cm or ColumnMap()
    doc = yaml.safe_load(text)
    raw_rules: list[dict] = []
    for section, groups in doc.items():
        if section in _META_SECTIONS:
            continue
        for group, spec in groups.items():
            raw_rules.append(_group_rule(section, group, spec, cm))
    thresholds = doc.get("thresholds", {})
    bands = tuple(
        sorted(
            (
                (int(v), k)
                for k, v in thresholds.items()
                if k != "minimum_score"
            ),
            reverse=True,
        )
    )
    validation = doc.get("validation", {}) or {}
    return ScoringSpec(
        rules=RuleSet.from_dict("yaml_scoring", raw_rules),
        tier_bands=bands,
        minimum_score=int(thresholds.get("minimum_score", 0)),
        validation=validation,
        triggers=_parse_triggers(validation, cm),
    )


# ---------------------------------------------------------------------------
# shipped assets
# ---------------------------------------------------------------------------

def _read_asset(name: str) -> str:
    """Read a shipped YAML asset — importlib.resources first so the
    engine works from the spark-submit --py-files zip (a plain
    __file__-relative open() cannot read inside a zip)."""
    try:
        from importlib.resources import files

        return files("osmgraft.rules").joinpath(f"assets/{name}").read_text(
            encoding="utf-8"
        )
    except Exception:
        assets = __file__.rsplit("/", 1)[0] + "/assets"
        with open(f"{assets}/{name}", encoding="utf-8") as f:
            return f.read()


def load_aerospace_scoring(cm: ColumnMap | None = None) -> ScoringSpec:
    """The reference's full 10-tier aerospace system (scoring.yaml:8-357)
    as a loadable asset, bound by default to the OSM feature schema: the
    text blob is name+operator (the reference scorers' LOWER(COALESCE)
    blob), postcodes to addr_postcode, phone via the tags map."""
    cm = cm or ColumnMap(
        text_blob="name_blob",
        postcode="addr_postcode",
        website="website",
        phone_map="tags",
        area="building_area",
        building="building",
    )
    return load_scoring_yaml(_read_asset("aerospace_scoring.yaml"), cm)


def load_documents_scoring() -> ScoringSpec:
    """10-tier system over the documents table (used by the
    yaml_scored_documents contract query, whose Spark plan and DuckDB
    oracle sqlgen emits from the same parsed rules)."""
    cm = ColumnMap(text_blob="text", postcode="source")
    return load_scoring_yaml(_read_asset("scoring_documents.yaml"), cm)
