"""The rules compiler: RuleSet → SQL text, in a `spark` and a `duckdb` dialect.

Mirrors the reference's YAML→SQL generator entry point
(aerospace_scoring/run_aerospace_scoring.py, README.md:172-196): rule data
compiles to one additive SQL CASE-chain. The Spark plans take the `spark`
text through `F.expr` / `selectExpr` / `where`, the DuckDB oracles embed the
`duckdb` text, so both engines run one generated rule set. The dialects
differ only in spelling:

- string literals: Spark unescapes backslashes (`escapedStringLiterals`
  is off by default), so `\\` is written `\\\\` and `'` is written `\\'`, and
  it substitutes `${...}` variables in SQL text, so `${` is written `$\\{`
  (raw SQL fragments, which cannot be escaped, may not contain `${`);
  DuckDB doubles `'` and keeps `\\`. Every literal goes through `quote`;
- regex match: Java `RLIKE` vs RE2 `regexp_matches` (both unanchored);
- map key test and lookup: `map_contains_key(m, k)` / `m[k]` vs
  `list_contains(map_keys(m), k)` / `m[k][1]` (DuckDB returns a list);
- arrays: `filter(array(…), λ)` vs `list_filter([…], λ)`.

Semantic notes (SURVEY.md §7.3):
- PostgreSQL POSIX `~` is case-sensitive; every reference predicate wraps the
  operand in LOWER(COALESCE(col,'')), which we replicate verbatim.
- hstore `tags::text` serialization is order-undefined in PG; `tags_text_sql`
  serializes deterministically with sorted keys, and goldens use ours.
"""

from __future__ import annotations

from functools import partial
from typing import Any

from osmgraft.rules.compiler import RuleSet, ScoreRule, rule_from_dict


def quote(s: str, dialect: str) -> str:
    """`s` as a string literal of `dialect`."""
    if dialect == "spark":
        # `$\{` keeps Spark's variable substitution off `${...}`
        esc = s.replace("\\", "\\\\").replace("'", "\\'").replace("${", "$\\{")
        return "'" + esc + "'"
    if dialect == "duckdb":
        return "'" + s.replace("'", "''") + "'"
    raise ValueError(f"unknown SQL dialect: {dialect!r}")


def raw_sql(text: str) -> str:
    """A raw SQL fragment shared by both dialects (an `expr` rule's pattern,
    an identity predicate). Spark would substitute a `${...}` in it, and
    only literals can escape that (`quote`), so `${` is refused."""
    if "${" in text:
        raise ValueError(f"raw SQL must not contain '${{' (Spark substitutes it): {text!r}")
    return text


def _rlike(expr: str, pattern: str, dialect: str) -> str:
    if dialect == "spark":
        return f"({expr} RLIKE {quote(pattern, dialect)})"
    return f"regexp_matches({expr}, {quote(pattern, dialect)})"


def tags_text_sql(m: str = "tags", *, dialect: str) -> str:
    """Deterministic hstore-style serialization of a map column:
    `"k"=>"v", …` with sorted keys, NULL values as `""`, and `''` for an
    empty or NULL map (SURVEY.md §7.3 #7)."""
    if dialect == "spark":
        keys, value = f"array_sort(map_keys({m}))", f"{m}[_k]"
    else:
        keys, value = f"list_sort(map_keys({m}))", f"{m}[_k][1]"
    pair = f"_k -> concat('\"', _k, '\"=>\"', coalesce({value}, ''), '\"')"
    if dialect == "spark":
        return f"coalesce(concat_ws(', ', transform({keys}, {pair})), '')"
    return f"coalesce(array_to_string(list_transform({keys}, {pair}), ', '), '')"


def _any(preds) -> str:
    return "(" + " OR ".join(preds) + ")"


def rule_sql(rule: ScoreRule, *, dialect: str) -> str:
    """One rule's predicate."""
    q = partial(quote, dialect=dialect)
    if rule.kind == "regex":
        return _rlike(f"lower(coalesce({rule.column}, ''))", rule.pattern, dialect)
    if rule.kind == "raw_regex":
        return _rlike(rule.column, rule.pattern, dialect)
    if rule.kind == "contains":
        # lower the literal too — the blob side is lowercased, so an
        # uppercase keyword could otherwise never match
        return f"contains(lower(coalesce({rule.column}, '')), {q(rule.pattern.lower())})"
    if rule.kind == "in":
        return f"({rule.column} IN ({', '.join(map(q, rule.values))}))"
    if rule.kind == "not_null":
        return f"({rule.column} IS NOT NULL)"
    if rule.kind == "gt":
        # integral thresholds as INT literals, fractional ones in e-notation:
        # both engines type a bare decimal as DECIMAL, an e-notation literal
        # as DOUBLE (lit_sql also guards reprs that carry an exponent)
        from osmgraft.geo.hexgrid import lit_sql

        v = float(rule.value)
        return f"({rule.column} > {str(int(v)) if v == int(v) else lit_sql(v)})"
    if rule.kind == "map_has_key":
        if dialect == "spark":
            return _any(f"map_contains_key({rule.column}, {q(k)})" for k in rule.values)
        return _any(f"list_contains(map_keys({rule.column}), {q(k)})" for k in rule.values)
    if rule.kind == "map_regex":
        text = tags_text_sql(rule.column, dialect=dialect)
        return _rlike(f"lower({text})", rule.pattern, dialect)
    if rule.kind == "blob_regex":
        text = tags_text_sql(dialect=dialect)
        blob = f"lower(concat(coalesce({rule.column or 'name'}, ''), ' ', {text}))"
        return _rlike(blob, rule.pattern, dialect)
    if rule.kind == "expr":
        return f"({raw_sql(rule.pattern)})"
    if rule.kind == "any_of":
        return _any(rule_sql(c, dialect=dialect) for c in rule.children)
    if rule.kind == "all_of":
        return "(" + " AND ".join(rule_sql(c, dialect=dialect) for c in rule.children) + ")"
    raise ValueError(f"unknown rule kind: {rule.kind}")


def score_sql(ruleset: RuleSet, *, dialect: str) -> str:
    """Σ CASE WHEN pred THEN weight ELSE 0 END as one INT expression.

    Mirrors the reference's additive scorers (07_pipeline_point.sh:70-115
    etc). Rules with `override_if` contribute 0 when any override predicate
    matches (scoring.yaml:304-312: "penalty UNLESS explicit aerospace") —
    the override test is the FIRST branch of the CASE, so it wins."""
    parts = []
    for r in ruleset.rules:
        pred = rule_sql(r, dialect=dialect)
        if r.override_if:
            ov = _any(rule_sql(c, dialect=dialect) for c in r.override_if)
            parts.append(f"CASE WHEN {ov} THEN 0 WHEN {pred} THEN {r.weight} ELSE 0 END")
        else:
            parts.append(f"CASE WHEN {pred} THEN {r.weight} ELSE 0 END")
    return "(" + " + ".join(parts) + ")"


def filter_sql(
    exclusions: list[dict[str, Any]], override: list[dict[str, Any]], *, dialect: str
) -> str:
    """(AND of per-column exclusions) OR (override predicates).

    Replicates the reference's filtered views: consumer-noise columns must be
    NULL / not in a noise list, unless an aerospace override keyword matches
    (07_pipeline_point.sh:31-49, 07_pipeline_polygon.sh:33-55).

    exclusion item: {column, exclude: [...]} → col IS NULL OR col NOT IN (...)
                    {column, require_null: true} → col IS NULL
    override item: a ScoreRule-style dict (weight ignored).
    """
    conjuncts = []
    for e in exclusions:
        c = e["column"]
        if e.get("require_null"):
            conjuncts.append(f"({c} IS NULL)")
        else:
            vals = ", ".join(quote(v, dialect) for v in e["exclude"])
            conjuncts.append(f"({c} IS NULL OR {c} NOT IN ({vals}))")
    keep = "(" + " AND ".join(conjuncts) + ")" if conjuncts else "TRUE"
    if override:
        keep = _any([keep, *(rule_sql(rule_from_dict(o), dialect=dialect) for o in override)])
    return keep


def tier_sql(
    score_expr: str = "aerospace_score",
    bands: tuple[tuple[int, str], ...] = (
        (150, "tier1_candidate"),
        (80, "tier2_candidate"),
        (40, "potential_candidate"),
    ),
    default: str = "low_probability",
    *,
    dialect: str,
) -> str:
    """Threshold ladder → label (07_pipeline_point.sh:176-181)."""
    whens = " ".join(
        f"WHEN {score_expr} >= {t} THEN {quote(label, dialect)}" for t, label in bands
    )
    return f"CASE {whens} ELSE {quote(default, dialect)} END"


def keywords_sql(blob: str, keywords: list[str], *, dialect: str) -> str:
    """ARRAY(SELECT kw FROM (VALUES ...) WHERE blob LIKE '%'||kw||'%').

    Reference C8 (07_pipeline_point.sh:199-203) — the correlated array
    subquery as a higher-order filter over a literal array."""
    lits = ", ".join(quote(k, dialect) for k in keywords)
    if dialect == "spark":
        return f"filter(array({lits}), _kw -> contains({blob}, _kw))"
    return f"list_filter([{lits}], _kw -> contains({blob}, _kw))"
