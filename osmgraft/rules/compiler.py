"""Rules engine data model: declarative rule sets as plain data.

The reference drives its whole scoring pipeline from SQL CASE-chains generated
out of YAML (reference: scoring.yaml:8-357, README.md:172-187, and the four
shell scorers 07_pipeline_{point,polygon,line,roads}.sh). Here a rule set is
plain data (dicts / YAML → `ScoreRule` / `RuleSet`), and one emitter,
`osmgraft.rules.sqlgen`, compiles it to SQL text in a `spark` and a `duckdb`
dialect: the Spark plans parse the text (`F.expr`), the DuckDB oracles embed
it. Catalyst constant-folds and whole-stage-codegens the additive CASE-chain;
no Python runs per row.

PostgreSQL `\\m...\\M` word boundaries (scoring.yaml) map to `\\b`, which
Java and RE2 both read as a word boundary (SURVEY.md §7.3 item 1).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

# ---------------------------------------------------------------------------
# data model
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ScoreRule:
    """One additive scoring branch: CASE WHEN <pred> THEN <weight> ELSE 0 END.

    kind:
      regex        — lower(coalesce(col,'')) rlike pattern
      raw_regex    — col rlike pattern (no lower/coalesce; e.g. postcode '^(BA|BS)')
      contains     — lower(coalesce(col,'')) contains literal substring `pattern`
      in           — col IN (values)
      not_null     — col IS NOT NULL
      gt           — col > value (NULL → no match)
      map_has_key  — any of `values` present as a key of MapType `column`
      map_regex    — deterministic text serialization of map rlike pattern
      blob_regex   — lower(name || ' ' || tags_text) rlike pattern (penalty blobs)
      expr         — raw SQL expression string in `pattern`
      any_of       — OR of `children` predicates
      all_of       — AND of `children` predicates

    `override_if` (reference scoring.yaml:304-312): when any of these
    predicates matches, the branch contributes 0 regardless of the main
    predicate — "penalty UNLESS explicit aerospace". Applies to positive
    weights too (weight granted unless overridden).
    """

    kind: str
    column: str | None = None
    pattern: str | None = None
    values: tuple[str, ...] = ()
    weight: int = 0
    label: str | None = None
    value: float | None = None
    children: tuple["ScoreRule", ...] = ()
    override_if: tuple["ScoreRule", ...] = ()


@dataclass(frozen=True)
class RuleSet:
    """A named set of scoring branches (penalties carry negative weights)."""

    name: str
    rules: tuple[ScoreRule, ...] = field(default_factory=tuple)

    @staticmethod
    def from_dict(name: str, raw: list[dict[str, Any]]) -> "RuleSet":
        return RuleSet(name=name, rules=tuple(rule_from_dict(r) for r in raw))

    @staticmethod
    def from_yaml(name: str, text: str) -> "RuleSet":
        import yaml

        return RuleSet.from_dict(name, yaml.safe_load(text))


def _pg_regex_to_java(pattern: str | None) -> str | None:
    """PostgreSQL POSIX regex → Java regex (SURVEY.md §7.3 item 1)."""
    if pattern is None:
        return None
    return pattern.replace("\\m", "\\b").replace("\\M", "\\b")


def rule_from_dict(r: dict[str, Any]) -> ScoreRule:
    """Recursive dict → ScoreRule (children / override_if nest)."""
    return ScoreRule(
        kind=r["kind"],
        column=r.get("column"),
        pattern=_pg_regex_to_java(r.get("pattern")),
        values=tuple(r.get("values", ())),
        weight=int(r.get("weight", 0)),
        label=r.get("label"),
        value=r.get("value"),
        children=tuple(rule_from_dict(c) for c in r.get("children", ())),
        override_if=tuple(rule_from_dict(c) for c in r.get("override_if", ())),
    )
