from osmgraft.rules.compiler import RuleSet, ScoreRule
from osmgraft.rules.sqlgen import (
    filter_sql,
    keywords_sql,
    quote,
    rule_sql,
    score_sql,
    tags_text_sql,
    tier_sql,
)

__all__ = [
    "RuleSet",
    "ScoreRule",
    "filter_sql",
    "keywords_sql",
    "quote",
    "rule_sql",
    "score_sql",
    "tags_text_sql",
    "tier_sql",
]
