"""Text → feature extraction over Common-Crawl-style pages.

The reference ingests pre-structured OSM tags; the rebuilt engine's input is
web pages (BASELINE.json input_hint), so the tag columns are *extracted* from
`text` by one JVM projection (regex, split and higher-order functions; no
Python worker). The per-row invariant — `text` passes through
byte-identical per `url` — is asserted by tests (SURVEY.md §5).

The extractor is deliberately regex/split-based and deterministic; it parses
the `name | key=value | ... | tag=v tag=v` microformat the synthetic
generator embeds, standing in for a production entity-extraction model. Its
rules, in Python terms (the equality test in tests/test_pipeline.py holds a
plain-Python reference parser):

- `name`: the text before the first `' | '`, NULL when `'Unknown Business'`;
- `operator`, `addr_postcode`, `landuse`: the first `<key>=… |` field,
  `str.strip()`-ed; a blank operator or landuse is NULL, a postcode `N/A`;
- `x`, `y`: the `loc=(x,y)` pair parsed as doubles, NULL if unparseable;
- `geom_kind`: the word after `kind=`;
- `tags`: the `k=v` tokens of the last `' | '` part (split on `' '`, key up
  to the first `=`), the last value winning for a repeated key; `{}` when
  `text` is NULL.
A field whose pattern does not match is NULL. The regexes run with Java's
UNICODE_CHARACTER_CLASS (`(?U)`), so `\\w` and `\\d` mean what they mean in
Python's `re`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from osmgraft.rules.sqlgen import quote

# the characters Python's str.strip() removes, as a Spark trim set
_STRIP_SET = "'" + "".join(
    f"\\u{i:04x}" for i in range(0x10000) if chr(i).isspace()
) + "'"


def _match(pattern: str, group: int = 1) -> str:
    """`group` of the first match of `pattern` in text, NULL on no match
    (`regexp_extract` alone returns '')."""
    p = quote(pattern, "spark")
    return f"CASE WHEN text RLIKE {p} THEN regexp_extract(text, {p}, {group}) END"


_VALUE = r"=([^|]*?) \|"
_LOC = r"(?U)loc=\(([-\d.]+),([-\d.]+)\)"
_KIND = r"(?U)kind=(\w+)"


def _field(key: str) -> str:
    """A `key=value |` field, stripped."""
    return f"trim(BOTH {_STRIP_SET} FROM {_match(key + _VALUE)})"


# (k, v) of each `k=v` token of the last ' | ' part. substring_index cuts
# at the last occurrence where Python's split(' | ') cuts non-overlapping
# occurrences from the left; the tails then differ only by a leading '|'
# token, which has no '=' and is dropped either way.
_KVS = (
    "transform(filter(split(substring_index(coalesce(text, ''), ' | ', -1), ' '), "
    "_t -> instr(_t, '=') > 0), "
    "_t -> named_struct('k', substring_index(_t, '=', 1), 'v', substr(_t, instr(_t, '=') + 1)))"
)
# folded like inserts into a Python dict: a new key is appended, a repeated
# one overwrites its value in place
_TAGS = (
    f"aggregate({_KVS}, "
    "named_struct('k', CAST(array() AS ARRAY<STRING>), 'v', CAST(array() AS ARRAY<STRING>)), "
    "(_d, _e) -> IF(array_contains(_d.k, _e.k), "
    "named_struct('k', _d.k, 'v', transform(_d.v, (_v, _i) -> IF(_d.k[_i] = _e.k, _e.v, _v))), "
    "named_struct('k', array_append(_d.k, _e.k), 'v', array_append(_d.v, _e.v))), "
    "_d -> map_from_arrays(_d.k, _d.v))"
)

_EXTRACT_SQL = [
    "url",
    "CAST(warc_ts AS TIMESTAMP) AS warc_ts",
    "text",  # byte-identical pass-through (invariant)
    "lang",
    "nullif(substring_index(text, ' | ', 1), 'Unknown Business') AS name",
    f"nullif({_field('operator')}, '') AS operator",
    f"nullif({_field('postcode')}, 'N/A') AS addr_postcode",
    f"try_cast({_match(_LOC, 1)} AS DOUBLE) AS x",
    f"try_cast({_match(_LOC, 2)} AS DOUBLE) AS y",
    f"nullif({_field('landuse')}, '') AS landuse",
    f"{_match(_KIND)} AS geom_kind",
    f"{_TAGS} AS tags",
]


def extract_features(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → feature columns + original text."""
    return pages.selectExpr(*_EXTRACT_SQL)
