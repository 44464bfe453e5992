"""Every emitted SQL text stays flat.

Spark's parser cost and parser-cache size grow exponentially with the
nesting depth of parentheses: a nested Morton text took ~1 s to parse and
kept ~23 MB of driver heap. The emitters keep grouping parentheses to the
few that precedence needs; this bounds the depth of every text they emit
(outside quoted literals), fed the deepest input the code gives each one.
"""

from __future__ import annotations

import pytest

from osmgraft.extract.widen import _page_xy_sql
from osmgraft.geo import cells, s2
from osmgraft.geo import hexgrid as hg
from osmgraft.geo.geometry import (
    inv_mercator_sql,
    mercator_sql,
    path_centroid_sql,
    path_length_sql,
    ring_sql,
    xy_validity_sql,
)
from osmgraft.pipeline.candidates import candidate_sql

MAX_DEPTH = 12
SPEC = cells.GridSpec()


def paren_depth(text: str) -> int:
    """Deepest parenthesis nesting outside '…', "…" and `…` literals (a
    backslash escapes the next character inside one, as Spark reads it).
    Raises on an unbalanced text."""
    depth = deepest = 0
    quote, escaped = None, False
    for ch in text:
        if quote:
            if escaped:
                escaped = False
            elif ch == "\\":
                escaped = True
            elif ch == quote:
                quote = None
        elif ch in "'\"`":
            quote = ch
        elif ch == "(":
            depth += 1
            deepest = max(deepest, depth)
        elif ch == ")":
            depth -= 1
            if depth < 0:
                raise ValueError(f"unbalanced ')' in {text!r}")
    if depth or quote:
        raise ValueError(f"unbalanced text {text!r}")
    return deepest


def _texts() -> dict[str, list[str]]:
    """Each emitter's texts: a tuple of emitted coordinates or a projection
    list counts as one emitter."""
    fine = cells.cell_sql("x", "y", SPEC, 12)
    texts = {
        **{f"cell_sql_{r}": cells.cell_sql("x", "y", SPEC, r) for r in (0, 7, 26)},
        "parent_cell_sql": cells.parent_cell_sql(fine, 12, 6),
        **{
            f"kring_cells_sql_{d}": cells.kring_cells_sql("ix", "iy", 7, 2, dialect=d)
            for d in ("spark", "duckdb")
        },
        "hex_cell_sql": hg.hex_cell_sql("x", "y", 8),
        "hex_center_sql": hg.hex_center_sql("c", 8),
        "hex_parent_sql": hg.hex_parent_sql("c", 9, 7),
        **{f"hex_kring_sql_{d}": hg.hex_kring_sql("c", 2, dialect=d) for d in ("spark", "duckdb")},
        "s2_parent_sql": s2.s2_parent_sql("c", 8),
        **{
            f"s2_cell_steps_{d}_{lvl}": [t for _, t in s2.s2_cell_steps("lat", "lng", lvl, dialect=d)]
            for d in ("spark", "duckdb")
            for lvl in (0, 30)
        },
        "s2_corner_steps": [t for _, t in s2.s2_corner_steps("face", "i0", "j0", 10)],
        "mercator_sql": mercator_sql("lat", "lng"),
        "inv_mercator_sql": inv_mercator_sql("x", "y"),
        "ring_sql": ring_sql("way_xy"),
        "path_centroid_sql": path_centroid_sql("way_xy"),
        "path_length_sql": path_length_sql("pts"),
        "xy_validity_sql": xy_validity_sql(),
        "page_xy_sql": _page_xy_sql(),
    }
    for kind in ("point", "polygon", "line", "roads"):
        for part, v in candidate_sql(kind).items():
            if v is not None:
                texts[f"candidate_{kind}_{part}"] = v
    return {k: [v] if isinstance(v, str) else list(v) for k, v in texts.items()}


TEXTS = _texts()


def test_paren_depth_skips_literals():
    assert paren_depth("f(g(x), '((', \"(\", `a(`)") == 2
    assert paren_depth("rlike(s, '\\'(')") == 1  # the quote is escaped
    with pytest.raises(ValueError):
        paren_depth("f(x))")


@pytest.mark.parametrize("name", sorted(TEXTS))
def test_emitted_text_depth_is_bounded(name):
    assert max(map(paren_depth, TEXTS[name])) <= MAX_DEPTH
