"""Bridge: page-extracted features → the wide OSM-style candidate schema.

The candidate stages (osmgraft.pipeline.candidates) consume the reference's
wide tag schema (~75 declared columns, config/uk_full_retention.style:5-133)
plus `osm_id` and a planar geometry. Pages extracted from Common-Crawl-style
text (osmgraft.extract.page_extract) carry a narrow schema with the
remaining tags in the `tags` map — exactly the reference's hstore catch-all
(05_import_data.sh:123). This module widens lazily, in one JVM projection:

- each wide tag column = `element_at(tags, key)` (JVM-side map lookup; the
  Catalyst plan prunes unused ones at the scan);
- `osm_id` = xxhash64(url) — the deterministic surrogate id (SURVEY.md §7.3
  item 9: the reference's SERIAL id is nondeterministic and excluded from
  goldens);
- `way_xy array<struct<x, y>>`: the vertices of the geometry
  (osmgraft.geo.geometry, "coordinate arrays"). Geocoded pages have a point
  location, no footprint. Points get their one vertex; pages classified
  polygon/line/roads get a nominal 20 m closed square ring / 2-vertex
  segment at the geocode (keeps the per-kind pipelines live — the polygon
  area gate `ST_Area > 50` at 07_pipeline_polygon.sh:143 passes a nominal
  400 m² footprint). NULL when the page has no finite location.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# wide columns sourced from the tags map when absent from the extract schema
WIDE_TAG_COLS = [
    "amenity", "shop", "tourism", "leisure", "highway", "railway",
    "waterway", "barrier", "building", "industrial", "office", "man_made",
    "military", "aeroway", "craft", "brand", "website", "addr_street",
    "addr_city",
]

_NOMINAL_HALF_M = 10.0  # nominal footprint half-side for non-point pages


def _vertices(*pts: tuple[str, str]) -> str:
    return "array(" + ", ".join(f"named_struct('x', {x}, 'y', {y})" for x, y in pts) + ")"


def _page_xy_sql() -> str:
    h = f"{_NOMINAL_HALF_M!r}D"
    lo_x, hi_x, lo_y, hi_y = f"x - {h}", f"x + {h}", f"y - {h}", f"y + {h}"
    ring = _vertices((lo_x, lo_y), (hi_x, lo_y), (hi_x, hi_y), (lo_x, hi_y), (lo_x, lo_y))
    # isfinite(x) and isfinite(y): NaN compares above every double in Spark
    finite = "abs(x) < CAST('Infinity' AS DOUBLE) AND abs(y) < CAST('Infinity' AS DOUBLE)"
    return (
        f"CASE WHEN {finite} THEN CASE "
        f"WHEN geom_kind = 'polygon' THEN {ring} "
        f"WHEN geom_kind IN ('line', 'roads') THEN {_vertices((lo_x, 'y'), (hi_x, 'y'))} "
        f"ELSE {_vertices(('x', 'y'))} END END"
    )


def widen_features(extracted: DataFrame) -> DataFrame:
    """page_extract.extract_features output → candidate-stage input schema."""
    wide = {
        c: F.element_at(F.col("tags"), F.lit(c))
        for c in WIDE_TAG_COLS
        if c not in extracted.columns
    }
    wide["osm_id"] = F.xxhash64(F.col("url"))
    wide["way_xy"] = F.expr(_page_xy_sql())
    return extracted.withColumns(wide)
