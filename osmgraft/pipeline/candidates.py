"""Per-geometry candidate stage: filter → score → classify → project.

Spark-first re-expression of the reference's four-stage views+staging flow
(07_pipeline_{point,polygon,line,roads}.sh): the two stacked views and the
INSERT…SELECT collapse into one lazy DataFrame plan that Catalyst fuses into
a single scan→filter→project pipeline (view inlining ≡ plan composition,
SURVEY.md §3.1). The score threshold is applied before projection so column
pruning reaches the Parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from osmgraft.geo.geometry import path_centroid_sql, ring_sql
from osmgraft.rules import reference_rules as R
from osmgraft.rules.sqlgen import (
    filter_sql,
    keywords_sql,
    quote,
    raw_sql,
    score_sql,
    tags_text_sql,
    tier_sql,
)

CANDIDATE_COLUMNS = [
    # FIXTURES.md §6 golden schema (id/created_at excluded: nondeterministic
    # in the reference, SURVEY.md §7.3 item 9)
    "osm_id", "source_table", "name", "operator", "aerospace_score",
    "tier_classification", "confidence_level", "phone", "email", "website",
    "postcode", "street_address", "city", "landuse_type", "building_type",
    "industrial_type", "office_type", "description", "matched_keywords",
    "latitude", "longitude",
]

_SOURCE_TABLE = {
    "point": "planet_osm_point",
    "polygon": "planet_osm_polygon",
    "line": "planet_osm_line",
    "roads": "planet_osm_roads",
}


def candidate_sql(kind: str, threshold: int = R.SCORE_THRESHOLD) -> dict:
    """The spark-dialect SQL text of one kind's candidate stage: the row
    filter (F1–F5), the score (C1–C4), its threshold, and the wide projection
    (F6) with the tier/confidence ladders (C5–C6) and keyword array (C8),
    and for the way kinds the `way_xy` geometry struct `_g` (polygon: area
    and centroid, line/roads: vertex mean) that the polygon area gate and
    the coordinates read."""
    if kind == "roads":
        keep = filter_sql([], R.ROADS_INCLUDE, dialect="spark")
    else:
        keep = filter_sql(*R.EXCLUSIONS[kind], dialect="spark")
    # C8 matched keywords: blob = name [ || operator ] || tags_text, where
    # name is the projected one (falls back to operator, then brand)
    blob = ["coalesce(name, operator, tags['brand'], '')", "' '"]
    if R.KEYWORD_BLOB_INCLUDES_OPERATOR[kind]:
        blob += ["coalesce(operator, '')", "' '"]
    blob = f"lower(concat({', '.join(blob)}, {tags_text_sql(dialect='spark')}))"
    # lat/lon: ST_X/Y for points, the centroid for way geometries
    if kind == "point":
        geometry, lat, lon = None, "y", "x"
    else:
        geometry = (ring_sql if kind == "polygon" else path_centroid_sql)("way_xy")
        lat, lon = "_g.cy", "_g.cx"
    industrial = {
        "polygon": "coalesce(industrial, tags['craft'])",
        "point": "tags['craft']",
    }.get(kind, "industrial")
    return {
        "filter": f"geom_kind = {quote(kind, 'spark')} AND {keep} "
                  f"AND ({raw_sql(R.IDENTITY_PREDICATE[kind])})",
        "score": score_sql(R.SCORERS[kind], dialect="spark"),
        "threshold": f"aerospace_score >= {threshold}",
        "geometry": geometry,
        # F6 wide projection with renames + defaults (07_pipeline_point.sh:170-208)
        "project": [
            "osm_id",
            f"{quote(_SOURCE_TABLE[kind], 'spark')} AS source_table",
            "coalesce(name, operator, tags['brand']) AS name",
            "operator",
            "aerospace_score",
            f"{tier_sql(dialect='spark')} AS tier_classification",
            f"{tier_sql(bands=R.CONFIDENCE_BANDS, default='low', dialect='spark')} "
            "AS confidence_level",
            "tags['phone'] AS phone",
            "tags['email'] AS email",
            "website",
            "addr_postcode AS postcode",
            "addr_street AS street_address",
            "coalesce(addr_city, tags['addr:town']) AS city",
            "landuse AS landuse_type",
            f"{'CAST(NULL AS STRING)' if kind == 'point' else 'building'} AS building_type",
            f"{industrial} AS industrial_type",
            f"{'CAST(NULL AS STRING)' if kind == 'roads' else 'office'} AS office_type",
            "coalesce(tags['description'], tags['note']) AS description",
            f"{keywords_sql(blob, R.MATCHED_KEYWORDS[kind], dialect='spark')} AS matched_keywords",
            f"CAST({lat} AS DOUBLE) AS latitude",
            f"CAST({lon} AS DOUBLE) AS longitude",
        ],
    }


def candidate_stage(
    features: DataFrame,
    kind: str,
    threshold: int = R.SCORE_THRESHOLD,
) -> DataFrame:
    """features (one geom_kind's rows, or a mixed table) → scored candidates."""
    sql = candidate_sql(kind, threshold)
    f = features.where(sql["filter"])
    if sql["geometry"]:
        f = f.selectExpr("*", f"{sql['geometry']} AS _g")
    if kind == "polygon":  # area gate, 07_pipeline_polygon.sh:143
        f = f.where("_g.area > 50.0D")
    # score, then threshold BEFORE the wide projection (pushdown)
    f = f.selectExpr("*", f"{sql['score']} AS aerospace_score").where(sql["threshold"])
    return f.selectExpr(*sql["project"])
