"""Spark schemas + loaders for the synthetic fixtures (MapType columns must
be declared — pandas dicts would otherwise infer as structs)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from osmgraft.geo.geometry import XY_TYPE

_STR_COLS = [
    "geom_kind", "name", "operator", "brand", "amenity", "shop", "tourism",
    "leisure", "highway", "railway", "waterway", "barrier", "building",
    "landuse", "industrial", "office", "man_made", "military", "aeroway",
    "craft", "addr_postcode", "addr_street", "addr_city", "website",
]

FEATURES_SCHEMA = StructType(
    [StructField("osm_id", LongType(), False)]
    + [StructField(c, StringType(), True) for c in _STR_COLS]
    + [
        StructField("tags", MapType(StringType(), StringType()), True),
        StructField("x", DoubleType(), True),
        StructField("y", DoubleType(), True),
        StructField("way_xy", XY_TYPE, True),
    ]
)

PAGES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("html", BinaryType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
])

BOUNDARIES_SCHEMA = StructType([
    StructField("boundary_id", LongType(), False),
    StructField("name", StringType(), True),
    StructField("postcode_prefix", StringType(), True),
    StructField("polygon_wkb", BinaryType(), True),
])

POI_SCHEMA = StructType([
    StructField("poi_id", LongType(), False),
    StructField("aeroway", StringType(), True),
    StructField("name", StringType(), True),
    StructField("x", DoubleType(), True),
    StructField("y", DoubleType(), True),
])

SUPPLIERS_SCHEMA = StructType([
    StructField("company_name", StringType(), False),
    StructField("location", StringType(), True),
    StructField("postcode_prefix", StringType(), True),
    StructField("expected_score", IntegerType(), True),
])

_SCHEMAS = {
    "features": FEATURES_SCHEMA,
    "pages": PAGES_SCHEMA,
    "boundaries": BOUNDARIES_SCHEMA,
    "pois": POI_SCHEMA,
    "suppliers": SUPPLIERS_SCHEMA,
}


def to_spark(spark: SparkSession, pdf: pd.DataFrame, kind: str) -> DataFrame:
    schema = _SCHEMAS[kind]
    cols = [f.name for f in schema.fields]
    def conv(v):
        if isinstance(v, (dict, bytes, list)):
            return v
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime()
        if pd.isna(v):
            return None
        if isinstance(v, (np.integer,)):
            return int(v)
        if isinstance(v, (np.floating,)):
            return float(v)
        if isinstance(v, np.str_):
            return str(v)
        return v

    recs = [
        tuple(conv(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    return spark.createDataFrame(recs, schema)
