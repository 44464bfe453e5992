"""The reference pipeline's rule sets, declared as data.

Line-by-line translations of the psql heredocs in
/root/reference/07_pipeline_{point,polygon,line,roads}.sh into the rules
model of osmgraft.rules.compiler. Weights, patterns and in-lists are kept
byte-identical to the reference SQL so the golden fixtures reproduce its
join-output rows exactly (north rule). `rolls.royce`-style dots deliberately
keep regex-any semantics (SURVEY.md §7.3 item 1).
"""

from __future__ import annotations

from osmgraft.rules.compiler import RuleSet

# ---------------------------------------------------------------------------
# Exclusion filters (F1–F4) — 07_pipeline_*.sh STEP 1
# ---------------------------------------------------------------------------

# 07_pipeline_point.sh:36-42
POINT_EXCLUSIONS = [
    {
        "column": "amenity",
        "exclude": [
            "restaurant", "pub", "cafe", "bar", "fast_food", "school",
            "hospital", "bank", "pharmacy", "fuel", "parking", "atm",
            "post_box", "telephone", "bench", "hotel", "inn", "hall",
        ],
    },
    {"column": "shop", "require_null": True},
    {"column": "tourism", "require_null": True},
    {"column": "leisure", "require_null": True},
    {"column": "highway", "exclude": ["bus_stop", "crossing", "traffic_signals"]},
]

# 07_pipeline_point.sh:45-49
POINT_OVERRIDE = [
    {"kind": "regex", "column": "name",
     "pattern": "(aerospace|aircraft|airbus|boeing|rolls.royce|bae.systems|thales|safran)"},
    {"kind": "regex", "column": "operator", "pattern": "(aerospace)"},
    {"kind": "map_regex", "column": "tags", "pattern": "(aerospace)"},
]

# 07_pipeline_polygon.sh:38-48
POLYGON_EXCLUSIONS = [
    {
        "column": "amenity",
        "exclude": [
            "restaurant", "pub", "cafe", "bar", "fast_food", "school",
            "hospital", "bank", "pharmacy", "fuel", "parking",
            "place_of_worship", "library", "hotel", "inn", "hall", "village",
        ],
    },
    {"column": "shop", "require_null": True},
    {"column": "tourism", "require_null": True},
    {
        "column": "leisure",
        "exclude": ["park", "playground", "sports_centre", "swimming_pool", "golf_course"],
    },
    {
        "column": "building",
        "exclude": ["house", "apartments", "residential", "hotel", "retail", "supermarket"],
    },
    {
        "column": "landuse",
        "exclude": ["residential", "retail", "farmland", "forest", "meadow", "quarry"],
    },
]

# 07_pipeline_polygon.sh:51-55
POLYGON_OVERRIDE = [
    {"kind": "regex", "column": "name",
     "pattern": "(aerospace|airbus|boeing|bae.systems|safran|aero)"},
    {"kind": "regex", "column": "operator", "pattern": "(aerospace|aero)"},
    {"kind": "map_regex", "column": "tags", "pattern": "(aerospace)"},
]

# 07_pipeline_line.sh:36-41
LINE_EXCLUSIONS = [
    {"column": "highway",
     "exclude": ["footway", "cycleway", "path", "steps", "pedestrian"]},
    {"column": "railway", "exclude": ["abandoned", "disused", "station", "halt"]},
    {"column": "waterway", "require_null": True},
    {"column": "barrier", "require_null": True},
    {"column": "amenity",
     "exclude": ["restaurant", "pub", "cafe", "bar", "parking", "hotel", "inn"]},
    {"column": "leisure", "require_null": True},
    {"column": "tourism", "require_null": True},
]

# 07_pipeline_line.sh:44-51
LINE_OVERRIDE = [
    {"kind": "not_null", "column": "aeroway"},
    {"kind": "regex", "column": "name",
     "pattern": "(aerospace|aviation|aircraft|airfield|runway|taxiway|apron|aero)"},
    {"kind": "regex", "column": "operator", "pattern": "(aerospace|aviation|aircraft|aero)"},
    {"kind": "not_null", "column": "industrial"},
    {"kind": "expr", "pattern": "landuse = 'industrial'"},
]

# 07_pipeline_roads.sh:32-43 — inclusion-style filter (no exclusion conjuncts)
ROADS_INCLUDE = [
    {"kind": "map_regex", "column": "tags",
     # reference matches on tags->'operator'; our features keep operator as a
     # top-level column AND inside tags, so match the map serialization
     "pattern": "(airbus|boeing|rolls\\.royce|gkn|cobham)"},
    {"kind": "expr", "pattern": "landuse = 'industrial'"},
    {"kind": "expr",
     "pattern": "highway = 'service' AND man_made IN ('works','factory')"},
]

# (exclusions, override) per kind; roads use the inclusion filter above
EXCLUSIONS = {
    "point": (POINT_EXCLUSIONS, POINT_OVERRIDE),
    "polygon": (POLYGON_EXCLUSIONS, POLYGON_OVERRIDE),
    "line": (LINE_EXCLUSIONS, LINE_OVERRIDE),
}

# ---------------------------------------------------------------------------
# Scorers (C1–C4) — 07_pipeline_*.sh STEP 2
# ---------------------------------------------------------------------------

# 07_pipeline_point.sh:70-115
POINT_SCORER = RuleSet.from_dict("point", [
    {"kind": "regex", "column": "name", "pattern": "(aerospace|avionics|aero)",
     "weight": 100, "label": "direct_aerospace_name"},
    {"kind": "regex", "column": "operator", "pattern": "(aerospace|aero)",
     "weight": 100, "label": "direct_aerospace_operator"},
    {"kind": "regex", "column": "name",
     "pattern": "(airbus|boeing|rolls.royce|bae.systems|leonardo|thales|safran|gkn|meggitt|cobham|moog|parker.hannifin)",
     "weight": 100, "label": "tier1_name"},
    {"kind": "regex", "column": "operator",
     "pattern": "(airbus|boeing|rolls.royce|bae.systems|leonardo|thales|safran|gkn|meggitt|cobham|moog|parker.hannifin|itp.aero|marshall.aerospace)",
     "weight": 100, "label": "tier1_operator"},
    {"kind": "regex", "column": "name",
     "pattern": "(defense|defence|military|radar|missile|weapons)",
     "weight": 20, "label": "defense_name"},
    {"kind": "not_null", "column": "military", "weight": 20, "label": "military_tag"},
    {"kind": "regex", "column": "name",
     "pattern": "(precision|advanced|technology|systems|electronics|engineering|manufacturing)",
     "weight": 70, "label": "hightech_name"},
    {"kind": "in", "column": "office",
     "values": ["engineering", "research", "technology", "it"],
     "weight": 70, "label": "hightech_office"},
    {"kind": "regex", "column": "name",
     "pattern": "(research|development|laboratory|r&d|institute|university)",
     "weight": 60, "label": "research_name"},
    {"kind": "in", "column": "amenity",
     "values": ["research_institute", "university", "college"],
     "weight": 60, "label": "research_amenity"},
    {"kind": "regex", "column": "name",
     "pattern": "(machining|casting|forging|composite|materials|fabrication|CNC)",
     "weight": 50, "label": "manufacturing_name"},
    {"kind": "in", "column": "man_made", "values": ["works", "factory", "crane"],
     "weight": 50, "label": "manufacturing_man_made"},
    {"kind": "expr", "pattern": "landuse = 'industrial'",
     "weight": 40, "label": "industrial_landuse"},
    {"kind": "not_null", "column": "man_made", "weight": 30, "label": "man_made_any"},
    {"kind": "regex", "column": "name", "pattern": "(engineering|technical)",
     "weight": 30, "label": "engineering_name"},
    {"kind": "in", "column": "office", "values": ["company", "industrial"],
     "weight": 30, "label": "engineering_office"},
    {"kind": "raw_regex", "column": "addr_postcode",
     "pattern": "^(BA|BS|GL|DE|PR|YO|CB|RG|SL|BH|SO)",
     "weight": 20, "label": "uk_cluster_postcode"},
    {"kind": "not_null", "column": "website", "weight": 10, "label": "website"},
    {"kind": "map_has_key", "column": "tags", "values": ["phone"],
     "weight": 10, "label": "phone"},
    {"kind": "map_has_key", "column": "tags", "values": ["email"],
     "weight": 5, "label": "email"},
    {"kind": "blob_regex", "column": "name",
     "pattern": "(aerobic|anaerobic|club|laboratory)",
     "weight": -80, "label": "penalty_non_supplier"},
])

# 07_pipeline_polygon.sh:78-135
_POLY_TIER1_MEGA = (
    "(airbus|boeing|lockheed.martin|bae.systems|rolls.royce|rtx|raytheon"
    "|collins.aerospace|pratt.whitney|ge.aviation|ge.aerospace|safran|thales"
    "|leonardo|northrop.grumman|general.dynamics|honeywell|gkn.aerospace"
    "|spirit.aerosystems|meggitt|cobham|itp.aero|parker.hannifin|moog"
    "|senior.aerospace|marshall.aerospace|precision.castparts|pcc"
    "|triumph.group|woodward|eaton.aerospace|liebherr.aerospace|aar.corp"
    "|magellan.aerospace|martin.baker|ultra.electronics|elbit.systems"
    "|babcock.international|qinetiq|short.brothers|bombardier|dowty"
    "|messier.dowty|westland|agustawestland|transdigm|howmet.aerospace"
    "|l3harris|curtiss.wright|crane.aerospace|textron|huntington.ingalls"
    "|aerovironment|embraer|cae|standardaero|hexcel|mercury.systems"
    "|planet.labs|vse.corp|intuitive.machines|astronics|ducommun"
    "|mitsubishi.heavy|sikorsky|gulfstream|bell.textron|mtu.aero|goodrich"
    "|eurofighter|cfm.international|general.electric|itp.aero|aim.altitude"
    "|sl.engineering|automatic.industrial.machines|general.engineering.treatments)"
)
_POLY_PROGRAMMES = (
    "(737.max|787.dreamliner|777x|a320.neo|a350.xwb|a330.neo|f.35|f.22"
    "|eurofighter|typhoon|trent.xwb|trent.1000|trent.7000|leap.engine|ge9x"
    "|kc.46|ch.47.chinook|p.8.poseidon|a400m|h160|f.15ex|hawk.trainer"
    "|type.26|global.hawk|james.webb|stryker|b.21.raider)"
)

POLYGON_SCORER = RuleSet.from_dict("polygon", [
    {"kind": "regex", "column": "name", "pattern": "(aerospace|avionics|aero)",
     "weight": 100, "label": "direct_aerospace_name"},
    {"kind": "regex", "column": "operator", "pattern": "(aerospace|aero)",
     "weight": 100, "label": "direct_aerospace_operator"},
    {"kind": "map_regex", "column": "tags", "pattern": "aerospace",
     "weight": 100, "label": "direct_aerospace_tags"},
    {"kind": "regex", "column": "name",
     "pattern": "(airbus|boeing|rolls.royce|bae.systems|thales|safran|gkn|meggitt|cobham|itp.aero)",
     "weight": 100, "label": "tier1_name"},
    {"kind": "regex", "column": "name", "pattern": _POLY_TIER1_MEGA,
     "weight": 100, "label": "tier1_mega"},
    {"kind": "regex", "column": "name", "pattern": _POLY_PROGRAMMES,
     "weight": 50, "label": "programme_name"},
    {"kind": "regex", "column": "name",
     "pattern": "(defense|defence|military|radar|missile|weapons|ballistic)",
     "weight": 50, "label": "defense_name"},
    {"kind": "not_null", "column": "military", "weight": 50, "label": "military_tag"},
    {"kind": "expr", "pattern": "landuse = 'military'",
     "weight": 50, "label": "military_landuse"},
    {"kind": "regex", "column": "name",
     "pattern": "(precision|advanced|technology|systems|electronics|engineering|manufacturing|CNC)",
     "weight": 70, "label": "hightech_name"},
    {"kind": "in", "column": "industrial",
     "values": ["engineering", "electronics", "precision", "high_tech"],
     "weight": 70, "label": "hightech_industrial"},
    {"kind": "in", "column": "office",
     "values": ["engineering", "research", "technology"],
     "weight": 70, "label": "hightech_office"},
    {"kind": "regex", "column": "name",
     "pattern": "(research|development|laboratory|r&d|institute)",
     "weight": 5, "label": "research_name"},
    {"kind": "expr", "pattern": "office = 'research'",
     "weight": 5, "label": "research_office"},
    {"kind": "in", "column": "amenity", "values": ["research_institute", "university"],
     "weight": 5, "label": "research_amenity"},
    {"kind": "regex", "column": "name",
     "pattern": "(machining|casting|forging|composite|materials|fabrication|tooling)",
     "weight": 50, "label": "manufacturing_name"},
    {"kind": "in", "column": "man_made", "values": ["works", "factory"],
     "weight": 50, "label": "manufacturing_man_made"},
    {"kind": "expr", "pattern": "landuse = 'industrial'",
     "weight": 40, "label": "industrial_landuse"},
    {"kind": "in", "column": "building",
     "values": ["industrial", "warehouse", "manufacture", "factory"],
     "weight": 40, "label": "industrial_building"},
    {"kind": "not_null", "column": "industrial", "weight": 40, "label": "industrial_any"},
    {"kind": "regex", "column": "name", "pattern": "(engineering|technical|specialist)",
     "weight": 30, "label": "engineering_name"},
    {"kind": "in", "column": "office", "values": ["company", "industrial"],
     "weight": 30, "label": "engineering_office"},
    {"kind": "raw_regex", "column": "addr_postcode",
     "pattern": "^(BA|BS|GL|DE|PR|YO|CB|RG|SL|BH|SO)",
     "weight": 20, "label": "uk_cluster_postcode"},
    {"kind": "not_null", "column": "website", "weight": 10, "label": "website"},
    {"kind": "map_has_key", "column": "tags", "values": ["phone", "contact:phone"],
     "weight": 10, "label": "phone"},
    {"kind": "map_has_key", "column": "tags", "values": ["email", "contact:email"],
     "weight": 5, "label": "email"},
    {"kind": "blob_regex", "column": "name",
     "pattern": "(aerobic|anaerobic|club|laboratory)",
     "weight": -80, "label": "penalty_non_supplier"},
])

# 07_pipeline_line.sh:72-100
LINE_SCORER = RuleSet.from_dict("line", [
    {"kind": "in", "column": "aeroway", "values": ["runway", "taxiway", "apron"],
     "weight": 10, "label": "aeroway_surface"},
    {"kind": "expr", "pattern": "aeroway = 'aerodrome'",
     "weight": 80, "label": "aerodrome"},
    {"kind": "regex", "column": "name", "pattern": "(aerospace|aero)",
     "weight": 100, "label": "direct_aerospace_name"},
    {"kind": "regex", "column": "operator", "pattern": "(aerospace|aero)",
     "weight": 100, "label": "direct_aerospace_operator"},
    {"kind": "regex", "column": "name",
     "pattern": "(precision|technology|systems|engineering|manufacturing)",
     "weight": 70, "label": "hightech_name"},
    {"kind": "in", "column": "industrial", "values": ["engineering", "electronics"],
     "weight": 70, "label": "hightech_industrial"},
    {"kind": "expr", "pattern": "landuse = 'industrial'",
     "weight": 50, "label": "industrial_landuse"},
    {"kind": "not_null", "column": "industrial", "weight": 50, "label": "industrial_any"},
    {"kind": "in", "column": "building", "values": ["industrial", "warehouse"],
     "weight": 50, "label": "industrial_building"},
    {"kind": "in", "column": "man_made", "values": ["works", "factory"],
     "weight": 40, "label": "manufacturing_man_made"},
    {"kind": "in", "column": "office", "values": ["company", "engineering", "industrial"],
     "weight": 30, "label": "office"},
    {"kind": "blob_regex", "column": "name",
     "pattern": "(aerobic|anaerobic|club|laboratory)",
     "weight": -80, "label": "penalty_non_supplier"},
])

# 07_pipeline_roads.sh:63-76
ROADS_SCORER = RuleSet.from_dict("roads", [
    {"kind": "in", "column": "aeroway", "values": ["aerodrome", "taxiway", "runway"],
     "weight": 80, "label": "aeroway"},
    {"kind": "regex", "column": "name",
     "pattern": "(aerospace|airbus|boeing|rolls\\.royce|bae|gkn|cobham)",
     "weight": 100, "label": "supplier_name"},
    {"kind": "map_regex", "column": "tags",
     "pattern": "(airbus|boeing|rolls\\.royce|gkn|cobham)",
     "weight": 80, "label": "supplier_operator"},
    {"kind": "expr", "pattern": "landuse = 'industrial'",
     "weight": 50, "label": "industrial_landuse"},
    {"kind": "expr", "pattern": "highway = 'service' AND landuse = 'industrial'",
     "weight": 40, "label": "service_driveway"},
    {"kind": "expr",
     "pattern": "office IN ('industrial','engineering') OR man_made IN ('works','factory')",
     "weight": 30, "label": "office_man_made"},
])

# ---------------------------------------------------------------------------
# Must-have-identity predicates (F5) and keyword vocabularies (C8)
# ---------------------------------------------------------------------------

IDENTITY_PREDICATE = {
    # 07_pipeline_point.sh:117
    "point": "name IS NOT NULL OR operator IS NOT NULL",
    # 07_pipeline_polygon.sh:139-143 (area predicate applied separately)
    "polygon": "name IS NOT NULL OR operator IS NOT NULL OR addr_postcode IS NOT NULL",
    # 07_pipeline_line.sh:102
    "line": "name IS NOT NULL OR aeroway IS NOT NULL OR industrial IS NOT NULL",
    # 07_pipeline_roads.sh:78-81
    "roads": "name IS NOT NULL OR aeroway IN ('aerodrome','taxiway','runway') "
             "OR landuse = 'industrial'",
}

MATCHED_KEYWORDS = {
    # 07_pipeline_point.sh:199-203
    "point": ["aerospace", "aviation", "aircraft", "defense", "precision",
              "engineering", "manufacturing"],
    # 07_pipeline_polygon.sh:265-271
    "polygon": ["aerospace", "aviation", "aircraft", "defense", "defence",
                "precision", "engineering", "manufacturing", "industrial"],
    # 07_pipeline_line.sh:184-188
    "line": ["aerospace", "aviation", "aircraft", "runway", "aeroway",
             "industrial", "manufacturing"],
    # 07_pipeline_roads.sh:163-167
    "roads": ["aerospace", "aviation", "aircraft", "industrial",
              "business park", "technology", "aeroway"],
}

SCORERS = {
    "point": POINT_SCORER,
    "polygon": POLYGON_SCORER,
    "line": LINE_SCORER,
    "roads": ROADS_SCORER,
}

# keyword blob includes operator for polygons only (07_pipeline_polygon.sh:270)
KEYWORD_BLOB_INCLUDES_OPERATOR = {"point": False, "polygon": True,
                                  "line": False, "roads": False}

SCORE_THRESHOLD = 40  # 07_pipeline_point.sh:210 etc.

# confidence ladder, default 'low' (07_pipeline_point.sh:182-187)
CONFIDENCE_BANDS = ((150, "high"), (100, "medium-high"), (70, "medium"))

# priority order of the final dedup-union cascade (07_run_all_pipelines.sh:167-234)
PRIORITY_ORDER = ["polygon", "point", "line", "roads"]
