"""Deterministic synthetic fixtures (seed=42 convention; FIXTURES.md).

No external data: value distributions mirror the reference's observable
vocabularies (scoring.yaml tier-1 company list, consumer noise names from
scoring.yaml:317-326, postcode clusters scoring.yaml:236-246, the 18-row
ground-truth table known_suppliers_check.sql:11-35). Everything is generated
from a seeded numpy Generator so every run — and every parallelism level —
sees byte-identical inputs.

Skew requirement (north rule): ≥30% of geocoded rows land in one dense
"London-grade" hotspot cluster to exercise salted repartitioning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from osmgraft.geo.cells import GridSpec
from osmgraft.geo.geometry import polygon_wkb

SEED = 42
SPEC = GridSpec()  # 700km × 700km planar extent
HOTSPOT = (525000.0, 180000.0)  # the "London" hotspot centre
HOTSPOT_FRACTION = 0.35

# --- vocabularies (reference citations in module docstring) -----------------

TIER1_NAMES = [
    "Airbus UK Filton", "Rolls-Royce Aerospace Derby", "BAE Systems Warton",
    "Leonardo Helicopters Yeovil", "GKN Aerospace Redditch",
    "Spirit AeroSystems Belfast", "Meggitt Coventry", "Cobham Wimborne",
    "Senior Aerospace BWT", "Gardner Aerospace Derby",
    "Moog Aircraft Group Tewkesbury", "Parker Aerospace Systems",
    "Marshall Aerospace Cambridge", "Safran Seats GB", "Triumph Actuation UK",
    "Collins Aerospace Wolverhampton", "Magellan Aerospace Wrexham",
    "Thales Optronics", "Boeing Defence UK", "Westland Works",
]
AERO_TERMS = [
    "Precision Aerostructures Ltd", "Avionics Systems UK",
    "Aerospace Composites Works", "Aircraft Components Co",
    "Advanced Materials Technology", "CNC Machining Services",
    "Turbine Casting Works", "Forging and Fabrication Ltd",
    "Radar Defence Electronics", "Missile Systems Research",
]
GENERIC_INDUSTRIAL = [
    "Northern Engineering Works", "Systems Manufacturing Ltd",
    "Technical Tooling Co", "Industrial Electronics Ltd",
    "Precision Research Institute", "Composite Development Lab",
]
CONSUMER_NOISE = [
    "The Red Lion", "Corner Cafe", "High Street Salon", "Village Gym",
    "Aerobic Fitness Club", "Sunnyside Nursery", "The Crown Pub",
    "Central Library", "Anaerobic Digester Site", "Hillside Laboratory",
]
CLUSTER_POSTCODES = ["BA", "BS", "GL", "DE", "PR", "YO", "CB", "RG", "SL", "BH", "SO"]
OTHER_POSTCODES = ["M", "B", "LS", "NE", "CV", "BT", "EH", "CF", "NG", "LE"]
AMENITY_NOISE = ["restaurant", "pub", "cafe", "bar", "fast_food", "school",
                 "hospital", "bank", "pharmacy", "fuel", "parking"]
KNOWN_SUPPLIERS = [
    # known_suppliers_check.sql:11-35 (company, location, postcode_prefix, expected)
    ("Airbus UK", "Bristol", "BS", 200),
    ("Rolls-Royce", "Derby", "DE", 200),
    ("BAE Systems", "Preston", "PR", 200),
    ("Leonardo Helicopters", "Yeovil", "BA", 200),
    ("GKN Aerospace", "Redditch", "B9", 200),
    ("Spirit AeroSystems", "Belfast", "BT", 150),
    ("Meggitt", "Coventry", "CV", 150),
    ("Cobham", "Wimborne", "BH", 150),
    ("Senior Aerospace", "Various", None, 150),
    ("Gardner Aerospace", "Various", None, 150),
    ("UTC Aerospace Systems", "Various", None, 150),
    ("Moog Aircraft", "Tewkesbury", "GL", 150),
    ("Parker Aerospace", "Various", None, 150),
    ("Marshall Aerospace", "Cambridge", "CB", 120),
    ("Safran Seats", "Various", None, 120),
    ("Triumph Actuation", "Various", None, 120),
    ("Collins Aerospace", "Various", None, 120),
    ("Magellan Aerospace", "Various", None, 120),
]
# two suppliers deliberately absent from the feature data so coverage < 100%
ABSENT_SUPPLIERS = {"UTC Aerospace Systems", "Gardner Aerospace"}


def _xy(rng: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Coordinates with a dense hotspot cluster (skew driver)."""
    hot = rng.random(n) < HOTSPOT_FRACTION
    x = np.where(hot, rng.normal(HOTSPOT[0], 8000.0, n),
                 rng.uniform(SPEC.x0 + 10000, SPEC.x1 - 10000, n))
    y = np.where(hot, rng.normal(HOTSPOT[1], 8000.0, n),
                 rng.uniform(SPEC.y0 + 10000, SPEC.y1 - 10000, n))
    return np.clip(x, SPEC.x0, SPEC.x1 - 1), np.clip(y, SPEC.y0, SPEC.y1 - 1)


def _way_xy(coords: list) -> list[tuple[float, float]]:
    """`way_xy`, the coordinate array the candidate stages read: a point's
    one vertex, a line's path or a polygon's closed ring."""
    return [(float(x), float(y)) for x, y in coords]


def gen_osm_features(n: int = 4000, seed: int = SEED) -> pd.DataFrame:
    """OSM-like feature rows across the four geom kinds (FIXTURES.md §2)."""
    rng = np.random.default_rng(seed)
    kinds = rng.choice(["point", "polygon", "line", "roads"], size=n,
                       p=[0.45, 0.25, 0.2, 0.1])
    rows: list[dict] = []
    name_pool = (
        [(nm, "tier1") for nm, _, _, _ in KNOWN_SUPPLIERS
         if nm not in ABSENT_SUPPLIERS]
        + [(nm, "tier1") for nm in TIER1_NAMES]
        + [(nm, "aero") for nm in AERO_TERMS]
        + [(nm, "industrial") for nm in GENERIC_INDUSTRIAL]
        + [(nm, "noise") for nm in CONSUMER_NOISE]
    )
    xs, ys = _xy(rng, n)
    for i in range(n):
        kind = str(kinds[i])
        nm, cls = name_pool[int(rng.integers(0, len(name_pool)))]
        # number suffix keeps names distinct while preserving keyword matches
        name = f"{nm} #{int(rng.integers(1, 999))}" if rng.random() < 0.7 else nm
        has_name = rng.random() < 0.9
        pc_area = (CLUSTER_POSTCODES if rng.random() < 0.5 else OTHER_POSTCODES)[
            int(rng.integers(0, 10))
        ]
        postcode = f"{pc_area}{int(rng.integers(1, 30))} {int(rng.integers(1,9))}XX"
        tags: dict[str, str] = {}
        if rng.random() < 0.3:
            tags["phone"] = f"+44 1{int(rng.integers(100,999))} {int(rng.integers(100000,999999))}"
        if rng.random() < 0.15:
            tags["email"] = "info@example.co.uk"
        if rng.random() < 0.2:
            tags["description"] = f"{'aerospace supplier' if cls in ('tier1','aero') else 'local business'} site"
        if rng.random() < 0.25:
            tags["operator"] = name.split(" #")[0].lower()
        x, y = float(xs[i]), float(ys[i])
        row = {
            "osm_id": int(rng.integers(1, 10**9)) * (1 if kind == "point" else -1),
            "geom_kind": kind,
            # nameless rows always carry an operator: in the reference's real
            # data every scored candidate has a name source (COALESCE over
            # name/operator/brand — test_aerospace_pipeline.sh:174-179)
            "name": name if has_name else None,
            "operator": (name.split(" #")[0]
                         if (not has_name or rng.random() < 0.3) else None),
            "brand": None,
            "amenity": (AMENITY_NOISE[int(rng.integers(0, len(AMENITY_NOISE)))]
                        if cls == "noise" and rng.random() < 0.7 else None),
            "shop": "convenience" if (cls == "noise" and rng.random() < 0.2) else None,
            "tourism": None,
            "leisure": ("sports_centre" if (cls == "noise" and rng.random() < 0.1) else None),
            "highway": ("service" if (kind == "roads" and rng.random() < 0.5) else None),
            "railway": None,
            "waterway": None,
            "barrier": None,
            "building": (rng.choice(["industrial", "warehouse", "factory", "office", "house"])
                         if kind == "polygon" and rng.random() < 0.6 else None),
            "landuse": ("industrial" if (cls != "noise" and rng.random() < 0.5) else None),
            "industrial": (rng.choice(["engineering", "electronics", "precision"])
                           if cls in ("tier1", "aero", "industrial") and rng.random() < 0.3
                           else None),
            "office": (rng.choice(["engineering", "research", "company", "it"])
                       if cls != "noise" and rng.random() < 0.25 else None),
            "man_made": ("works" if cls != "noise" and rng.random() < 0.2 else None),
            "military": None,
            "aeroway": (rng.choice(["runway", "taxiway", "apron", "aerodrome"])
                        if kind in ("line", "roads") and rng.random() < 0.15 else None),
            "craft": None,
            "addr_postcode": postcode if rng.random() < 0.8 else None,
            "addr_street": f"{int(rng.integers(1,200))} Works Road" if rng.random() < 0.5 else None,
            "addr_city": None,
            "website": (f"https://{nm.split()[0].lower()}.example.co.uk"
                        if cls in ("tier1", "aero") and rng.random() < 0.6 else None),
            "tags": tags,
            "x": x,
            "y": y,
        }
        # geometry: a point, or a small ring / path around (x, y)
        if kind == "polygon":
            # some polygons get planar area <= 50 to exercise ST_Area(way)>50
            half = 3.0 if rng.random() < 0.1 else float(rng.uniform(20, 200))
            row["way_xy"] = _way_xy([
                [x - half, y - half], [x + half, y - half],
                [x + half, y + half], [x - half, y + half],
                [x - half, y - half],
            ])
        elif kind in ("line", "roads"):
            length = float(rng.uniform(50, 2000))
            row["way_xy"] = _way_xy([[x, y], [x + length / 2, y + length / 4], [x + length, y]])
        else:
            row["way_xy"] = _way_xy([[x, y]])
        rows.append(row)

    # duplicate osm_ids across kinds to exercise the priority dedup cascade
    n_dupes = max(4, n // 100)
    for j in range(n_dupes):
        src = rows[j]
        other = dict(src)
        other["geom_kind"] = "point" if src["geom_kind"] != "point" else "polygon"
        other["x"] = src["x"] + 10
        other["way_xy"] = (_way_xy([[other["x"], src["y"]]])
                           if other["geom_kind"] == "point"
                           else _way_xy([
                               [src["x"], src["y"]], [src["x"] + 100, src["y"]],
                               [src["x"] + 100, src["y"] + 100],
                               [src["x"], src["y"] + 100], [src["x"], src["y"]],
                           ]))
        rows.append(other)
    return pd.DataFrame(rows)


def gen_pages(n: int = 2000, seed: int = SEED) -> pd.DataFrame:
    """Common-Crawl-style pages embedding feature facts in `text`
    (BASELINE.json input_hint). The extraction stage must recover the facts
    while keeping `text` byte-identical per url (the per-row invariant)."""
    rng = np.random.default_rng(seed + 1)
    # only the columns the text embeds: iterrows builds a Series per row
    feats = gen_osm_features(n, seed)[
        ["name", "operator", "addr_postcode", "x", "y", "landuse", "geom_kind", "tags"]
    ]
    langs = rng.choice(["en", "fr", "de", "es"], size=len(feats),
                       p=[0.94, 0.02, 0.02, 0.02])
    base_ts = np.datetime64("2024-01-01T00:00:00")
    rows = []
    for i, f in feats.iterrows():
        name = f["name"] or "Unknown Business"
        pc = f["addr_postcode"] or "N/A"
        text = (
            f"{name} | operator={f['operator'] or ''} | postcode={pc} | "
            f"loc=({f['x']:.1f},{f['y']:.1f}) | landuse={f['landuse'] or ''} | "
            f"kind={f['geom_kind']} | "
            + " ".join(f"{k}={v}" for k, v in sorted(f["tags"].items()))
        )
        url = f"https://example-{i % 500}.co.uk/page-{i}"
        rows.append({
            "url": url,
            "warc_ts": pd.Timestamp(
                base_ts + np.timedelta64(int(rng.integers(0, 600 * 86400)), "s")
            ),
            "html": f"<html><body><p>{text}</p></body></html>".encode(),
            "text": text,
            "lang": str(langs[i]),
        })
    return pd.DataFrame(rows)


def gen_uk_boundaries(nx: int = 8, ny: int = 8) -> pd.DataFrame:
    """Non-overlapping boundary polygons tiling the extent (FIXTURES.md §3).
    Most are grid rectangles; every 7th is concave (L-shape) to stress the
    R-tree refine."""
    rows = []
    wx = (SPEC.x1 - SPEC.x0) / nx
    wy = (SPEC.y1 - SPEC.y0) / ny
    prefixes = CLUSTER_POSTCODES + OTHER_POSTCODES
    bid = 0
    for j in range(ny):
        for i in range(nx):
            x0, y0 = SPEC.x0 + i * wx, SPEC.y0 + j * wy
            x1, y1 = x0 + wx, y0 + wy
            if bid % 7 == 3:
                # L-shaped concave tile (upper-right quadrant notched out);
                # the notch is covered by no tile — PIP must return NULL there
                ring = np.array([
                    [x0, y0], [x1, y0], [x1, (y0 + y1) / 2],
                    [(x0 + x1) / 2, (y0 + y1) / 2], [(x0 + x1) / 2, y1],
                    [x0, y1], [x0, y0],
                ])
            else:
                ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
            rows.append({
                "boundary_id": bid,
                "name": f"tile_{i}_{j}",
                "postcode_prefix": prefixes[bid % len(prefixes)],
                "polygon_wkb": polygon_wkb(ring),
            })
            bid += 1
    return pd.DataFrame(rows)


def gen_poi_airports(seed: int = SEED) -> pd.DataFrame:
    """Aerodrome POIs for the kNN / DWithin proximity join (FIXTURES.md §4)."""
    rng = np.random.default_rng(seed + 2)
    rows = []
    # one airport in the hotspot, the rest spread out
    coords = [(HOTSPOT[0] + 5000, HOTSPOT[1] + 5000)] + [
        (float(rng.uniform(SPEC.x0 + 30000, SPEC.x1 - 30000)),
         float(rng.uniform(SPEC.y0 + 30000, SPEC.y1 - 30000)))
        for _ in range(11)
    ]
    for pid, (x, y) in enumerate(coords):
        rows.append({"poi_id": pid, "aeroway": "aerodrome",
                     "name": f"Aerodrome {pid}", "x": x, "y": y})
    return pd.DataFrame(rows)


def gen_known_suppliers() -> pd.DataFrame:
    """The 18-row ground-truth table (known_suppliers_check.sql:11-35)."""
    return pd.DataFrame(
        KNOWN_SUPPLIERS,
        columns=["company_name", "location", "postcode_prefix", "expected_score"],
    )
