"""The reference-shaped 10-tier YAML scoring system (scoring.yaml:8-357).

The aerospace asset is validated against an INDEPENDENT row-at-a-time
Python scorer written directly from the YAML dict (not from the parsed
RuleSet), so the loader + compiler pipeline is cross-checked end-to-end:
group-fires-once, condition-mapping OR, condition-list AND, postcode
prefix semantics, '>N' numeric thresholds, and override_if suppression
(scoring.yaml:304-312)."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
import yaml
from pyspark.sql import functions as F

from osmgraft.datagen import gen_osm_features
from osmgraft.datagen.spark_io import to_spark
from osmgraft.rules.compiler import RuleSet
from osmgraft.rules.sqlgen import score_sql, tier_sql
from osmgraft.rules.yamlspec import (
    ColumnMap,
    _read_asset,
    load_aerospace_scoring,
    load_documents_scoring,
    load_scoring_yaml,
)


def _score(rules):
    return F.expr(score_sql(rules, dialect="spark"))

# ---------------------------------------------------------------------------
# naive reference scorer (independent reimplementation from the YAML dict)
# ---------------------------------------------------------------------------


def _naive_pat(p: str) -> str:
    return p.replace("\\m", "\\b").replace("\\M", "\\b")


def _blob(row) -> str:
    return (
        (row.get("name") or "") + " " + (row.get("operator") or "")
    ).lower()


def _naive_postcode_match(codes, pc) -> bool:
    if pc is None:
        return False
    for c in codes:
        if c[-1].isdigit():
            if re.match(rf"^{c}\b", pc):
                return True
        elif re.match(rf"^{c}[0-9]", pc):
            return True
    return False


def _naive_cond_item(row, key, val) -> bool:
    if key == "name_contains":
        return any(s.lower() in _blob(row) for s in val)
    if key == "website_contains":
        w = (row.get("website") or "").lower()
        return any(s in w for s in val)
    if key == "has_website":
        return row.get("website") is not None
    if key == "has_phone":
        return "phone" in (row.get("tags") or {})
    if key == "has_postcode":
        return row.get("addr_postcode") is not None
    if key == "building_area":
        a = row.get("building_area")
        return a is not None and a > float(str(val).lstrip("> "))
    if key == "building_type":
        v = row.get("building")
        return v is not None and v in (val if isinstance(val, list) else [val])
    if isinstance(val, str) and val.startswith(">"):
        v = row.get(key)
        return v is not None and v > float(val.lstrip("> "))
    v = row.get(key)
    if val == "*" or val == ["*"]:
        return v is not None
    vals = val if isinstance(val, list) else [val]
    return v is not None and v in [str(x) for x in vals]


def _naive_group_fires(row, spec) -> bool:
    fired = False
    if "patterns" in spec:
        fired = fired or any(
            re.search(_naive_pat(p), _blob(row)) for p in spec["patterns"]
        )
    if "keywords" in spec:
        fired = fired or any(k.lower() in _blob(row) for k in spec["keywords"])
    if "postcodes" in spec:
        fired = fired or _naive_postcode_match(
            spec["postcodes"], row.get("addr_postcode")
        )
    if "conditions" in spec:
        conds = spec["conditions"]
        if isinstance(conds, dict):  # mapping → OR
            fired = fired or any(
                _naive_cond_item(row, k, v) for k, v in conds.items()
            )
        else:  # list → AND
            fired = fired or all(
                _naive_cond_item(row, k, v)
                for item in conds
                for k, v in item.items()
            )
    return fired


def naive_score(row, doc) -> int:
    total = 0
    for section, groups in doc.items():
        if section in ("thresholds", "validation"):
            continue
        for spec in groups.values():
            if not _naive_group_fires(row, spec):
                continue
            if "override_if" in spec and any(
                _naive_cond_item(row, k, v)
                for item in spec["override_if"]
                for k, v in item.items()
            ):
                continue
            total += spec["weight"]
    return total


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------


def test_assets_load_and_shape():
    aero = load_aerospace_scoring()
    assert len(aero.rules.rules) == 31  # 23 positive groups + 4+4 negatives
    assert aero.tier_bands == (
        (150, "tier1_candidate"),
        (80, "tier2_candidate"),
        (40, "potential_candidate"),
    )
    assert aero.minimum_score == 40
    assert "required_fields" in aero.validation
    docs = load_documents_scoring()
    assert len(docs.rules.rules) == 23
    # override_if parsed onto the negative groups
    ov = [r for r in aero.rules.rules if r.override_if]
    assert {r.label for r in ov} == {
        "strong_negatives.consumer_businesses",
        "strong_negatives.residential",
    }
    assert all(r.weight < 0 for r in ov)


# Extra groups whose literals need quoting: an apostrophe in a pattern, a
# keyword and an `in` value, a backslash in an `in` value, `\b`, `\.` and
# `${` (Spark substitutes `${...}` variables in SQL text).
_QUOTING_SECTION = {
    "quoting_cases": {
        "apostrophe_pattern": {"weight": 3, "patterns": ["o'brien"]},
        "word_boundary": {"weight": 5, "patterns": ["\\bjet\\b"]},
        "escaped_dot": {"weight": 7, "patterns": ["st\\.\\s*john"]},
        "apostrophe_keyword": {"weight": 11, "keywords": ["D'Arcy"]},
        "dollar_brace_keyword": {"weight": 17, "keywords": ["${x}"]},
        "apostrophe_in": {
            "weight": 13,
            "conditions": {"operator": ["O'Brien Ltd", "Back\\slash Co"]},
        },
    }
}
_QUOTING_ROWS = [  # (name, operator, score of the quoting groups alone)
    ("O'Brien Aerospace", None, 3),
    ("Jet Engines St.John", None, 5 + 7),
    ("Jetstream Stajohn Works", None, 0),
    ("D'Arcy Precision", "O'Brien Ltd", 3 + 11 + 13),
    ("Back\\slash Works", "Back\\slash Co", 13),
    ("St John's Hangar", "O'Brien", 3),
    ("Pay ${x} Ltd", None, 17),
]


def test_aerospace_scoring_matches_naive_python(spark, tmp_path):
    """Full-asset cross-check: the spark-dialect score through Spark and
    the duckdb-dialect score through DuckDB vs the independent row-at-a-time
    scorer, over the OSM fixture (800 rows covering every tier, noise class,
    and override path) plus rows for the quoting groups."""
    import duckdb

    pdf = gen_osm_features(800)
    extra = pdf.head(len(_QUOTING_ROWS)).copy()
    extra["name"] = [r[0] for r in _QUOTING_ROWS]
    extra["operator"] = [r[1] for r in _QUOTING_ROWS]
    pdf = pd.concat([pdf, extra], ignore_index=True)
    # the fixture duplicates osm_ids across kinds by design — re-key unique
    pdf["osm_id"] = np.arange(1, len(pdf) + 1, dtype=np.int64) * 7919
    # deterministic synthetic building area (points → NULL, polygons → m²),
    # same formula on both sides
    pdf["building_area"] = np.where(
        pdf["geom_kind"] == "polygon", (pdf["osm_id"].abs() % 8000).astype(float), np.nan
    )
    doc = {**yaml.safe_load(_read_asset("aerospace_scoring.yaml")), **_QUOTING_SECTION}
    expected = []
    for _, row in pdf.iterrows():
        r = row.to_dict()
        if isinstance(r.get("building_area"), float) and np.isnan(r["building_area"]):
            r["building_area"] = None
        expected.append(naive_score(r, doc))

    # the binding load_aerospace_scoring uses
    cm = ColumnMap(
        text_blob="name_blob", postcode="addr_postcode", website="website",
        phone_map="tags", area="building_area", building="building",
    )
    spec = load_scoring_yaml(yaml.safe_dump(doc), cm)
    sdf = (
        to_spark(spark, pdf.drop(columns=["building_area"]), "features")
        .withColumn(
            "building_area",
            F.when(
                F.col("geom_kind") == "polygon",
                (F.abs(F.col("osm_id")) % 8000).cast("double"),
            ),
        )
        .withColumn(
            "name_blob",
            F.lower(
                F.concat(
                    F.coalesce(F.col("name"), F.lit("")),
                    F.lit(" "),
                    F.coalesce(F.col("operator"), F.lit("")),
                )
            ),
        )
    )
    got = (
        sdf.withColumn("score", _score(spec.rules))
        .select("osm_id", "score")
        .toPandas()
        .set_index("osm_id")["score"]
    )
    src = str(tmp_path / "features")
    sdf.write.parquet(src)
    con = duckdb.connect()
    duck = dict(
        con.sql(
            f"SELECT osm_id, {score_sql(spec.rules, dialect='duckdb')} AS score "
            f"FROM read_parquet('{src}/*.parquet')"
        ).fetchall()
    )
    exp = dict(zip(pdf["osm_id"], expected))
    mismatches = [
        (oid, int(got[oid]), duck[oid], exp[oid])
        for oid in exp
        if not int(got[oid]) == duck[oid] == exp[oid]
    ]
    assert mismatches == [], mismatches[:10]
    # every quoting group fires where it should, on both engines
    quoting = RuleSet(
        "quoting", tuple(r for r in spec.rules.rules if r.label.startswith("quoting_cases"))
    )
    extra_ids = tuple(int(i) for i in pdf["osm_id"].iloc[-len(_QUOTING_ROWS):])
    want = [r[2] for r in _QUOTING_ROWS]
    assert [
        r.s for r in sdf.where(F.col("osm_id").isin(*extra_ids))
        .select("osm_id", _score(quoting).alias("s")).orderBy("osm_id").collect()
    ] == want
    assert [
        r[0] for r in con.sql(
            f"SELECT {score_sql(quoting, dialect='duckdb')} FROM read_parquet('{src}/*.parquet') "
            f"WHERE osm_id IN {extra_ids} ORDER BY osm_id"
        ).fetchall()
    ] == want
    # distribution sanity: all three classes present
    tiers = (
        sdf.withColumn("score", _score(spec.rules))
        .withColumn("tier", F.expr(tier_sql("score", spec.tier_bands, dialect="spark")))
        .groupBy("tier")
        .count()
        .toPandas()
    )
    assert set(tiers["tier"]) >= {"tier1_candidate", "low_probability"}


def test_override_if_suppresses_penalty(spark):
    """scoring.yaml:304-312: a shop named '... Aerospace ...' must NOT get
    the -200 consumer penalty; the same shop without the aerospace name
    must."""
    schema = (
        "name string, shop string, building string, tourism string, "
        "amenity string, leisure string, landuse string, industrial string, "
        "office string, man_made string, website string, addr_postcode string, "
        "building_area double, tags map<string,string>"
    )
    none9 = (None,) * 9
    rows = [
        ("Acme Aerospace Components", "convenience", None) + none9 + (None, {}),
        ("Acme Corner Store", "convenience", None) + none9 + (None, {}),
        ("Sunny Apartments", None, "apartments") + none9 + (None, {}),
        ("Sunny Aviation House", None, "apartments") + none9 + (None, {}),
    ]
    spec = load_aerospace_scoring()
    sdf = spark.createDataFrame(rows, schema).withColumn(
        "name_blob", F.lower(F.coalesce(F.col("name"), F.lit("")))
    )
    got = {
        r["name"]: r["score"]
        for r in sdf.withColumn("score", _score(spec.rules)).collect()
    }
    # aerospace-named shop: +100 direct term; -200 consumer penalty is
    # override-suppressed; -100 clearly_wrong still fires because keyword
    # 'spa' substring-matches "aeroSPAce" — the reference's own LIKE-'%kw%'
    # false positive, reproduced faithfully (scoring.yaml:317-326)
    assert got["Acme Aerospace Components"] == 0
    # plain shop: -200 fires (no override, no positive terms)
    assert got["Acme Corner Store"] == -200
    # residential: -150 fires
    assert got["Sunny Apartments"] == -150
    # aviation-named residential: -150 suppressed, +100 aviation term
    assert got["Sunny Aviation House"] == 100


def test_postcode_prefix_semantics(spark):
    """Letter-only area codes must be digit-delimited ('S' matches S1, not
    SO16); digit-terminated districts are boundary-delimited (GU14 matches
    'GU14 6XX', not GU1)."""
    spec = load_aerospace_scoring()
    geo = [r for r in spec.rules.rules if r.label.startswith("geographic_clusters")]
    sdf = spark.createDataFrame(
        [(pc,) for pc in ["S1 2AA", "SO16 7PX", "GU14 6XX", "GU1 3QQ",
                          "BS12 4YY", "NE8 1ZZ"]],
        "addr_postcode string",
    )
    got = (
        sdf.withColumn("geo_score", _score(RuleSet("geo", tuple(geo))))
        .toPandas()
        .set_index("addr_postcode")["geo_score"]
    )
    assert got["S1 2AA"] == 20      # 'S' emerging
    assert got["SO16 7PX"] == 30    # 'SO' secondary, 'S' must not also apply
    assert got["GU14 6XX"] == 50    # GU14 primary
    assert got["GU1 3QQ"] == 0      # GU1 is not GU14 and 'GU' is not a code
    assert got["BS12 4YY"] == 50
    assert got["NE8 1ZZ"] == 20


def test_documents_spec_sql_and_spark_agree_on_fixture(spark):
    """Second backend: the documents 10-tier spec scored by DuckDB SQL
    (sqlgen) equals the Spark Column on the shared sf0.001 table — a
    smaller, faster twin of the driver's yaml_scored_documents gate."""
    import duckdb

    from tests.conftest import SF_CORRECT

    spec = load_documents_scoring()
    sdf = (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .withColumn("score", _score(spec.rules))
        .select("doc_id", "score")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_CORRECT}/documents.parquet'"
    )
    ddf = (
        con.sql(
            f"SELECT doc_id, {score_sql(spec.rules, dialect='duckdb')} AS score FROM documents"
        )
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (sdf["score"].to_numpy() == ddf["score"].to_numpy()).all()
    assert sdf["score"].nunique() > 5  # real spread, not constant


class TestSuspicionTriggers:
    """validation.suspicion_triggers compile to real predicates (round 3 —
    inert metadata through round 2)."""

    def test_documents_triggers_parse(self):
        from osmgraft.rules.yamlspec import load_documents_scoring

        spec = load_documents_scoring()
        names = {t.name for t in spec.triggers}
        assert names == {
            "high_score_but_lowtrust_source",
            "high_score_but_filler_terms",
            "score_above_150_no_english",
            "tier1_but_generic_text",
        }

    def test_reference_boolean_shape_maps_to_builtins(self):
        from osmgraft.rules.yamlspec import load_aerospace_scoring

        spec = load_aerospace_scoring()
        names = [t.name for t in spec.triggers]
        assert names == [
            "score_above_150_no_website",
            "tier1_but_residential_postcode",
            "high_score_but_consumer_amenity",
        ]
        # 'Score >150 + No Contact' semantics (power_user_queries.sql:223-229)
        t0 = spec.triggers[0]
        assert t0.min_score == 150 and t0.matcher is not None

    def test_trigger_toggles_its_flag(self, spark):
        """Flipping one attribute of an otherwise-identical row must flip
        exactly its trigger (both engines' predicates agree)."""
        from osmgraft.rules.yamlspec import (
            load_documents_scoring,
            trigger_predicate,
            trigger_sql,
        )

        spec = load_documents_scoring()
        trig = {t.name: t for t in spec.triggers}["score_above_150_no_english"]
        rows = [
            (1, "spark stream vector merge", "de", "src9", 160),  # fires
            (2, "spark stream vector merge", "en", "src9", 160),  # lang flip
            (3, "spark stream vector merge", "de", "src9", 100),  # score flip
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, score int"
        ).withColumn("tier", F.lit("tier1_candidate"))
        hit = {r.doc_id for r in df.where(trigger_predicate(trig)).collect()}
        assert hit == {1}

        import duckdb

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
            "source VARCHAR, score INT, tier VARCHAR)"
        )
        for r in rows:
            con.execute("INSERT INTO t VALUES (?, ?, ?, ?, ?, 'tier1_candidate')", list(r))
        where = trigger_sql(trig, dialect="duckdb")
        got = {r[0] for r in con.sql(f"SELECT doc_id FROM t WHERE {where}").fetchall()}
        assert got == {1}


def test_raw_sql_with_variable_reference_is_refused(monkeypatch):
    """Spark substitutes `${...}` in the SQL text it parses, which only
    literals can escape: an `expr` rule or an identity predicate that
    carries one raises instead of scoring differently on the two engines."""
    from osmgraft.pipeline.candidates import candidate_sql
    from osmgraft.rules import reference_rules as R

    rule = yaml.safe_load("""{"kind": "expr", "pattern": "name = '${x}'", "weight": 10}""")
    rules = RuleSet.from_dict("yaml_expr", [rule])
    for dialect in ("spark", "duckdb"):
        with pytest.raises(ValueError, match=r"\$\{"):
            score_sql(rules, dialect=dialect)
    monkeypatch.setitem(R.IDENTITY_PREDICATE, "point", "name = '${spark.app.name}'")
    with pytest.raises(ValueError, match=r"\$\{"):
        candidate_sql("point")


def test_session_leaves_variable_references_alone(spark):
    """get_spark turns Spark's `${...}` substitution off: a literal that
    carries one reads back unchanged through F.expr and selectExpr alike
    (with it on, the first reads the app name and the second '')."""
    texts = ["${spark.app.name}", "${x}"]
    row = spark.range(1).select(*(F.expr(f"'{t}'").alias(f"e{k}") for k, t in enumerate(texts))).first()
    assert list(row) == texts
    row = spark.range(1).selectExpr(*(f"'{t}' AS s{k}" for k, t in enumerate(texts))).first()
    assert list(row) == texts
