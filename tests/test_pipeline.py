"""Reference-semantic golden tests for the scoring pipeline (SURVEY.md §5):
the pipeline assertion suite (test_aerospace_pipeline.sh), the known-supplier
recall fixture (known_suppliers_check.sql), dedup-cascade semantics
(create_final_table.sql), and the byte-identical extraction invariant."""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmgraft.datagen import (
    gen_known_suppliers,
    gen_osm_features,
    gen_pages,
    gen_poi_airports,
    gen_uk_boundaries,
)
from osmgraft.datagen.spark_io import to_spark
from osmgraft.extract import extract_features
from osmgraft.pipeline import candidate_stage, priority_dedup_union
from osmgraft.pipeline.runner import run_reference_pipeline
from osmgraft.pipeline.union import assert_final_invariants
from osmgraft.rules.reference_rules import PRIORITY_ORDER, SCORERS
from osmgraft.rules.sqlgen import score_sql


@pytest.fixture(scope="module")
def features(spark):
    return to_spark(spark, gen_osm_features(2000), "features").cache()


@pytest.fixture(scope="module")
def final(spark, features, tmp_path_factory):
    d = tmp_path_factory.mktemp("stages")
    return run_reference_pipeline(spark, features, str(d)).cache()


def test_invariants(final):
    # no NULL names; score >= 40; valid tiers; coords present; unique osm_id
    assert_final_invariants(final)
    assert final.count() > 100


def test_tier_bands_consistent(final):
    # tier label must agree with the score bands (07_pipeline_point.sh:176-181)
    bad = final.where(
        ~(
            ((F.col("aerospace_score") >= 150) & (F.col("tier_classification") == "tier1_candidate"))
            | ((F.col("aerospace_score") >= 80) & (F.col("aerospace_score") < 150)
               & (F.col("tier_classification") == "tier2_candidate"))
            | ((F.col("aerospace_score") >= 40) & (F.col("aerospace_score") < 80)
               & (F.col("tier_classification") == "potential_candidate"))
        )
    ).count()
    assert bad == 0


def _cascade_pandas(staged: dict, order) -> Counter:
    """The reference cascade, row by row: each kind keeps the rows whose
    osm_id no higher-priority kind has (create_final_table.sql:89-116)."""
    out, seen = Counter(), set()
    for kind in order:
        pdf = staged[kind]
        out.update(map(tuple, pdf[~pdf["osm_id"].isin(seen)].itertuples(index=False)))
        seen |= set(pdf["osm_id"])
    return out


def test_priority_cascade_id_level(spark):
    """If an osm_id exists in a higher-priority source, ALL lower-priority
    rows with that id are dropped (create_final_table.sql:72,89-116); the
    output equals the reference cascade as a multiset."""
    import pandas as pd

    cases = [
        # one id per higher kind drops every lower row with that id
        ({"polygon": [(1, "a")], "point": [(1, "b"), (1, "c"), (2, "d")],
          "line": [(2, "e"), (3, "f")], "roads": [(3, "g")]},
         [(1, "a"), (2, "d"), (3, "f")]),
        # id 5 in three kinds; duplicate ids within one kind keep every row
        ({"polygon": [(5, "p")], "point": [(5, "q"), (6, "r"), (6, "s")],
          "line": [(5, "t"), (6, "u"), (7, "v")], "roads": [(7, "w"), (8, "x"), (8, "x")]},
         [(5, "p"), (6, "r"), (6, "s"), (7, "v"), (8, "x"), (8, "x")]),
    ]
    cols = "osm_id long, source_table string, name string"
    for rows, kept in cases:
        staged = {kind: [(i, f"planet_osm_{kind}", n) for i, n in rows[kind]]
                  for kind in PRIORITY_ORDER}
        out = priority_dedup_union(
            {kind: spark.createDataFrame(r, cols) for kind, r in staged.items()},
            PRIORITY_ORDER,
        ).collect()
        want = _cascade_pandas(
            {kind: pd.DataFrame(r, columns=["osm_id", "source_table", "name"])
             for kind, r in staged.items()},
            PRIORITY_ORDER,
        )
        assert Counter(map(tuple, out)) == want
        assert Counter((r.osm_id, r.name) for r in out) == Counter(kept)


def test_known_supplier_recall(spark, final):
    """Coverage of the 18-supplier ground truth (known_suppliers_check.sql):
    >75% found (AEROSPACE_SCORING_README.md:182); the two deliberately absent
    suppliers must be missing."""
    ks = to_spark(spark, gen_known_suppliers(), "suppliers")
    first_word = F.lower(F.split(F.col("company_name"), " ").getItem(0))
    joined = ks.join(
        final,
        F.lower(final["name"]).contains(first_word),
        "left",
    )
    cov = (
        joined.groupBy("company_name")
        .agg(F.max(F.col("aerospace_score")).alias("best"))
        .withColumn("found", F.col("best").isNotNull())
    )
    res = {r.company_name: r.found for r in cov.collect()}
    found = sum(res.values())
    assert found / len(res) > 0.75, res
    assert not res["UTC Aerospace Systems"]


def test_scorer_spotcheck(spark):
    """Manual score recomputation (diagnose_pipeline.sql:119-142 style):
    known combinations must produce the exact reference weights."""
    from osmgraft.datagen.spark_io import FEATURES_SCHEMA
    base = {f.name: None for f in FEATURES_SCHEMA.fields}
    rows = [
        # name 'aerospace' (+100), landuse industrial (+40) = 140
        {**base, "osm_id": 1, "geom_kind": "point",
         "name": "Acme Aerospace", "landuse": "industrial", "tags": {}},
        # polygon: tier1 'airbus' fires both tier1 regexes (+100+100) and
        # name 'aero...' prefix? 'airbus' has no 'aero' substring → +200
        {**base, "osm_id": 2, "geom_kind": "polygon",
         "name": "Airbus Works", "tags": {}},
    ]
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in FEATURES_SCHEMA.fields) for r in rows],
        FEATURES_SCHEMA,
    )
    got = {
        r.osm_id: r.s
        for kind in ("point", "polygon")
        for r in df.where(F.col("geom_kind") == kind)
        .select("osm_id", F.expr(score_sql(SCORERS[kind], dialect="spark")).alias("s"))
        .collect()
    }
    assert got[1] == 140
    assert got[2] == 200


def test_extraction_byte_identical(spark):
    pages = to_spark(spark, gen_pages(400), "pages")
    ext = extract_features(pages)
    j = pages.select("url", F.col("text").alias("orig")).join(ext, "url")
    assert j.where("orig != text").count() == 0
    assert j.where("text IS NULL").count() == 0
    # extraction recovers coordinates for every page
    assert ext.where("x IS NULL OR y IS NULL").count() == 0


def test_checkpoint_resume_stable(spark, features, tmp_path):
    d = str(tmp_path / "wd")
    a = run_reference_pipeline(spark, features, d)
    n1 = a.count()
    # second run must reuse manifests and produce identical results
    b = run_reference_pipeline(spark, features, d)
    assert b.count() == n1
    assert a.exceptAll(b).count() == 0


def test_resume_fingerprint_follows_input_files(spark, tmp_path):
    """The stage fingerprint comes from the input file listing: a re-run on
    the same parquet reuses every manifest, and a rewritten parquet under
    the same workdir recomputes instead of serving the stale stages."""
    src = str(tmp_path / "features")
    wd = tmp_path / "wd"

    def write(seed):
        to_spark(spark, gen_osm_features(400, seed=seed), "features").write.mode(
            "overwrite"
        ).parquet(src)

    def run(workdir):
        return sorted(
            run_reference_pipeline(spark, spark.read.parquet(src), str(workdir))
            .select("osm_id", "name", "aerospace_score")
            .collect()
        )

    def manifests():
        return {
            p.parent.name: (p.stat().st_mtime_ns, p.read_text())
            for p in wd.glob("stage=*/_manifest.json")
        }

    write(1)
    old = run(wd)
    before = manifests()
    assert len(before) == 1
    assert run(wd) == old
    assert manifests() == before

    write(2)
    new = run(wd)
    assert new != old
    assert new == run(tmp_path / "fresh")


def test_resume_fingerprint_follows_rules(spark, tmp_path, monkeypatch):
    """The `final_union` fingerprint covers the rule set: unchanged rules
    reuse the manifest untouched, an edited weight recomputes in the same
    workdir."""
    import dataclasses

    from osmgraft.rules.compiler import RuleSet

    src = str(tmp_path / "features")
    to_spark(spark, gen_osm_features(400), "features").write.parquet(src)
    wd = tmp_path / "wd"
    manifest = wd / "stage=final_union" / "_manifest.json"

    def run(workdir):
        return sorted(
            run_reference_pipeline(spark, spark.read.parquet(src), str(workdir))
            .select("osm_id", "aerospace_score")
            .collect()
        )

    old = run(wd)
    before = (manifest.stat().st_mtime_ns, manifest.read_text())
    assert run(wd) == old
    assert (manifest.stat().st_mtime_ns, manifest.read_text()) == before

    point = SCORERS["point"]
    rules = list(point.rules)
    assert rules[0].label == "direct_aerospace_name"
    rules[0] = dataclasses.replace(rules[0], weight=1000)
    monkeypatch.setitem(SCORERS, "point", RuleSet(point.name, tuple(rules)))
    new = run(wd)
    assert manifest.read_text() != before[1]
    assert new != old


def test_pipeline_scorers_match_duckdb_oracle(spark, tmp_path):
    """Each kind's spark-dialect score and row filter through Spark equal
    the duckdb-dialect text through DuckDB, row for row."""
    import duckdb

    from osmgraft.rules.reference_rules import EXCLUSIONS, ROADS_INCLUDE
    from osmgraft.rules.sqlgen import filter_sql

    src = str(tmp_path / "features")
    to_spark(spark, gen_osm_features(2000), "features").write.parquet(src)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW features AS SELECT * FROM read_parquet('{src}/*.parquet')")
    scores = set()
    for kind, rules in SCORERS.items():
        ex = EXCLUSIONS.get(kind, ([], ROADS_INCLUDE))

        def cols(d):
            return [f"{score_sql(rules, dialect=d)} AS s", f"{filter_sql(*ex, dialect=d)} AS keep"]

        got = sorted(
            tuple(r)
            for r in spark.read.parquet(src)
            .where(F.col("geom_kind") == kind)
            .selectExpr("osm_id", *cols("spark"))
            .collect()
        )
        want = sorted(
            con.sql(
                f"SELECT osm_id, {', '.join(cols('duckdb'))} FROM features "
                f"WHERE geom_kind = '{kind}'"
            ).fetchall()
        )
        assert len(got) > 100 and got == want, kind
        scores |= {s for _, s, _ in got}
    assert len(scores) > 5


def test_uri_workdir_keeps_manifests_under_it(spark, tmp_path, monkeypatch):
    """A `file://` workdir holds the manifests next to the stage parquet,
    not under a `file:` directory relative to the cwd, and a second run
    reuses them unchanged."""
    features = to_spark(spark, gen_osm_features(400), "features")
    wd = tmp_path / "wd"
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)

    def manifests():
        return {
            p.parent.name: (p.stat().st_mtime_ns, p.read_text())
            for p in wd.glob("stage=*/_manifest.json")
        }

    first = run_reference_pipeline(spark, features, wd.as_uri()).count()
    before = manifests()
    assert set(before) == {"stage=final_union"}
    assert list(cwd.iterdir()) == []
    assert run_reference_pipeline(spark, features, wd.as_uri()).count() == first
    assert manifests() == before
    assert list(cwd.iterdir()) == []


def test_parallelism_invariance(spark, features, tmp_path):
    """Tile assignments / score aggregates must be identical across
    parallelism levels (north rule) — here: repartitioned inputs."""
    f8 = features.repartition(8)
    f32 = features.repartition(32)
    a = candidate_stage(f8, "polygon").select(
        "osm_id", "aerospace_score", "tier_classification")
    b = candidate_stage(f32, "polygon").select(
        "osm_id", "aerospace_score", "tier_classification")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_diagnostics_suite(spark, features):
    """diagnose_pipeline.sql parity: all 12-section checks run and the
    crosschecks hold on the golden fixture."""
    from osmgraft.pipeline.diagnostics import run_diagnostics

    d = run_diagnostics(features)
    assert set(d["source_counts"]) == {"point", "polygon", "line", "roads"}
    assert sum(d["source_counts"].values()) == features.count()
    assert d["keyword_probes"]["rlike_aerospace"] > 0
    # the simplified manual scorer must never strongly disagree with the
    # compiled rules (diagnose_pipeline.sql DIAGNOSTIC 6)
    assert d["manual_vs_compiled_disagreements"] == 0
    assert all(v >= 0 for v in d["threshold_fallout"].values())
    assert d["tags_nonempty"] > 0
    for kind, n in d["filtered_counts"].items():
        assert 0 < n <= d["source_counts"][kind], kind
    # D13 (round 3): every fixture geometry classifies, and the fixture's
    # well-formed WKB must all be valid (any other reason = import defect)
    assert sum(d["geometry_validity"].values()) == features.count()
    assert set(d["geometry_validity"]) == {"valid"}


def test_simhash_banded_pairs_exact_vs_allpairs(spark):
    """Round-2: banded pigeonhole blocking must find EXACTLY the pairs an
    all-pairs popcount scan finds at the same hamming radius (the blocking
    is lossless by pigeonhole), on the shared documents table."""
    from osmgraft.text.dedup import simhash, simhash_neardup_pairs
    from tests.conftest import SF_CORRECT

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    sigs = simhash(docs).cache()
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_neardup_pairs(sigs, max_hamming=3).collect()
    }
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    brute = (
        a.crossJoin(b)
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("h", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int"))
        .where(F.col("h") <= 3)
    )
    exp = {(r.doc_a, r.doc_b, r.h) for r in brute.collect()}
    sigs.unpersist()
    assert got == exp
    assert len(exp) > 0  # fixture contains near-dup docs


def test_connected_components_known_graph(spark):
    """Min-label propagation on a graph with known components: a 5-chain
    (diameter 4 — needs multiple rounds), a star, and an isolated edge."""
    from osmgraft.text.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),        # chain → component 1
         (10, 11), (10, 12), (10, 13),          # star → component 10
         (20, 21)],                              # edge → component 20
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.cluster_id for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}


def test_quality_scores_empty_text_no_ansi_crash(spark):
    """Review finding: empty text gave DIVIDE_BY_ZERO under Spark 4's
    default ANSI mode; alpha_ratio must be 0 instead."""
    from osmgraft.text.quality import language_id, quality_scores

    docs = spark.createDataFrame(
        [(1, ""), (2, "the quick brown fox")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in quality_scores(docs).collect()}
    assert rows[1].alpha_ratio == 0.0
    assert rows[2].quality_score > 0
    assert {r.doc_id for r in language_id(docs).collect()} == {1, 2}


def _parse_page(text: str | None) -> dict:
    """Plain-Python reading of the page microformat: the reference the JVM
    extractor (osmgraft.extract.page_extract) must reproduce."""
    if text is None:
        return {"name": None, "operator": None, "addr_postcode": None, "x": None,
                "y": None, "landuse": None, "geom_kind": None, "tags": {}}

    def field(key):
        m = re.search(key + r"=([^|]*?) \|", text)
        return m.group(1).strip() if m else None

    def num(s):
        try:
            return float(s)
        except ValueError:
            return None

    loc = re.search(r"loc=\(([-\d.]+),([-\d.]+)\)", text)
    kind = re.search(r"kind=(\w+)", text)
    parts = text.split(" | ")
    tags = {}
    for tok in parts[-1].split(" "):
        if "=" in tok:
            k, _, v = tok.partition("=")
            tags[k] = v
    return {
        "name": None if parts[0] == "Unknown Business" else parts[0],
        "operator": field("operator") or None,
        "addr_postcode": None if field("postcode") == "N/A" else field("postcode"),
        "x": num(loc.group(1)) if loc else None,
        "y": num(loc.group(2)) if loc else None,
        "landuse": field("landuse") or None,
        "geom_kind": kind.group(1) if kind else None,
        "tags": tags,
    }


def test_extract_tolerates_null_text(spark):
    """Review finding: a NULL text row crashed the Arrow extract kernel. The
    JVM extractor equals the plain-Python parser on generated pages plus
    edge rows (NULL, empty and delimiter-free text; repeated, `=`-bearing
    and blank tag tokens; blank and N/A fields; a short float and
    malformed locations), tag order included."""
    import datetime as dt

    edges = [
        None,
        "",
        "no delimiter here",
        "Acme Ltd | operator=acme | postcode=BS1 2AA | loc=1000.0,2000.0 | "
        "landuse=industrial | kind=point | building=yes",
        "a | a=1 a=2 b=x=y =z c=",
        "Unknown Business | operator= | postcode=N/A | loc=(1.5,-2.) | landuse= | "
        "kind=line | ",
        "X | operator=  acme\t | postcode= | loc=(1.2.3,5) | kind=pölygon | k=v",
        "Y | | | a=1 | | b=2",
    ]
    pdf = gen_pages(300)
    rows = list(zip(pdf["url"], pdf["text"])) + [
        (f"https://edge/{i}", t) for i, t in enumerate(edges)
    ]
    pages = spark.createDataFrame(
        [(u, dt.datetime(2024, 1, 1), None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    ext = extract_features(pages).selectExpr("*", "map_keys(tags) AS tag_keys")
    got = {r.url: r.asDict() for r in ext.collect()}
    assert len(got) == len(rows)
    for url, text in rows:
        want = _parse_page(text)
        row = {k: got[url][k] for k in want}
        assert row == want, (text, row)
        # collect() hands maps over as hash maps: the order is in map_keys
        assert got[url]["tag_keys"] == list(want["tags"]), text
        assert got[url]["text"] == text
    assert got["https://edge/0"]["tags"] == {}
    assert got["https://edge/3"]["name"] == "Acme Ltd"


def test_connected_components_hashed_ids_no_overflow(spark):
    """Review finding: label-sum convergence overflowed int64 with hashed
    ids near ±2^63 under ANSI mode; the changed-count check must not."""
    from osmgraft.text.dedup import connected_components

    big = 2**63 - 10
    edges = spark.createDataFrame(
        [(big, big - 1), (big - 1, big - 2), (-big, -big + 1)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {big: big - 2, big - 1: big - 2, big - 2: big - 2,
                   -big: -big, -big + 1: -big}


def test_word_hits_counts_adjacent_occurrences(spark):
    """Review finding: non-overlapping replace undercounted adjacent
    words ('the the' → 1). Space doubling fixes it in both backends."""
    import duckdb

    from osmgraft.text.quality import _word_hits

    docs = spark.createDataFrame(
        [(1, "the the end"), (2, "a a a"), (3, "the cat the")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.h_the, r.h_a)
        for r in docs.select(
            "doc_id",
            _word_hits(F.col("text"), "the").alias("h_the"),
            _word_hits(F.col("text"), "a").alias("h_a"),
        ).collect()
    }
    assert got == {1: (2, 0), 2: (0, 3), 3: (2, 0)}


def test_multi_hits_equals_per_word_sum(spark):
    """The round-3 single-pass alternation counter must equal the summed
    per-word replace counters on adversarial inputs: repeated words,
    ADJACENT DISTINCT stopwords (regex scan must not eat the next match's
    delimiter), words at string ends, prefix-shadowing ('a' vs 'an'),
    empty text."""
    from osmgraft.text.quality import (
        STOPWORDS,
        _hits_in_padded,
        _multi_hits_in_padded,
        _padded,
    )

    docs = spark.createDataFrame(
        [
            (1, "the the the"),
            (2, "a an a an and"),
            (3, "of to in is it for"),
            (4, "the"),
            (5, ""),
            (6, "an anthem is not an an"),
            (7, "for for for it it the a"),
        ],
        "doc_id long, text string",
    )
    per_word = None
    for w in STOPWORDS:
        h = _hits_in_padded(F.col("_pad"), w)
        per_word = h if per_word is None else per_word + h
    base = docs.select("doc_id", _padded(F.col("text")).alias("_pad"))
    rows = base.select(
        "doc_id",
        per_word.alias("naive"),
        _multi_hits_in_padded(F.col("_pad"), STOPWORDS).alias("fused"),
    ).collect()
    for r in rows:
        assert r.naive == r.fused, (r.doc_id, r.naive, r.fused)


def test_dedup_pages_keeps_one_copy_of_recrawled_url(spark):
    """Review finding: an url anti-join dropped ALL copies of a re-crawled
    url; row-level dedup must keep exactly one, and NULL-text rows are
    never duplicates of each other."""
    import datetime as dt

    from osmgraft.text.dedup import dedup_pages_keep_first

    t0 = dt.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [("https://u", t0, "same body"),
         ("https://u", t0 + dt.timedelta(days=1), "same body"),  # re-crawl
         ("https://v", t0, "other body"),
         ("https://w1", t0, None),
         ("https://w2", t0, None)],
        "url string, warc_ts timestamp, text string",
    )
    out = dedup_pages_keep_first(pages).collect()
    urls = sorted(r.url for r in out)
    assert urls == ["https://u", "https://v", "https://w1", "https://w2"]
    kept_u = [r for r in out if r.url == "https://u"][0]
    assert kept_u.warc_ts == t0  # deterministic keeper: first by order
