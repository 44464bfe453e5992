"""The one materialization cut (osmgraft/runtime/cut.py).

``cut`` takes a reliable checkpoint when the session has a checkpoint
dir and a local checkpoint otherwise. Both kinds must give the same
rows and truncate lineage, and the reliable kind must write under the
dir. A source scan keeps every other materialization out of osmgraft/;
three more keep geo/ to one form: cell ids as SQL text, and geometry
and S2 math with no Python UDF.

The queries exercised are real cut consumers: dup_span_stats (gram
stream read by an agg and a join-back), dedup_clusters (iterative
min-contraction CC, one cut per round) and pip_tile_counts (the PIP
cell-map spine read by a broadcast join).
"""

from __future__ import annotations

import contextlib
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from osmgraft import contract as C
from osmgraft import contract_corpus  # noqa: F401  (registers dup_span_stats)
from osmgraft import contract_text  # noqa: F401  (registers dedup_clusters)
from osmgraft.runtime.cut import cut

SF = "/root/testdata/sf0.001"
QUERIES = ("dup_span_stats", "dedup_clusters", "pip_tile_counts")
OSMGRAFT = Path(__file__).resolve().parents[1] / "osmgraft"


def _rows(spark, name):
    return sorted(map(tuple, C.QUERIES[name](spark, SF).collect()))


@contextlib.contextmanager
def _checkpoint_dir(spark, path):
    """Give the shared session a checkpoint dir, then take it away: a dir
    left set would put every later test on the reliable path."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(path))
    try:
        yield
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc._jsc.sc().getCheckpointDir().isEmpty()


@pytest.mark.parametrize("name", QUERIES, ids=[f"{q}-reliable" for q in QUERIES])
def test_cut_modes_agree_with_local(spark, tmp_path, name):
    local = _rows(spark, name)
    assert local  # non-trivial fixture
    with _checkpoint_dir(spark, tmp_path):
        assert _rows(spark, name) == local


def test_both_cut_kinds_truncate_lineage(spark, tmp_path):
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    kinds = {"local": cut(df)}
    with _checkpoint_dir(spark, tmp_path):
        kinds["reliable"] = cut(df)
    for kind, out in kinds.items():
        plan = out._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LogicalRDD", kind
        assert sorted(out.collect()) == sorted(df.collect()), kind


def test_reliable_cut_writes_under_checkpoint_dir(spark, tmp_path):
    df = spark.range(100).withColumn("sq", F.col("id") * F.col("id"))
    ck = tmp_path / "ck"
    with _checkpoint_dir(spark, ck):
        kept = cut(df)  # held, so the context cleaner keeps its files
    written = {p for p in ck.rglob("*") if p.is_file()}
    assert written
    cut(df)  # no dir any more: a local cut, nothing new on disk
    assert {p for p in ck.rglob("*") if p.is_file()} == written
    assert kept.count() == 100


def test_cut_is_the_only_materialization():
    pattern = re.compile(r"localCheckpoint\(|\.checkpoint\(|\.persist\(|\.cache\(")
    hits = [
        f"{path.relative_to(OSMGRAFT)}:{n}"
        for path in sorted(OSMGRAFT.rglob("*.py"))
        if path != OSMGRAFT / "runtime" / "cut.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == [], "materialize through osmgraft.runtime.cut.cut"


def test_geo_cell_ids_have_no_column_backend():
    """Cell ids are SQL text (one emitter per index, parsed by Spark and
    embedded by the DuckDB oracles); a Column bit-op builder under geo/
    would be a second backend for the same formula."""
    pattern = re.compile(r"F\.shiftleft|F\.shiftright|\.bitwiseOR|\.bitwiseAND")
    hits = [
        f"{path.relative_to(OSMGRAFT)}:{n}"
        for path in sorted((OSMGRAFT / "geo").rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == [], "emit cell-id bit arithmetic as SQL text"


def test_geometry_has_no_python_udf():
    """Planar geometry math is SQL over coordinate arrays; a pandas UDF in
    geo/geometry.py would be a second form of the same kernels."""
    text = (OSMGRAFT / "geo" / "geometry.py").read_text()
    assert "pandas_udf" not in text and "import pandas" not in text


def test_s2_has_no_python_udf():
    """S2 cells and cell corners are SQL steps that Spark and the DuckDB
    oracles both run; a pandas UDF in geo/s2.py would be a second form."""
    text = (OSMGRAFT / "geo" / "s2.py").read_text()
    assert "pandas_udf" not in text and "import pandas" not in text
