"""Priority dedup-union (reference J1/U3).

The reference inserts polygon candidates first, then each lower-priority
source with `WHERE osm_id NOT IN (SELECT osm_id FROM <all higher>)`
(07_run_all_pipelines.sh:167-234, create_final_table.sql:72-116).

Semantics preserved exactly (SURVEY.md §7.3 items 2–3):
- dedup is **id-level**: one osm_id in polygon staging drops *all* point rows
  with that id; duplicate ids within one kind are all kept;
- osm_id is never NULL (a precondition: the window treats all NULL ids as
  one id, while `NOT IN` never matches a NULL).

One window pass replaces the cascade of anti-joins: each kind's rows are
tagged with the kind's priority index, and a row survives when its index is
`min(index) over (partition by osm_id)`, i.e. no higher-priority kind has
the id. The union is a metadata-only `unionByName`, so the candidate plans
run once and shuffle once; an anti-join cascade in the same fused plan would
recompute each higher-priority branch once for every lower kind.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def priority_dedup_union(staged: dict[str, DataFrame], order: list[str]) -> DataFrame:
    """staged: geom_kind → candidate DataFrame; order: highest priority first."""
    tagged = [staged[kind].withColumn("_prio", F.lit(i)) for i, kind in enumerate(order)]
    return (
        reduce(lambda a, b: a.unionByName(b), tagged)
        .withColumn("_first", F.min("_prio").over(Window.partitionBy("osm_id")))
        .where(F.col("_prio") == F.col("_first"))
        .drop("_prio", "_first")
    )


def assert_final_invariants(final: DataFrame) -> dict[str, int]:
    """CHECK-constraint equivalents (07_run_all_pipelines.sh:245-248 and
    test_aerospace_pipeline.sh:174-195). Returns violation counts; raises on
    any violation. One action: per-id violation counts, then one aggregate
    over the ids."""
    per_row = {
        "null_name": F.col("name").isNull(),
        "score_below_40": F.col("aerospace_score") < 40,
        "bad_tier": ~F.col("tier_classification").isin(
            "tier1_candidate", "tier2_candidate",
            "potential_candidate", "low_probability"),
        "null_coords": F.col("latitude").isNull() | F.col("longitude").isNull(),
    }
    per_id = final.groupBy("osm_id").agg(
        F.count("*").alias("n"),
        *(F.count_if(cond).alias(k) for k, cond in per_row.items()),
    )
    row = per_id.agg(
        *(F.coalesce(F.sum(k), F.lit(0)).alias(k) for k in per_row),
        F.count_if(F.col("n") > 1).alias("dup_osm_id"),
    ).first()
    checks = row.asDict()
    bad = {k: v for k, v in checks.items() if v > 0}
    if bad:
        raise AssertionError(f"final-table invariant violations: {bad}")
    return checks
