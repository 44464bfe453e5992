"""Per-stage lineage/metrics capture (north rule: "every stage writes
per-partition lineage and row-count metrics").

Collectors:
- `collect_stage_metrics`: per-partition row counts via spark_partition_id
  (one extra pass; the single lineage source — StageRunner manifests call
  it directly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def collect_stage_metrics(df: DataFrame) -> dict:
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition"))
        .count()
        .orderBy("partition")
        .collect()
    )
    parts = [{"partition": r["partition"], "rows": r["count"]} for r in rows]
    return {
        "partitions": parts,
        "total_rows": sum(p["rows"] for p in parts),
        "n_partitions": len(parts),
        "max_partition_rows": max((p["rows"] for p in parts), default=0),
        "skew_ratio": round(
            max((p["rows"] for p in parts), default=0)
            / max(1.0, (sum(p["rows"] for p in parts) / max(1, len(parts)))),
            2,
        ),
    }

