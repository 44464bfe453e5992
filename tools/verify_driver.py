"""Verify-skill driver-surface check: vanilla SparkSession (no Arrow, 8
shuffle partitions — the harness's conditions), entry() smoke, then a
driver-style DuckDB compare at sf0.01 for the names given on argv.

Usage: python tools/verify_driver.py name1 [name2 ...]
"""
from __future__ import annotations

import sys

sys.path.insert(0, ".")

import pandas as pd
from pyspark.sql import SparkSession

from tools.parity_sweep import canon, duck_views


def main() -> int:
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    import __spark_entry__ as E

    rows = E.entry(spark).collect()
    print(f"entry rows: {len(rows)}")
    assert len(rows) > 0
    qs, osql = E.queries(), E.oracle_sql()
    print(f"registry: {len(qs)} oracles: {len(osql)}")
    con = duck_views("/root/testdata/sf0.01")
    fail = 0
    for name in sys.argv[1:]:
        s = canon(qs[name](spark, "/root/testdata/sf0.01").toPandas())
        if name not in osql:
            print(f"{name}: rows-only rows={len(s)}")
            continue
        d = canon(con.sql(osql[name]).df())
        ok = (
            s.shape == d.shape
            and list(s.columns) == list(d.columns)
            and pd.util.hash_pandas_object(s).sum()
            == pd.util.hash_pandas_object(d).sum()
        )
        print(f"{name}: {'MATCH' if ok else 'MISMATCH'} rows={len(s)}")
        fail += not ok
    return fail


if __name__ == "__main__":
    raise SystemExit(main())
