"""Engine-only timing: run named queries() entries on Spark ONLY (no
DuckDB oracle), warmed best-of-N — the harness the round-4 perf passes
used to separate engine cost from the parity sweep's combined
Spark+DuckDB `sec` fields.

Usage: python tools/engine_time.py name [name ...] [--sf DIR] [--n N]
       python tools/engine_time.py --all [--sf DIR]   # cold one-shot sweep
"""
from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    args = list(sys.argv[1:])
    sf_dir = "/root/testdata/sf0.1"
    n = 3
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    if "--n" in args:
        i = args.index("--n")
        n = int(args[i + 1])
        del args[i : i + 2]
    run_all = "--all" in args
    if run_all:
        args.remove("--all")

    from osmgraft.session import get_spark

    spark = get_spark("engine_time")
    import __spark_entry__ as entry

    qs = entry.queries()
    # Representative session warmup (mirrors bench.py): the first heavy
    # query in a session otherwise absorbs a ~4-5 s data-independent
    # floor (JVM C2 JIT of window/HOF/agg paths, Arrow + Python-worker
    # spin-up) — r04's sweep recorded dup_span_stats at 9.4 s purely
    # because it ran FIRST; the same code mid-sweep reads ~2 s.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = spark.range(200_000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
    )
    w = Window.partitionBy("k").orderBy("v")
    warm = (
        base.withColumn("arr", F.expr(
            "transform(sequence(0, 3), i -> concat('w', v + i))"))
        .withColumn("r", F.row_number().over(w))
        .withColumn("s", F.sum("v").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("k").agg(F.count("*").alias("n"), F.min("s").alias("m"))
    )
    warm.join(base.groupBy("k").agg(F.max("v").alias("mx")), "k").collect()

    def _warm_fn(it):
        import numpy as np
        import pandas as pd
        for pdf in it:
            yield pd.DataFrame({"x": np.sqrt(pdf["id"].to_numpy())})

    spark.range(10_000).mapInPandas(_warm_fn, "x double").count()

    if run_all:
        out = {}
        for name, fn in qs.items():
            t0 = time.perf_counter()
            # collect(), NOT count(): under count() Catalyst eliminates
            # final sorts and unique-key left joins (EliminateSorts /
            # join elimination), so count() times a pruned plan — e.g.
            # dup_span_stats reads 0.97 s under count() vs 2.0 s for the
            # real collected plan. collect() matches what the driver and
            # parity harness actually execute; results are small.
            rows = len(fn(spark, sf_dir).collect())
            out[name] = {"sec": round(time.perf_counter() - t0, 3),
                         "rows": rows}
        for name, v in sorted(out.items(), key=lambda kv: -kv[1]["sec"]):
            print(f"{v['sec']:8.2f}  {name}")
        with open("engine_sweep.json", "w") as f:
            json.dump(out, f)
        return 0
    for name in args:
        best, rows = None, 0
        for _ in range(n):
            t0 = time.perf_counter()
            rows = len(qs[name](spark, sf_dir).collect())
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        print(f"{name}: best {best:.2f}s rows={rows}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
