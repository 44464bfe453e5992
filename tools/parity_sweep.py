"""Cross-engine parity sweep: every oracle-paired queries() entry is run on
Spark AND DuckDB at an arbitrary scale dir (default sf0.1 — 10x the
driver's sf0.01 gate, which activates hot-bucket caps, banding paths, and
rounding-boundary exposure small data never reaches) and compared with the
driver's canonicalisation (column sort, 6-dp float round, order-insensitive
row hash). On a mismatch both sides' first rows are printed.

Usage: python tools/parity_sweep.py [sf_dir] [name ...] [--json out.json]
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        elif str(df[c].dtype) in ("Int64", "int32", "uint64") or str(
            df[c].dtype
        ).startswith("int"):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per registry table in ``sf_dir``."""
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'"
        )
    return con


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    from osmgraft.session import get_spark

    spark = get_spark("parity_sweep")
    import __spark_entry__ as entry

    con = duck_views(sf_dir)
    qs, osql = entry.queries(), entry.oracle_sql()
    only = set(argv[1:])  # optional name filter: sweep only these
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    n_match = n_fail = n_rows_only = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            print(f"{name:32s} SPARK-ERROR {exc}", flush=True)
            n_fail += 1
            results[name] = {"status": "SPARK-ERROR", "err": str(exc)[:200]}
            continue
        if name not in osql:
            n_rows_only += 1
            print(
                f"{name:32s} rows-only   rows={len(sdf):7d} "
                f"{time.perf_counter() - t0:5.1f}s",
                flush=True,
            )
            results[name] = {"status": "rows-only", "rows": len(sdf)}
            continue
        try:
            ddf = con.sql(osql[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:32s} DUCK-ERROR {exc}", flush=True)
            n_fail += 1
            results[name] = {"status": "DUCK-ERROR", "err": str(exc)[:200]}
            continue
        s, d = canon(sdf), canon(ddf)
        # flag IEEE -0.0 in either engine's output: equal by == but
        # hash-different under the driver's value-hash compare
        import numpy as np

        for side, df in (("spark", s), ("duck", d)):
            for c in df.columns:
                if str(df[c].dtype).startswith("float"):
                    vals = df[c].to_numpy()
                    nz = int((np.signbit(vals) & (vals == 0)).sum())
                    if nz:
                        print(f"  NEG-ZERO {name}.{c} [{side}] x{nz}", flush=True)
        ok = bool(
            s.shape == d.shape
            and list(s.columns) == list(d.columns)
            and pd.util.hash_pandas_object(s).sum()
            == pd.util.hash_pandas_object(d).sum()
        )
        n_match += ok
        n_fail += not ok
        print(
            f"{name:32s} {'MATCH' if ok else '*** MISMATCH ***':16s} "
            f"rows={len(s):7d} {time.perf_counter() - t0:5.1f}s",
            flush=True,
        )
        if not ok:
            print("spark:\n" + s.head(12).to_string(), flush=True)
            print("duck:\n" + d.head(12).to_string(), flush=True)
        results[name] = {
            "status": "MATCH" if ok else "MISMATCH",
            "rows": len(s),
            "sec": round(time.perf_counter() - t0, 2),
        }
    print(
        f"\nSWEEP {sf_dir}: {n_match} MATCH, {n_rows_only} rows-only, "
        f"{n_fail} FAIL",
        flush=True,
    )
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_match": n_match,
                    "n_rows_only": n_rows_only,
                    "n_fail": n_fail,
                    "results": results,
                },
                fh,
                indent=1,
                sort_keys=True,
                default=int,
            )
        print(f"wrote {json_out}", flush=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
