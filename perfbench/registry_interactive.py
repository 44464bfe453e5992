"""The registry mix: one client in a closed loop over a fixed query list.

A pass runs MIX through `__spark_entry__.queries()`, one query at a time:
build the DataFrame, then collect it (`toPandas`). A query's latency is
build plus execute. Each result is checked after the query, outside its
timing, against the repo's DuckDB oracle (`__spark_entry__.oracle_sql()`,
compared with `tools/parity_sweep.canon`), computed once in set-up.

`run` is the standalone `registry_interactive` workload. It is not in
BENCHMARK.json: a warm pass costs ~15 s after a ~30 s cold one, which the
benchmark's time budget cannot pay on every run. The pip_coastline traced
run calls `trace_mix` instead, so the per-query layer metrics are still
measured, on one pass, on every traced pip_coastline run.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import nullcontext

import common
import gen

MIX = (
    "scored_documents", "yaml_scored_documents", "pip_tile_counts", "knn_pois",
    "hex_cell_counts", "s2_cell_counts", "minhash_lsh_pairs", "dedup_clusters",
    "kcenter_coreset", "ann_ivf_top10",
)
# rows of (documents, events, embeddings): the sf0.01 shapes of TESTDATA.md
SCALES = {"full": (500, 10_000, 500), "tiny": (120, 1_500, 120)}


class Mix:
    """Tables, queries and expected results for one session."""

    def __init__(self, ctx, spark):
        sys.path.insert(0, os.path.join(ctx.root, "tools"))
        import __spark_entry__ as entry

        self.ctx, self.spark = ctx, spark
        self.data = os.path.join(ctx.work, "sf")
        self.qs = entry.queries()
        self.osql = entry.oracle_sql()
        self.expected: dict[str, tuple] = {}
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def write_tables(self) -> dict:
        return gen.write_registry_tables(self.data, self.ctx.seed, *SCALES[self.ctx.scale])

    @staticmethod
    def digest(df) -> tuple:
        import pandas as pd
        from parity_sweep import canon

        c = canon(df)
        return c.shape, list(c.columns), int(pd.util.hash_pandas_object(c).sum())

    def warm(self) -> float:
        """One unchecked pass, then the expected results (`expect`), with
        this pass's result as the reference of a query without an oracle.
        Returns the pass's wall time."""
        t0 = time.perf_counter()
        first = {q: self.query(q, None)[0] for q in MIX}
        warm_s = time.perf_counter() - t0
        self.expect(first)
        return warm_s

    def expect(self, reference: dict) -> None:
        """Expected results: the DuckDB oracle, or for a query without one
        (minhash_lsh_pairs) `reference[query]`, which every checked pass
        must reproduce."""
        import duckdb

        con = duckdb.connect()
        for tbl in ("documents", "events", "embeddings"):
            con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{self.data}/{tbl}.parquet'")
        self.expected = {q: self.digest(con.sql(self.osql[q]).df()) if q in self.osql
                         else self.digest(reference[q]) for q in MIX}

    def query(self, name: str, tracer):
        def sp(part):
            return tracer.span(f"registry.{name}.{part}") if tracer else nullcontext()

        t0 = time.perf_counter()
        with sp("build"):
            df = self.qs[name](self.spark, self.data)
        t1 = time.perf_counter()
        with sp("exec"):
            pdf = df.toPandas()
        return pdf, t1 - t0, time.perf_counter() - t1

    def run_pass(self, tracer=None) -> list[float]:
        """One checked pass; returns each successful query's latency."""
        from osmgraft.runtime.cut import release_cuts

        lat = []
        with tracer.span("mix") if tracer else nullcontext():
            for q in MIX:
                self.attempted += 1
                try:
                    pdf, b, e = self.query(q, tracer)
                except Exception as exc:  # noqa: BLE001 - count it, keep going
                    self._fail(f"{q}: {exc!r}"[:300])
                    continue
                lat.append(b + e)
                if self.digest(pdf) != self.expected[q]:
                    self._fail(f"{q}: result differs from the oracle")
                release_cuts()
        return lat

    def _fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)
        self.ctx.log(why)


def trace_mix(ctx, spark, tracer) -> Mix:
    """Tables, then one traced pass, run after the pip shots have warmed the
    session but without a warm pass of its own (the time budget has no room
    for one). A query without an oracle runs once first, and the traced
    pass must reproduce that result. The spans are read by `layers` once
    the event log is flushed."""
    from osmgraft.geo import pip as pip_mod

    mix = Mix(ctx, spark)
    mix.write_tables()
    no_oracle = [q for q in MIX if q not in mix.osql]
    mix.expect({q: mix.query(q, None)[0] for q in no_oracle})
    tracer.wrap(pip_mod.PipIndex, "build", "geo.pip.index_build")
    try:
        mix.run_pass(tracer)
    finally:
        tracer.unwrap_all()
    return mix


def layers(tracer, ev) -> dict:
    """registry.<query>.{build_s, exec_s, jobs} from the traced passes."""
    out = {}
    n = len(tracer.durations("mix"))
    for q in MIX:
        parts = [s for s in tracer.spans
                 if s["name"] in (f"registry.{q}.build", f"registry.{q}.exec")]
        out[f"registry.{q}.build_s"] = common.median(tracer.durations(f"registry.{q}.build"))
        out[f"registry.{q}.exec_s"] = common.median(tracer.durations(f"registry.{q}.exec"))
        out[f"registry.{q}.jobs"] = len(
            {j for s in parts for j in ev.job_ids(window=(s["start"], s["end"]))}) / n
    return out


def run(ctx) -> dict:
    """The standalone workload: warm pass in set-up, then passes until
    --seconds have passed. job_s is one pass, query_p50_s one query."""
    with common.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = common.start_spark(ctx.work, False, "perfbench-registry")
        session_s = time.perf_counter() - t0
        mix = Mix(ctx, spark)
        state = {}
        rounds = common.timed_setups(lambda: state.update(gen=mix.write_tables()), 3)
        warm_s = mix.warm()
        canaries = [common.canary()]
        passes, latencies = [], []
        deadline = time.perf_counter() + ctx.seconds
        while not passes or time.perf_counter() < deadline:
            lat = mix.run_pass()
            passes.append(sum(lat))
            latencies += lat
        peak_mb = rss.peak_mb
    canaries.append(common.canary())
    spark.stop()
    return {
        "attempted": mix.attempted, "failed": mix.failed,
        "artifact": {
            "why": "interactive use at small scale: driver fixed cost (build, "
                   "eager cuts and collects, planning) dominates",
            "generator": state["gen"], "setup_rounds_s": rounds,
            "session_start_s": session_s, "warmup_s": warm_s, "passes_s": passes,
            "failures": mix.failures, **common.canary_record(canaries),
        },
        "e2e": {"setup_s": session_s + common.median(rounds) + warm_s,
                "job_s": common.median(passes),
                "query_p50_s": common.median(latencies), "peak_rss_mb": peak_mb},
    }
