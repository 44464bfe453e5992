"""Spans recorded in the benchmark's own code, and Spark's own counts.

A span wraps one call into a module's public function. While it is open
the Spark job group is the span's name, so every Spark job the call starts
is attributed to it in the event log. A span's self time is its duration
minus the time its child spans cover.

Lazy layers (a call that returns a DataFrame without running a job) do
their work later, inside whatever action consumes them. For those the
tracer keeps each call's output and inputs, and `probe_self_times`
measures them after the workload: the wall time to compute the output
once, minus that of its slowest input, each on its own (a no-op write).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        # lazy-layer outputs: span name -> [(output df, [input dfs])]
        self.lazy: dict[str, list] = defaultdict(list)
        # wall time spent in the tracer's own bookkeeping (job group calls
        # into the JVM, span records): what tracing adds to a traced run
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        sc = _active_sc()
        prev = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setJobGroup(name, name)
        idx = len(self.spans)
        self.spans.append({
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        })
        self._stack.append(idx)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self._stack.pop()
            self.spans[idx]["end"] = time.time()
            sc = _active_sc()
            if sc:
                sc.setLocalProperty("spark.jobGroup.id", prev)
                sc.setLocalProperty("spark.job.description", prev)
            self.overhead_s += time.perf_counter() - t0

    def wrap(self, owner, attr: str, name: str, lazy: bool = False) -> None:
        """Replace owner.attr (a module function, a method or a classmethod)
        by a version that runs inside span `name`. With lazy=True the
        DataFrame it returns is kept, with its DataFrame inputs, for probing."""
        from pyspark.sql import DataFrame

        saved = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        func = getattr(owner, attr)  # bound to the class for a classmethod

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = func(*args, **kwargs)
            if lazy and isinstance(out, DataFrame):
                t0 = time.perf_counter()
                ins = [a for a in (*args, *kwargs.values()) if isinstance(a, DataFrame)]
                self.lazy[name].append((out, ins))
                self.overhead_s += time.perf_counter() - t0
            return out

        setattr(owner, attr, staticmethod(wrapper) if isinstance(saved, classmethod) else wrapper)
        self._patched.append((owner, attr, saved))

    def unwrap_all(self) -> None:
        for owner, attr, saved in reversed(self._patched):
            setattr(owner, attr, saved)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if "end" in s:
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and "end" in s]

    def probe_self_times(self) -> dict[str, float]:
        """Per lazy layer: summed over its calls, the time to compute the
        call's output minus the time to compute its slowest input. Each
        probe runs in span (and job group) `probe.<producing layer>`."""
        producer = {id(df): name for name, calls in self.lazy.items() for df, _ in calls}
        cost: dict[int, float] = {}

        def probe(df) -> float:
            key = id(df)
            if key not in cost:
                with self.span("probe." + producer.get(key, "input")):
                    t0 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    cost[key] = time.perf_counter() - t0
            return cost[key]

        out: dict[str, float] = {}
        for name, calls in self.lazy.items():
            total = 0.0
            for df, ins in calls:
                base = max((probe(i) for i in ins), default=0.0)
                total += max(0.0, probe(df) - base)
            out[name] = total
        return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


class EventLog:
    """Spark's own counts, from an uncompressed, unrolled event log."""

    @classmethod
    def latest(cls, log_dir: str) -> "EventLog":
        """The newest application's log in `log_dir`."""
        files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        return cls(files[-1])

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.plans: dict[int, dict] = {}
        self.acc: dict[int, float] = defaultdict(float)
        with open(path) as fh:
            for line in fh:
                self._take(json.loads(line), stage_job)
        for t in self.tasks:
            t["job"] = stage_job.get(t["stage"])

    def _take(self, e: dict, stage_job: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "execution": int(ex) if ex is not None else None,
                "start": e["Submission Time"] / 1000.0,
            }
            for s in e["Stage IDs"]:
                stage_job.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            out = m.get("Output Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "bytes_written": out.get("Bytes Written", 0),
                "failed": bool(e["Task Info"].get("Failed")),
            })
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Metadata") == "sql" and a.get("Update") is not None:
                    self.acc[a["ID"]] += float(a["Update"])
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]  # last one is final
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, v in e["accumUpdates"]:
                self.acc[acc_id] += float(v)

    # -- selections --------------------------------------------------------

    def job_ids(self, groups=None, window=None) -> list[int]:
        """Jobs whose group is in `groups` (any when None) and, when
        `window=(t0, t1)` is given, that started inside it."""
        out = []
        for jid, j in self.jobs.items():
            if groups is not None and j["group"] not in groups:
                continue
            if window is not None and not (window[0] <= j["start"] <= window[1]):
                continue
            out.append(jid)
        return out

    def task_totals(self, job_ids) -> dict[str, float]:
        sel = set(job_ids)
        tot = defaultdict(float)
        for t in self.tasks:
            if t["job"] in sel:
                for k in ("run_s", "gc_s", "spill", "shuffle_write", "bytes_written"):
                    tot[k] += t[k]
                tot["failed"] += t["failed"]
        return tot

    def busy_seconds(self, job_ids, window) -> float:
        """Wall time inside `window` during which at least one of the jobs ran."""
        iv = sorted(
            (max(self.jobs[j]["start"], window[0]), min(self.jobs[j].get("end", window[1]), window[1]))
            for j in job_ids
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy

    def executions(self, job_ids) -> set[int]:
        return {self.jobs[j]["execution"] for j in job_ids
                if self.jobs[j]["execution"] is not None}

    def nodes(self, execution: int) -> list[dict]:
        out, todo = [], [self.plans[execution]] if execution in self.plans else []
        while todo:
            n = todo.pop()
            out.append(n)
            todo.extend(n.get("children", []))
        return out

    def metric(self, node: dict, name: str) -> float:
        for m in node.get("metrics", []):
            if m["name"] == name:
                return self.acc.get(m["accumulatorId"], 0.0)
        return 0.0
