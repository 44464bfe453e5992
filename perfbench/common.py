"""Shared pieces: the Spark session, the RSS sampler, the contention canary
and the result line."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time

# Quiet-host canary time (`canary()`, median of the JIT-warm reps of
# Canary.java) on a 4-core x86 VM with light load: 0.09-0.11 s. A
# canary above QUIET_CANARY_S * CANARY_FLAG_FACTOR flags the run as contended.
QUIET_CANARY_S = 0.10
CANARY_FLAG_FACTOR = 1.5
CANARY_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "Canary.java")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, trace: bool, app: str):
    """The engine's own session factory (osmgraft.session.get_spark) on
    local[<cores>], with the Spark event log on when tracing."""
    from osmgraft.session import get_spark

    extra = {"spark.local.dir": os.path.join(work, "spark-local"),
             "spark.ui.showConsoleProgress": "false",
             # heap fixed at its maximum from the start: no resizing while
             # shots are timed, and the JVM's RSS settles early
             "spark.driver.extraJavaOptions": "-Xms" + os.environ["SPARK_DRIVER_MEM"]}
    if trace:
        extra.update(eventlog_conf(work))
    spark = get_spark(app_name=app, master=f"local[{cores()}]", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def eventlog_conf(work: str) -> dict[str, str]:
    d = os.path.join(work, "eventlog")
    os.makedirs(d, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + d,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def canary() -> float:
    """Fixed pure-JVM job in its own JVM (no Spark, no Python, no I/O): the
    median of its JIT-warm reps. Runs before and after each measured loop,
    so contention during the loop shows in the run's record."""
    out = subprocess.run(["java", CANARY_SRC], capture_output=True, text=True,
                         check=True, timeout=60).stdout
    reps = [float(v) for v in out.split()]
    return median(reps[2:])


def canary_record(times: list[float]) -> dict:
    worst = max(times)
    return {
        "canary_s": [round(t, 4) for t in times],
        "canary_quiet_ref_s": QUIET_CANARY_S,
        "contended": worst > QUIET_CANARY_S * CANARY_FLAG_FACTOR,
    }


class RssSampler:
    """Peak summed RSS of a process tree, sampled from /proc every 50 ms.

    For an in-process workload `root` is this benchmark and is left out:
    its descendants are the JVM and its Python workers. For a submitted
    job `root` is the spark-submit process and counts too. Canary JVMs
    are not the system under test and are left out."""

    def __init__(self, root: int | None = None, include_root: bool = False,
                 period: float = 0.05):
        self.root = root or os.getpid()
        self.include_root = include_root
        self.period = period
        self.peak_bytes = 0
        self.peak_parts: dict[str, list] = {}  # name -> [processes, MB] at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._canary: dict[int, bool] = {}

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _tree_rss(self) -> tuple[int, dict[str, list]]:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        name: dict[int, str] = {}
        space: dict[int, tuple] = {}  # (vsize, startstack): the address space
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    head, tail = fh.read().rsplit(")", 1)
                fields = tail.split()
            except OSError:
                continue  # the process ended while we listed it
            pid = int(d)
            parent[pid] = int(fields[1])
            rss[pid] = int(fields[21]) * self._page
            name[pid] = head.split("(", 1)[1]
            space[pid] = (fields[20], fields[25])
        total, parts = 0, {}
        for pid, size in rss.items():
            p = parent.get(pid)
            while p and p != self.root:
                p = parent.get(p)
            in_tree = p == self.root and pid != self.root
            if not (in_tree or (self.include_root and pid == self.root)):
                continue
            if self._is_canary(pid) or _vfork_child(pid, parent[pid], space, name):
                continue
            total += size
            n, mb = parts.get(name[pid], (0, 0.0))
            parts[name[pid]] = [n + 1, mb + size / 2**20]
        return total, parts

    def _is_canary(self, pid: int) -> bool:
        if pid not in self._canary:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    self._canary[pid] = CANARY_SRC.encode() in fh.read()
            except OSError:
                return False
        return self._canary[pid]

    def _run(self) -> None:
        while not self._stop.is_set():
            total, parts = self._tree_rss()
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_parts = total, parts
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def _vfork_child(pid: int, ppid: int, space: dict, name: dict) -> bool:
    """A JVM launching a Python worker vforks a child that, until it execs,
    runs in the JVM's own address space under the calling thread's name;
    its RSS is the JVM's, counted once already. (A forked Python worker
    also starts with its parent's layout, but keeps its parent's name.)"""
    return space[pid] == space.get(ppid) and name[pid] != name.get(ppid)


def timed_setups(fn, reps: int) -> list[float]:
    """Run a repeatable set-up step `reps` times; return each wall time."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return out


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple]) -> None:
    """Print the result as the last stdout line."""
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
