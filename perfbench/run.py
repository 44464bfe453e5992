#!/usr/bin/env python3
"""osmgraft benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from --seed under
.perfbench_work/ in the checkout; nothing is downloaded. The last stdout
line is one JSON object {correct, attempted, failed, metrics}: with
--trace 0 the end-to-end metrics, with --trace 1 the per-layer ones. A
fuller record of the run (generator properties, canary times, every shot)
goes to .perfbench_work/artifacts/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("pipeline_e2e", "pip_coastline", "registry_interactive")
REQUIRED = ("BENCHMARK.json", "osmgraft/__init__.py", "__spark_entry__.py", "bench.py",
            "jobs/run_pipeline.py", "jobs/package.py", "tools/parity_sweep.py")
PR_SET_CHILD_SUBREAPER = 36
STOP_TIMEOUT_S = 30.0


class Ctx:
    def __init__(self, args, work: Path, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scale = args.scale
        self.root = str(ROOT)
        self.work = str(work)
        self.tracer = tracer

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke test only")
    args = ap.parse_args()
    # a kill from outside still runs the `finally` that stops every process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    adopt_orphans()

    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not an osmgraft checkout, missing {missing}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Spark's default driver heap, the one spark-submit gives the pipeline job
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    sys.path[:0] = [str(ROOT), str(HERE)]

    import common
    import pip_coastline
    import pipeline_e2e
    import registry_interactive
    from spans import Tracer

    module = {"pipeline_e2e": pipeline_e2e, "pip_coastline": pip_coastline,
              "registry_interactive": registry_interactive}[args.workload]
    ctx = Ctx(args, work, Tracer() if args.trace else None)
    t0 = time.time()
    try:
        res = module.run(ctx)
    finally:
        stop_everything()
    art_dir = ROOT / ".perfbench_work" / "artifacts"
    art_dir.mkdir(exist_ok=True)
    art = art_dir / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    art.write_text(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "cores": common.cores(),
        "wall_s": time.time() - t0, "attempted": res["attempted"],
        "failed": res["failed"], **res["artifact"],
        "e2e": res["e2e"], "layers": res.get("layers"),
    }, indent=1, default=float))
    shutil.rmtree(work, ignore_errors=True)
    print(f"artifact: {art.relative_to(ROOT)}", flush=True)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layers"] if args.trace else res["e2e"]
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a layer this workload does not exercise reads 0
    metrics = {m["name"]: (float(values.get(m["name"], 0.0)), m["unit"]) for m in wanted}
    common.emit(res["failed"] == 0, res["attempted"], res["failed"], metrics)
    return 0


def adopt_orphans() -> None:
    """Become the reaper of every descendant whose parent ends first (the
    Python workers of a Spark JVM, what a submitted job leaves behind), so
    that `stop_everything` finds and waits for all of them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: direct children are still stopped


def stop_everything() -> None:
    """Stop the in-process Spark session and its JVM, then every other
    process this run started, and wait until each has ended."""
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    if SparkContext is not None and SparkContext._gateway is not None:
        if SparkContext._active_spark_context is not None:
            try:
                SparkContext._active_spark_context.stop()
            except Exception:  # noqa: BLE001 - the JVM is stopped below anyway
                pass
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin ends
            try:
                proc.wait(STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + STOP_TIMEOUT_S
    signalled: set[int] = set()
    while True:
        _reap()
        left = _descendants()
        if not left:
            return
        late = time.monotonic() > deadline
        for pid in left:
            if late or pid not in signalled:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _descendants() -> list[int]:
    """Live (not zombie) processes below this one, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        if state != "Z":
            parent[int(d)] = int(ppid)
    me, out = os.getpid(), []
    for pid in parent:
        p = parent[pid]
        while p and p != me:
            p = parent.get(p)
        if p == me:
            out.append(pid)
    return out


if __name__ == "__main__":
    sys.exit(main())
