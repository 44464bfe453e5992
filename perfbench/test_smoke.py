"""Tiny-scale smoke test of the benchmark.

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs at --scale tiny with tracing off and on; every output
check passes and the result line names exactly the metrics BENCHMARK.json
lists. Also: a loaded host flags the canary, and the benchmark refuses to
run (non-zero exit, no result line) without the program beside it.
Takes about six minutes on 4 cores.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(HERE))


LEFTOVER_MARKS = (b"org.apache.spark", b"pyspark.daemon", b"pyspark.worker", b"Canary.java")


def _spark_processes() -> list[str]:
    """Command lines of live Spark JVMs, Python workers and canaries."""
    out = []
    for d in Path("/proc").iterdir():
        try:
            cmd = (d / "cmdline").read_bytes()
        except OSError:
            continue
        if any(m in cmd for m in LEFTOVER_MARKS):
            out.append(cmd.replace(b"\0", b" ").decode(errors="replace")[:200])
    return out


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    before = _spark_processes()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    # the run waits for everything it started: nothing may be left, not even briefly
    assert _spark_processes() == before
    return p


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_checks_and_names_every_metric(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in wanted]
    for m in wanted:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_registry_interactive_runs_standalone():
    p = _run(ROOT, "registry_interactive", 0)
    assert p.returncode == 0, p.stderr[-3000:]
    assert json.loads(p.stdout.strip().splitlines()[-1])["failed"] == 0


def test_loaded_host_flags_the_canary():
    import common

    hogs = [subprocess.Popen([sys.executable, "-c", "while True: pass"])
            for _ in range(2 * common.cores())]
    try:
        rec = common.canary_record([common.canary()])
    finally:
        for h in hogs:
            h.kill()
            h.wait()
    assert rec["contended"], rec


def test_refuses_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, SPEC["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
