"""Smoke test of the benchmark at toy size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload of BENCHMARK.json on tiny inputs (sf0.001 tables,
a tiny base extract and delta stream), untraced and traced, and checks
that each run prints every metric BENCHMARK.json names, that no
operation failed, and that no process of the run outlives it. Takes
about three minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
    ]
    if cwd == ROOT:
        cmd.append("--toy")
    return subprocess.run(
        cmd, cwd=cwd, capture_output=True, text=True, timeout=600, check=False
    )


def _leftovers(cwd: str) -> list[int]:
    """Pids of live processes whose environment names ``cwd``'s work
    directory, as the run's JVM and Python workers do."""
    mark = os.path.join(cwd, ".perfbench_work").encode()
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) == os.getpid():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as fh:
                if mark in fh.read():
                    out.append(int(entry))
        except OSError:
            continue
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert _leftovers(ROOT) == []
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    names = [m["name"] for m in BENCH["per_layer" if trace else "end_to_end"]]
    assert set(result["metrics"]) == set(names)
    for m in BENCH["per_layer" if trace else "end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(result["metrics"][n]["value"] > 0 for n in names)


def test_stops_every_process_it_started():
    """The clean-up every run ends with waits for, and if need be kills,
    every process below the run, orphans of its children included."""
    marker = "perfbench-orphan-check"
    code = (
        "import subprocess, time, run\n"
        "run.adopt_orphans()\n"
        "subprocess.Popen(['bash', '-c', "
        f"'(exec -a {marker} sleep 300 &); exec -a {marker} sleep 300'])\n"
        "time.sleep(1)\n"
        "run.stop_processes(grace_s=1)\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=HERE, check=True, timeout=120)
    left = []
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                if fh.read().startswith(marker.encode()):
                    left.append(entry)
        except OSError:
            continue
    assert left == []


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(
            os.path.join(ROOT, p),
            tmp_path / p,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = _run(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
