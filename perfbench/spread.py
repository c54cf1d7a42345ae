#!/usr/bin/env python3
"""Run one workload once per seed and summarise each end-to-end metric.

    python3 perfbench/spread.py --workload etl_deltas --seeds 1-10

Run from the root of a checkout. Runs ``perfbench/run.py`` untraced,
one seed after the other, and prints one JSON object: per metric the
median, the quartiles (``statistics.quantiles(values, n=4)``) and the
spread (quartile distance over median), plus each run's wall time and
the host CPU steal during its timed part, as a share of the machine's
CPU time. The spread of ten seeds is what a comparison of two versions
has to beat.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {
        "median": q2,
        "q1": q1,
        "q3": q3,
        "iqr_over_median": (q3 - q1) / q2,
        "n": len(values),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--seconds", default="15")
    args = ap.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=False,
        )
        took = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        path = os.path.join(
            ROOT, ".perfbench_work", "out", f"{args.workload}-seed{seed}-trace0.json"
        )
        with open(path) as fh:
            detail = json.load(fh)
        steal = detail["extras"]["host_steal_s"] / (
            detail["measured_s"] * len(os.sched_getaffinity(0))
        )
        run = {"seed": seed, "run_s": took, "host_steal_pct": 100 * steal}
        run.update({k: m["value"] for k, m in result["metrics"].items()})
        runs.append(run)
        print(json.dumps(run), file=sys.stderr, flush=True)

    names = [k for k in runs[0] if k not in ("seed", "run_s", "host_steal_pct")]
    print(json.dumps({
        "workload": args.workload,
        "metrics": {k: summary([r[k] for r in runs]) for k in names},
        "runs": runs,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
