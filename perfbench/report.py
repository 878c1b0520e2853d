"""Print every end-to-end metric, by name and unit, for each workload
in BENCHMARK.json.

    python3 perfbench/report.py [--seed N] [--trace 0|1]

Runs `run.py` once per workload (fresh process each) with the
benchmark's `run_seconds` and prints one line per metric.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    status = 0
    for w in bench["workloads"]:
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
             "--seed", str(a.seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"{w['name']}: failed (exit {r.returncode})")
            status = 1
            continue
        res = json.loads(lines[-1])
        print(f"{w['name']}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}")
        for name, m in res["metrics"].items():
            print(f"  {name:32s} {m['value']:14.4f} {m['unit']}")
    return status


if __name__ == "__main__":
    sys.exit(main())
