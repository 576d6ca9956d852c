"""Headline bench — one JSON line on stdout, taken from perfbench.

    python bench.py

Runs ``python3 perfbench/run.py --workload W`` (default seed and
seconds) for every workload in BENCHMARK.json and prints
{"metric": "perfbench_wall_s", "value": <sum of median wall_s>,
 "unit": "sec", "queries": {W: wall_s}, "cpus": N, "correct": bool}.
Exits 1 if any run exits non-zero or reports ``correct: false``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    walls, correct = {}, True
    for w in workloads:
        out = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"),
             "--workload", w],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        try:
            res = json.loads(out.stdout.strip().splitlines()[-1])
        except (IndexError, ValueError):
            res = {}
        wall = res.get("metrics", {}).get("wall_s", {}).get("value")
        walls[w] = wall
        correct = (correct and out.returncode == 0
                   and res.get("correct") is True and wall is not None)
    print(json.dumps({
        "metric": "perfbench_wall_s",
        "value": sum(v for v in walls.values() if v is not None),
        "unit": "sec",
        "queries": walls,
        "cpus": len(os.sched_getaffinity(0)),
        "correct": correct,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
