"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload once at the tiny input size with tracing on (one
untraced and one traced sample each) and asserts that every
end-to-end metric that applies to the workload is printed with its
unit and sample count, that failed_ratio is 0, and that the last line
is the result JSON with every per-layer metric of BENCHMARK.json.
Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

APPLIES = {
    "geo_job": {"setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s",
                "peak_rss_mb": "MB", "failed_ratio": "1"},
    "curate_job": {"setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s",
                   "peak_rss_mb": "MB", "failed_ratio": "1"},
    "operators": {"setup_s": "s", "wall_s": "s", "query_p50_s": "s",
                  "queries_per_s": "queries/s", "peak_rss_mb": "MB",
                  "failed_ratio": "1"},
}
ALL_E2E = ("setup_s", "wall_s", "docs_per_s", "query_p50_s",
           "queries_per_s", "peak_rss_mb", "failed_ratio")


def check_workload(workload: str, per_layer: list[str]) -> None:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--scale", "tiny", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0:
        raise AssertionError(f"{workload}: exit {proc.returncode}\n"
                             + "\n".join(lines[-20:]))
    table = {}
    for line in lines:
        m = re.match(r"^  (\w+)\s+(\S+)(?:\s+(\S+)\s+n=(\d+))?$", line)
        if m and m.group(1) in ALL_E2E:
            table[m.group(1)] = m.groups()[1:]
    for name in ALL_E2E:
        if name not in table:
            raise AssertionError(f"{workload}: {name} not printed")
        value, unit, n = table[name]
        if name in APPLIES[workload]:
            if unit != APPLIES[workload][name] or int(n) < 1:
                raise AssertionError(f"{workload}: {name} printed as "
                                     f"{table[name]}")
        elif value != "n/a":
            raise AssertionError(f"{workload}: {name} should be n/a")
    if float(table["failed_ratio"][0]) != 0.0:
        raise AssertionError(f"{workload}: failed_ratio is not 0")
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"] != 0:
        raise AssertionError(f"{workload}: result {result}")
    missing = sorted(set(per_layer) - set(result["metrics"]))
    if missing:
        raise AssertionError(f"{workload}: per-layer metrics missing "
                             f"{missing}")
    print(f"smoke {workload}: ok ({len(result['metrics'])} per-layer "
          f"metrics)")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    per_layer = [m["name"] for m in bench["per_layer"]]
    for w in bench["workloads"]:
        check_workload(w["name"], per_layer)
    return 0


if __name__ == "__main__":
    sys.exit(main())
