"""Benchmark runner for the asag_spark engine.

    python3 perfbench/run.py --workload {geo_job,curate_job,operators}
        [--seed N] [--seconds S] [--trace 0|1] [--scale full|tiny]

Run from the root of a checkout. Inputs are generated from the seed
(perfbench/prepare.py) and cached under .perfbench_cache/. Each timed
sample is a fresh Spark application on local[4] in its own process
with an empty workdir (perfbench/child.py), so nothing a previous
sample computed is reused. Samples run one after another (a closed
loop with one client) until the next would end after --seconds; at
least one always runs.

Every sample's outputs are checked: for the default seed against the
digests pinned in perfbench/pinned.json, for any other seed against
the first run of that seed in this checkout. A sample that raises or
whose outputs differ counts as failed, and the command exits 1.

The last line of stdout is one JSON object: with --trace 0 the
end-to-end metrics (medians over samples), with --trace 1 the
per-layer metrics of one traced sample, taken after an untraced one so
the tracing overhead can be reported. The lines before it list every
metric with its unit and sample count.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
PINNED = os.path.join(HERE, "pinned.json")
WORKLOADS = ("geo_job", "curate_job", "operators")
DEFAULT_SEED = 1
CHILD_TIMEOUT_S = 120
PAGE = os.sysconf("SC_PAGE_SIZE")
PR_SET_CHILD_SUBREAPER = 36
LIBC = ctypes.CDLL(None, use_errno=True)
SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
KCMP_VM = 1


def main() -> int:
    # The Spark JVM and its Python worker daemon outlive the process
    # that started them. As a subreaper this process adopts them, so
    # stop_descendants() can find, stop and wait for every one.
    LIBC.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return bench()
    finally:
        stop_descendants()


def bench() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "asag_spark", "session.py")):
        print(f"perfbench: no asag_spark package under {ROOT}", file=sys.stderr)
        return 2

    meta = prepare(args.workload, args.seed, args.scale)
    inputs = os.path.join(CACHE, f"{args.workload}-{args.scale}"
                                 f"-seed{args.seed}")
    expected = expected_outputs(args.workload, args.seed, args.scale, inputs)

    samples, failures = [], []
    t_begin = time.perf_counter()
    longest = 0.0
    while True:
        t0 = time.perf_counter()
        s = run_child(args.workload, inputs, len(samples))
        longest = max(longest, time.perf_counter() - t0)
        samples.append(s)
        failures.append(check(s, expected, args.workload))
        if expected is None and not failures[-1]:
            expected = record_first_run(inputs, s["outputs"])
        if time.perf_counter() - t_begin + longest > args.seconds:
            break
    traced = None
    if args.trace:
        traced = run_child(args.workload, inputs, len(samples), trace=True)
        failures.append(check(traced, expected, args.workload))
    ok = [s for s, bad in zip(samples, failures) if not bad]
    failed = sum(1 for bad in failures if bad)
    attempted = len(failures)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = end_to_end(args.workload, ok, failed, attempted)
    print_table(args, meta, e2e)
    if args.trace:
        metrics = per_layer(spec, args.workload, meta, traced, ok) \
            if ok and not failures[-1] else {}
        for name, m in metrics.items():
            print(f"  {name:48s} {m['value']:>14.4f} {m['unit']}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]]["value"],
                               "unit": m["unit"]}
                   for m in spec["end_to_end"] if m["name"] in e2e}
    print(json.dumps({"correct": failed == 0 and bool(ok),
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 and ok else 1


# -- inputs and checks --------------------------------------------------

def prepare(workload: str, seed: int, scale: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "prepare.py"), workload,
         str(seed), scale],
        cwd=ROOT, env=child_env(), stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, timeout=CHILD_TIMEOUT_S)
    stop_descendants()
    if out.returncode != 0:
        raise RuntimeError(f"input preparation failed:\n{out.stderr[-4000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def expected_outputs(workload, seed, scale, inputs) -> dict | None:
    if seed == DEFAULT_SEED:
        with open(PINNED) as f:
            pinned = json.load(f).get(scale, {}).get(workload)
        if pinned:
            return pinned
    path = os.path.join(inputs, "first_run_outputs.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


def record_first_run(inputs: str, outputs: dict) -> dict:
    with open(os.path.join(inputs, "first_run_outputs.json"), "w") as f:
        json.dump(outputs, f, indent=1, sort_keys=True)
    return outputs


def check(sample: dict, expected: dict | None, workload: str) -> bool:
    """True when the sample failed: it raised, or an output's row
    count or digest differs from the expected one."""
    if "error" in sample:
        print(f"perfbench: {workload} sample failed:\n{sample['error']}",
              file=sys.stderr)
        return True
    if expected is None:
        return False
    bad = sorted(k for k in set(expected) | set(sample["outputs"])
                 if expected.get(k) != sample["outputs"].get(k))
    for k in bad:
        print(f"perfbench: {workload} output {k}: expected "
              f"{expected.get(k)} got {sample['outputs'].get(k)}",
              file=sys.stderr)
    return bool(bad)


# -- one sample -----------------------------------------------------------

def child_env() -> dict:
    """Environment of every Spark process: 4 local cores, a bounded
    driver heap, no event log, scratch space inside the checkout."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": "4",
        "ASAG_DRIVER_MEM": "2g",
        "ASAG_WAREHOUSE": os.path.join(tmp, "warehouse"),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.eventLog.enabled=false pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
    })
    return env


def run_child(workload: str, inputs: str, i: int, trace: bool = False) -> dict:
    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    workdir = os.path.join(run_dir, f"wd{i}")
    out = os.path.join(run_dir, f"sample{i}.json")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(run_dir, exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", workload, "--inputs", inputs, "--workdir", workdir,
           "--out", out]
    span_file = None
    if trace:
        span_file = os.path.join(CACHE, "spans", f"{os.path.basename(inputs)}"
                                 f"-{int(time.time())}.json")
        os.makedirs(os.path.dirname(span_file), exist_ok=True)
        cmd += ["--trace-file", span_file]
    log = os.path.join(run_dir, f"sample{i}.log")
    t0 = time.time()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=ROOT,
                                env=child_env(), stdout=subprocess.DEVNULL,
                                stderr=err)
    peak, timed_out = 0, False
    try:
        deadline = time.perf_counter() + CHILD_TIMEOUT_S
        while proc.poll() is None:
            peak = max(peak, tree_rss(proc.pid))
            if time.perf_counter() > deadline:
                timed_out = True
                kill_tree(proc)
                break
            time.sleep(0.1)
    except BaseException:
        kill_tree(proc)
        raise
    stop_descendants()
    try:
        with open(out) as f:
            res = json.load(f)
    except (OSError, ValueError):
        with open(log) as f:
            tail = f.read()[-4000:]
        why = "timed out" if timed_out else f"exited {proc.returncode}"
        res = {"error": f"child {why}:\n{tail}"}
    res["peak_rss_mb"] = peak / 2 ** 20
    if span_file and "error" not in res:
        with open(span_file) as f:
            res["trace"] = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def _tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _same_memory(a: int, b: int) -> bool:
    return SYS_KCMP is not None and \
        LIBC.syscall(SYS_KCMP, a, b, KCMP_VM, 0, 0) == 0


def tree_rss(pid: int) -> int:
    """Resident bytes of a process and all its descendants (driver
    JVM and Python workers), read from /proc. A process that shares
    its address space with one already counted is skipped: the JVM
    starts helpers vfork-style, and until the helper execs, its statm
    repeats the whole JVM."""
    total, counted = 0, []
    for p in _tree(pid):
        if any(_same_memory(c, p) for c in counted):
            continue
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
        counted.append(p)
    return total


def kill_tree(proc: subprocess.Popen) -> None:
    for p in reversed(_tree(proc.pid)):
        try:
            os.kill(p, 9)
        except OSError:
            pass
    proc.wait()


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 5.0) -> None:
    """Stop every process below this one and wait until all have
    ended: SIGTERM first, SIGKILL after ``grace_s``. Called only when
    no subprocess.Popen of ours is still running, since it reaps any
    child."""
    me = os.getpid()
    deadline = time.perf_counter() + grace_s
    while True:
        _reap()
        pids = _tree(me)[1:]
        if not pids:
            return
        sig = signal.SIGTERM if time.perf_counter() < deadline \
            else signal.SIGKILL
        for p in pids:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        time.sleep(0.05)


# -- metrics --------------------------------------------------------------

def _m(value, unit, n):
    return {"value": value, "unit": unit, "samples": n}


def end_to_end(workload: str, ok: list[dict], failed: int,
               attempted: int) -> dict:
    med = statistics.median
    out = {"failed_ratio": _m(failed / attempted, "1", attempted)}
    if not ok:
        return out
    n = len(ok)
    out["setup_s"] = _m(med(s["setup_s"] for s in ok), "s", n)
    out["wall_s"] = _m(med(s["wall_s"] for s in ok), "s", n)
    out["peak_rss_mb"] = _m(med(s["peak_rss_mb"] for s in ok), "MB", n)
    if workload in ("geo_job", "curate_job"):
        out["docs_per_s"] = _m(med(s["docs"] / s["wall_s"] for s in ok),
                               "docs/s", n)
    else:
        calls = [c for s in ok for c in s["call_s"]]
        out["query_p50_s"] = _m(med(calls), "s", len(calls))
        out["queries_per_s"] = _m(med(s["queries"] / s["ann_loop_s"]
                                      for s in ok), "queries/s", n)
    return out


def print_table(args, meta: dict, e2e: dict) -> None:
    print(f"perfbench {args.workload} seed={args.seed} scale={args.scale} "
          f"nproc={os.cpu_count()} master=local[4] clients=1 "
          f"inputs={json.dumps(meta['inputs'], sort_keys=True)} "
          f"generate_s={meta['generate_s']:.3f}")
    for name in ("setup_s", "wall_s", "docs_per_s", "query_p50_s",
                 "queries_per_s", "peak_rss_mb", "failed_ratio"):
        m = e2e.get(name)
        if m is None:
            print(f"  {name:14s} {'n/a':>14s}")
        else:
            print(f"  {name:14s} {m['value']:>14.4f} {m['unit']:10s} "
                  f"n={m['samples']}")


def per_layer(spec: dict, workload: str, meta: dict, traced: dict,
              untraced: list[dict]) -> dict:
    """Every per-layer metric of BENCHMARK.json from the traced sample.
    ``<span>.<counter>`` sums the counter over the spans of that name
    (``p50_s``: median span duration; ``rows_out``: rows of the span's
    checked output); a span the workload does not run reads 0."""
    sys.path.insert(0, HERE)
    import spans as sp
    import workloads as wl

    t = traced["trace"]
    rows = wl.span_rows(workload, traced["outputs"])
    agg: dict[str, dict] = {}
    durs: dict[str, list[float]] = {}
    for s in t["spans"]:
        durs.setdefault(s["name"], []).append(s["s"])
        a = agg.setdefault(s["name"], {"s": 0.0})
        for k in ({"s"} | sp.SPAN_COUNTERS) & s.keys():
            a[k] = a.get(k, 0.0) + s[k]
    ivf = "similarity.ivf_topk_indexed"
    run_level = {
        f"{ivf}.scan_ratio": agg[ivf].get("scan_rows", 0.0)
        / meta["inputs"]["vectors"] / len(durs[ivf]) if ivf in agg else 0.0,
        "checkpoint.bytes_written": traced["bytes_written"],
        "curate.near_dedup.removed": traced.get("near_dedup_removed", 0),
        "curate.near_dedup.pairs": traced.get("near_dedup_pairs", 0),
        "trace.overhead_s": traced["wall_s"]
        - statistics.median(s["wall_s"] for s in untraced),
        "trace.uncovered_share": sp.uncovered_share(t["spans"], 0.0,
                                                    t["wall_s"]),
    }
    out: dict[str, dict] = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name in run_level:
            val = run_level[name]
        else:
            span, counter = name.rsplit(".", 1)
            if counter == "rows_out":
                val = rows.get(span, 0)
            elif counter == "p50_s":
                val = statistics.median(durs[span]) if span in durs else 0.0
            else:
                val = agg.get(span, {}).get(counter, 0.0)
        out[name] = {"value": val, "unit": m["unit"]}
    print(f"self time per span ({workload}, traced wall "
          f"{traced['wall_s']:.3f} s):")
    for name, v in sorted(sp.self_times(t["spans"]).items(),
                          key=lambda kv: -kv[1]):
        print(f"  {name:40s} {v:10.3f} s")
    return out


if __name__ == "__main__":
    sys.exit(main())
