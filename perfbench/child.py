"""One timed sample: a fresh Spark application with an empty workdir.

    python3 perfbench/child.py --workload W --inputs DIR --workdir DIR \\
        --t0 EPOCH --out FILE [--trace-file FILE]

``--t0`` is the wall-clock time at which the parent started this
process, so ``setup_s`` covers interpreter start, imports, JVM launch,
session creation and the input paths becoming readable. ``wall_s``
runs from the input paths to every output read back and digested.
The result (or the error) is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local[4]"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-file", default=None)
    args = ap.parse_args()
    try:
        result = run(args)
    except Exception:  # the parent counts this sample as failed
        result = {"error": traceback.format_exc()}
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 1 if "error" in result else 0


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import SparkSession

    import workloads
    from asag_spark.session import get_spark

    spark = get_spark(f"perfbench_{args.workload}", master=MASTER)
    for path in workloads.inputs_of(args.workload, args.inputs):
        spark.read.parquet(path).schema
    setup_s = time.time() - args.t0

    tracer = None
    if args.trace_file:
        from spans import Tracer

        tracer = Tracer(spark, run_id=f"{args.workload}-{os.getpid()}")
        tracer.add_span("session.get_spark", -setup_s, 0.0)
    # the pipelines stop the session on return; keep it open until the
    # status store has been read
    real_stop = SparkSession.stop
    SparkSession.stop = lambda self: None
    try:
        t0 = time.perf_counter()
        res = workloads.PASSES[args.workload](spark, args.inputs,
                                              args.workdir, tracer)
        wall_s = time.perf_counter() - t0
        res.update(setup_s=setup_s, wall_s=wall_s,
                   bytes_written=workloads.dir_bytes(args.workdir))
        if tracer:
            tracer.unwrap_all()
            tracer.attach_spark_counters()
            pairs = workloads.count_near_dup_pairs(tracer)
            if pairs is not None:
                res["near_dedup_pairs"] = pairs
            tracer.dump(args.trace_file, {"workload": args.workload,
                                          "wall_s": wall_s})
    finally:
        SparkSession.stop = real_stop
        spark.stop()
    return res


if __name__ == "__main__":
    sys.exit(main())
