"""One pass of each workload, run inside a fresh Spark application.

A pass starts from the prepared input paths and ends with every output
read back and digested. It returns the output digests (checked by the
caller) and the workload's own counts. With a tracer, the calls into
each engine module run inside spans named ``<module>.<function>``.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ANN_BATCH = 4        # queries per ANN call
ANN_K = 10

GEO_STAGES = {
    "extract_features": "enrich.build_features",
    "tile_assign": "functions.assign_tiles",
    "pip": "pip.pip_join",
    "tiles": "tiles.tile_feature_collections",
    "pyramid": "xyz.tile_pyramid",
}
CURATE_STAGES = ("quality_gate", "pii_scrub", "ngram_scrub", "exact_dedup",
                 "near_dedup", "split_shard")
ANN_ENTRIES = ("cosine_topk", "sq8_topk_encoded", "pq_topk_encoded",
               "ivf_topk_indexed", "ivfpq_topk")


def span_rows(workload: str, outputs: dict) -> dict[str, int]:
    """Output rows per span name, from the checked output digests."""
    def rows(d):
        return int(d.split(":")[0])
    if workload == "geo_job":
        return {GEO_STAGES[k]: rows(v) for k, v in outputs.items()}
    if workload == "curate_job":
        return {f"curate.{k}": rows(v) for k, v in outputs.items()
                if k in CURATE_STAGES}
    return {k: rows(v) for k, v in outputs.items()}


# -- output digests ------------------------------------------------------

def _flat(t: pa.Table) -> pa.Table:
    while any(pa.types.is_struct(f.type) for f in t.schema):
        t = t.flatten()
    return t


def digest(t: pa.Table) -> str:
    """Row count and an order-independent content digest: the wrapping
    uint64 sum of per-row hashes over the (flattened) columns."""
    t = _flat(t)
    t = t.select(sorted(t.column_names))
    df = t.to_pandas()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: repr(v.tolist())
                              if isinstance(v, np.ndarray) else v)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return f"{len(df)}:{int(h.sum(dtype=np.uint64)):016x}"


def _read_stage(workdir: str, stage: str) -> pa.Table:
    return pq.read_table(os.path.join(workdir, stage, "data"))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _span(tracer, name):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def _trace_checkpoints(tracer, stage_spans: dict) -> None:
    """Stage spans around CheckpointedPipeline.run_stage and a child
    span around each stage's metrics pass (the re-read + groupBy write
    to ``<stage>/metrics``)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from asag_spark.plans.checkpoint import CheckpointedPipeline

    tracer.wrap(CheckpointedPipeline, "run_stage",
                lambda self, stage, *a, **k: stage_spans.get(stage))
    tracer.wrap(DataFrameWriter, "parquet",
                lambda self, path, *a, **k: "checkpoint.metrics_pass"
                if str(path).endswith("/metrics") else None)


# -- workloads -----------------------------------------------------------

def _ann_corpus(inp: str) -> str:
    """The shared ANN corpus directory named in the input's meta."""
    with open(os.path.join(inp, "meta.json")) as f:
        name = json.load(f)["inputs"]["corpus_dir"]
    return os.path.join(os.path.dirname(inp), name)


def inputs_of(workload: str, inp: str) -> list[str]:
    """Every input path of a workload, for the set-up readability check."""
    names = {
        "geo_job": ["docs", "zones"],
        "curate_job": ["documents"],
        "operators": ["points", "zones", "grid", "queries"],
    }[workload]
    paths = [os.path.join(inp, n) for n in names]
    if workload == "operators":
        corpus = _ann_corpus(inp)
        paths += [os.path.join(corpus, p) for p in (
            "embeddings", "sq8/codes", "pq/codes", "ivf/index", "ivfpq/index")]
    return paths


def geo_job(spark, inp: str, workdir: str, tracer) -> dict:
    """plans/job.py end to end (docs -> features -> tiles -> PIP ->
    GeoJSON tiles -> pyramid), through its CLI entry point."""
    import io
    from contextlib import redirect_stdout

    from asag_spark.plans import job

    if tracer:
        _trace_checkpoints(tracer, GEO_STAGES)
    buf = io.StringIO()
    with redirect_stdout(buf):
        job.main(["--input", os.path.join(inp, "docs"),
                  "--workdir", workdir,
                  "--zones", os.path.join(inp, "zones"),
                  "--master", spark.sparkContext.master])
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    outputs = {s: digest(_read_stage(workdir, s)) for s in GEO_STAGES}
    return {"outputs": outputs, "docs": summary["n_docs"]}


def curate_job(spark, inp: str, workdir: str, tracer) -> dict:
    """plans/curate.py --quality-gate topq over the generated corpus."""
    from asag_spark.plans import curate

    if tracer:
        from asag_spark.operators import dedup

        _trace_checkpoints(tracer, {s: f"curate.{s}" for s in CURATE_STAGES})
        tracer.capture(dedup, "minhash_dedup", "near_dedup_pairs")
    summary = curate.run(spark, os.path.join(inp, "documents"), workdir,
                         quality_gate="topq")
    outputs = {s: digest(_read_stage(workdir, s)) for s in CURATE_STAGES}
    outputs["funnel"] = ",".join(f"{k}={v}" for k, v in
                                 sorted(summary["funnel"].items()))
    f = summary["funnel"]
    return {"outputs": outputs, "docs": f["input"],
            "near_dedup_removed": f["exact_dedup"] - f["near_dedup"]}


def count_near_dup_pairs(tracer) -> int | None:
    """Rows of the near-dup pair frame the curate pass built (counted
    after the timed pass, outside every span)."""
    pairs = tracer.captured.get("near_dedup_pairs")
    return None if pairs is None else pairs.count()


def operators(spark, inp: str, workdir: str, tracer) -> dict:
    """Operator calls on prepared inputs, no extraction and no
    checkpoints: the spatial joins, then the ANN query loop."""
    outputs: dict[str, str] = {}
    _spatial_calls(spark, inp, tracer, outputs)
    return {"outputs": outputs, **_ann_calls(spark, inp, tracer, outputs)}


def _spatial_calls(spark, inp, tracer, outputs) -> None:
    """Broadcast-free PIP (the broadcast pip_join runs in geo_job's pip
    stage), boundary snap against a 25x25 zone grid's 2,500 edges (the
    auto-gate picks the pruned strategy), and self-kNN on a 1-in-20
    sample."""
    from pyspark.sql import functions as F

    from asag_spark.operators.knn import knn_join
    from asag_spark.operators.pip import pip_join_partitioned, snap_to_boundary

    read = spark.read.parquet
    points = read(os.path.join(inp, "points"))
    zones = read(os.path.join(inp, "zones"))
    grid = read(os.path.join(inp, "grid"))
    every20 = points.filter(F.pmod(F.xxhash64("feature_id"), F.lit(20)) == 0)

    def run(name, build):
        with _span(tracer, name):
            table = build().toArrow()
        outputs[name] = digest(table)

    run("pip.pip_join_partitioned", lambda: pip_join_partitioned(points, zones))
    run("pip.snap_to_boundary", lambda: snap_to_boundary(points, grid))
    run("knn.knn_join", lambda: knn_join(every20, k=3))


def _ann_calls(spark, inp, tracer, outputs) -> dict:
    """Closed loop, one client: one 4-query batch on each of the five
    ANN entry points in turn, against prebuilt codes and indexes."""
    from asag_spark.operators import similarity as sim

    corpus = _ann_corpus(inp)
    emb = spark.read.parquet(os.path.join(corpus, "embeddings"))
    pool = pq.read_table(os.path.join(inp, "queries")).to_pandas()
    calls = {
        "cosine_topk": lambda q: sim.cosine_topk(emb, q, k=ANN_K),
        "sq8_topk_encoded": lambda q: sim.sq8_topk_encoded(
            spark, os.path.join(corpus, "sq8"), q, k=ANN_K),
        "pq_topk_encoded": lambda q: sim.pq_topk_encoded(
            spark, os.path.join(corpus, "pq"), q, k=ANN_K),
        "ivf_topk_indexed": lambda q: sim.ivf_topk_indexed(
            spark, os.path.join(corpus, "ivf"), q, k=ANN_K),
        "ivfpq_topk": lambda q: sim.ivfpq_topk(
            spark, os.path.join(corpus, "ivfpq"), q, k=ANN_K),
    }
    call_s, top_ids = [], {}
    t_loop = time.perf_counter()
    for i, entry in enumerate(ANN_ENTRIES):
        q = spark.createDataFrame(pool.iloc[i * ANN_BATCH:(i + 1) * ANN_BATCH])
        t0 = time.perf_counter()
        with _span(tracer, f"similarity.{entry}"):
            t = calls[entry](q).toArrow()
        call_s.append(time.perf_counter() - t0)
        top_ids[entry] = t.select(["query_id", "neighbor_id", "rank"])
    loop_s = time.perf_counter() - t_loop
    for entry, t in top_ids.items():
        outputs[f"similarity.{entry}"] = digest(t)
    return {"queries": ANN_BATCH * len(call_s), "call_s": call_s,
            "ann_loop_s": loop_s}


PASSES = {"geo_job": geo_job, "curate_job": curate_job,
          "operators": operators}
