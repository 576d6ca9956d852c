"""Seeded input preparation for the benchmark workloads.

Inputs are a pure function of (workload, seed, size). They are written
once per key under ``.perfbench_cache/`` in the checkout and reused by
every later run with the same key. Generation never happens inside a
timed region and is not part of ``setup_s``; its duration is recorded
in the input's ``meta.json``.

The geo, spatial and text inputs are produced without a JVM: the
engine's own generators (``asag_spark.datagen``) are driven through a
stand-in session that runs their pandas batch functions in-process.
The ANN codes and indexes can only be built by the engine's Spark
writers, so that workload's preparation starts its own Spark
application, which is stopped before any timed run begins.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

# Input sizes per workload. "full" is what the benchmark measures;
# "tiny" exists for the smoke test only.
SIZES = {
    "full": {
        "geo_job": {"docs": 20_000},
        "curate_job": {"docs": 4_000},
        "operators": {"points": 5_000, "vectors": 100_000, "dim": 64},
    },
    "tiny": {
        "geo_job": {"docs": 1_000},
        "curate_job": {"docs": 300},
        "operators": {"points": 1_000, "vectors": 4_000, "dim": 16},
    },
}

# curate corpus shape: shares of the generated docs that are exact
# copies / one-token-edit near-duplicates of an earlier doc
EXACT_SHARE = 0.10
NEAR_SHARE = 0.10
# operators' snap grid side: 4 * GRID**2 edges
GRID = 25


class _StandInSession:
    """Just enough of a SparkSession for the datagen generators:
    ``range(...).mapInPandas(fn, schema)`` runs ``fn`` on one pandas
    batch in-process, and ``createDataFrame`` returns the rows."""

    class _Ctx:
        defaultParallelism = 1

    sparkContext = _Ctx()

    def range(self, start, end, numPartitions=None):  # noqa: A003
        return _StandInRange(start, end)

    def createDataFrame(self, rows, schema):  # noqa: N802
        return list(rows)


class _StandInRange:
    def __init__(self, start: int, end: int):
        self.ids = np.arange(start, end, dtype=np.int64)

    def mapInPandas(self, fn, schema):  # noqa: N802
        return pd.concat(list(fn(iter([pd.DataFrame({"id": self.ids})]))),
                         ignore_index=True)


def _write(path: str, table: pa.Table) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _docs_table(n_docs: int, seed: int) -> pd.DataFrame:
    from asag_spark.datagen import generate_docs

    return generate_docs(_StandInSession(), n_docs, seed=seed)


def _arrow_docs(pdf: pd.DataFrame) -> pa.Table:
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    spans = [[dict(zip(("kind", "text", "media_ref", "offset"), s))
              for s in row] for row in pdf["spans"]]
    return pa.table({
        "doc_id": pa.array(pdf["doc_id"], pa.string()),
        "spans": pa.array(spans, pa.list_(span)),
    })


def _zones_table(seed: int) -> pa.Table:
    from asag_spark.datagen import generate_zones

    rows = generate_zones(_StandInSession(), seed=seed)
    cols = list(zip(*rows))
    return pa.table({n: pa.array(c, pa.string()) for n, c in
                     zip(("zone_id", "zone_kind", "name", "geom_wkt"), cols)})


def _grid_table(nx: int, ny: int) -> pa.Table:
    from asag_spark.datagen import generate_dense_zone_grid

    rows = generate_dense_zone_grid(_StandInSession(), nx=nx, ny=ny)
    cols = list(zip(*rows))
    return pa.table({n: pa.array(c, pa.string()) for n, c in
                     zip(("zone_id", "zone_kind", "name", "geom_wkt"), cols)})


def prep_geo_job(d: str, size: dict, seed: int) -> dict:
    docs = _docs_table(size["docs"], seed)
    _write(os.path.join(d, "docs"), _arrow_docs(docs))
    _write(os.path.join(d, "zones"), _zones_table(seed))
    return {"docs": size["docs"], "zones": 50}


def prep_operators(d: str, size: dict, seed: int) -> dict:
    """Spatial side: points pre-extracted from a seeded docs table
    (every StopPlace doc's POINT geometry, keyed by its doc id), the
    50 zones and a 25x25 zone grid (2,500 edges: above the snap
    auto-gate's dense limit, so the pruned strategy runs). ANN side:
    see _prep_ann."""
    docs = _docs_table(size["points"], seed)
    ids, lons, lats = [], [], []
    for doc_id, spans in zip(docs["doc_id"], docs["spans"]):
        for kind, text, _, _ in spans:
            if kind == "geom" and text.startswith("POINT("):
                lon, lat = text[6:-1].split()
                ids.append(doc_id)
                lons.append(float(lon))
                lats.append(float(lat))
    _write(os.path.join(d, "points"), pa.table({
        "feature_id": pa.array(ids, pa.string()),
        "lon": pa.array(lons, pa.float64()),
        "lat": pa.array(lats, pa.float64()),
    }))
    _write(os.path.join(d, "zones"), _zones_table(seed))
    _write(os.path.join(d, "grid"), _grid_table(GRID, GRID))
    return {"points": len(ids), "zones": 50, "snap_edges": 4 * GRID * GRID,
            **_prep_ann(d, size, seed)}


_VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector tile zone stop point edge route map shard plan stage "
    "join index cache disk node task frame page block train test city "
    "river bridge harbor ferry rail tram bus metro station platform gate "
    "north south east west ticket fare night morning winter summer"
).split()


def prep_curate_job(d: str, size: dict, seed: int) -> dict:
    """Seeded text corpus: random-vocabulary docs, a stated share of
    exact copies and of one-token-edit near-duplicates of earlier
    docs, in shuffled doc_id order."""
    rng = np.random.default_rng(seed)
    n = size["docs"]
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    kinds = rng.random(n)
    for i in range(n):
        if i > 0 and kinds[i] < EXACT_SHARE:
            texts.append(texts[rng.integers(i)])
        elif i > 0 and kinds[i] < EXACT_SHARE + NEAR_SHARE:
            toks = texts[rng.integers(i)].split()
            toks[rng.integers(len(toks))] = f"edit{rng.integers(1 << 30)}"
            texts.append(" ".join(toks))
        else:
            n_tok = int(rng.integers(40, 160))
            texts.append(" ".join(vocab[rng.integers(len(vocab), size=n_tok)]))
    doc_ids = rng.permutation(n).astype(np.int64)
    langs = np.array(["en", "no", "de", "zh"])[rng.integers(4, size=n)]
    _write(os.path.join(d, "documents"), pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    return {"docs": n, "exact_dup_share": EXACT_SHARE,
            "near_dup_share": NEAR_SHARE, "vocab": len(_VOCAB)}


def _query_vectors(seed: int, dim: int, n: int) -> np.ndarray:
    q = np.random.default_rng(seed).standard_normal((n, dim))
    return (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)


# The ANN corpus and its codes/indexes are built once per checkout
# (fixed corpus seed); the run seed picks the query vectors. Building
# them takes a Spark application of its own and far longer than a run.
ANN_CORPUS_SEED = 42


def _prep_ann(d: str, size: dict, seed: int) -> dict:
    corpus = os.path.join(CACHE, f"ann_corpus-{size['vectors']}x{size['dim']}")
    if not os.path.exists(os.path.join(corpus, "_DONE")):
        shutil.rmtree(corpus, ignore_errors=True)
        _build_ann_corpus(corpus, size)
    # one 4-query batch for each of the five ANN entry points
    q = _query_vectors(seed, size["dim"], 20)
    _write(os.path.join(d, "queries"), pa.table({
        "vec_id": pa.array(np.arange(len(q), dtype=np.int64)),
        "embedding": pa.array(list(q), pa.list_(pa.float32())),
    }))
    return {"vectors": size["vectors"], "dim": size["dim"],
            "ann_corpus_seed": ANN_CORPUS_SEED, "query_pool": len(q),
            "ivf_cells": 64, "corpus_dir": os.path.basename(corpus)}


def _build_ann_corpus(corpus: str, size: dict) -> None:
    from asag_spark.datagen import generate_embeddings
    from asag_spark.operators.similarity import (
        ivf_index_write, ivfpq_index_write, pq_codebook, pq_encode,
        sq8_encode,
    )
    from asag_spark.session import get_spark

    emb = generate_embeddings(_StandInSession(), size["vectors"],
                              dim=size["dim"], seed=ANN_CORPUS_SEED)
    _write(os.path.join(corpus, "embeddings"), pa.table({
        "vec_id": pa.array(emb["vec_id"], pa.int64()),
        "embedding": pa.array(emb["embedding"], pa.list_(pa.float32())),
    }))
    spark = get_spark("perfbench_prepare", master="local[4]")
    try:
        e = spark.read.parquet(os.path.join(corpus, "embeddings"))
        sq8_encode(e, os.path.join(corpus, "sq8"))
        _, cb = pq_codebook(e)
        pq_encode(e, os.path.join(corpus, "pq"), codebook=cb)
        ivf_index_write(e, os.path.join(corpus, "ivf"), n_cells=64)
        ivfpq_index_write(e, os.path.join(corpus, "ivfpq"), n_cells=64,
                          codebook=cb)
    finally:
        spark.stop()
    open(os.path.join(corpus, "_DONE"), "w").close()


PREPARE = {
    "geo_job": prep_geo_job,
    "curate_job": prep_curate_job,
    "operators": prep_operators,
}


def input_dir(workload: str, seed: int, scale: str) -> str:
    return os.path.join(CACHE, f"{workload}-{scale}-seed{seed}")


def ensure_inputs(workload: str, seed: int, scale: str) -> dict:
    """Generate the inputs for (workload, seed, scale) unless cached;
    returns the input's meta record."""
    d = input_dir(workload, seed, scale)
    meta_path = os.path.join(d, "meta.json")
    size = SIZES[scale][workload]
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("size") == size:
            return meta
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    t0 = time.perf_counter()
    props = PREPARE[workload](d, size, seed)
    meta = {"workload": workload, "seed": seed, "scale": scale,
            "size": size, "generate_s": time.perf_counter() - t0,
            "inputs": props}
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return meta


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    w, s, sc = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(ensure_inputs(w, s, sc)))
