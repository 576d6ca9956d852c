"""Similarity search over the embeddings table (task brief): exact
brute-force cosine top-k, the IVF approximate variants, and the SQ8 /
PQ / IVF-PQ compressed-read ANN family.

Every corpus-scanning top-k runs on ONE kernel, ``_scan_topk``: one
Arrow mapInPandas pass over the corpus against a broadcast query
matrix — a map-only pass, no shuffle except the final per-query
top-k. Per batch, a CODEC turns the rows into a (rows × queries)
score matrix; one boolean mask drops self-matches, rows in cells the
query does not probe, and undefined (NaN) scores; one partial sort
keeps each query's k best rows; per partition one lexsort on (query,
score, neighbor_id) merges the batches; then one per-query
row_number window (``_rank_topk``, shared with the exact-L2
refine of ivfpq_topk) ranks the tiny candidate set. The three codecs:

* float cosine — 6-dp rounded, descending: cosine_topk, ivf_topk,
  ivf_topk_indexed;
* SQ8 integer quantized cosine ``qcos`` — descending, with the integer
  dot ``score`` and, when the float corpus is scanned, the exact
  ``cosine`` of the winners: sq8_topk, sq8_topk_encoded;
* PQ integer ADC distance ``adist`` — ascending: pq_topk,
  pq_topk_encoded, ivfpq_topk (and its refine shortlist).

Each codec either encodes the float ``embedding`` batch inline (the
zero-setup path) or reads a stored ``codes`` column (the deployment
path); both give bit-identical scores. The IVF ``probe`` restricts
rows to each query's nprobe cells, assigned inline (rounded-cosine
argmax) or read from the stored ``ivf_cell``.
"""

from __future__ import annotations

from typing import Any, Callable, NamedTuple

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _norms(A):
    return np.sqrt((A * A).sum(axis=1))


def _float_corpus(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _collect_queries(queries: DataFrame):
    """(q_ids, Q, qn) for a small query frame, or None when empty."""
    q_rows = queries.select(
        "vec_id", F.col("embedding").cast("array<double>")
    ).collect()
    if not q_rows:
        return None
    q_ids = np.array([r[0] for r in q_rows])
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    return q_ids, Q, _norms(Q)


class _Codec(NamedTuple):
    """How ``_scan_topk`` scores a corpus batch. ``score(payload, X)``
    maps X (the batch's ``column`` stacked into a matrix) to (K, emit):
    K the (rows × queries) ranking key, emit(r, c) the output value
    columns (``fields``) of the kept (row, query) pairs. ``payload``
    is broadcast and starts with the query ids; None when there is
    nothing to score (empty query set or corpus)."""

    column: str
    fields: list
    key: str
    ascending: bool
    score: Callable
    payload: Any


def _rank_topk(cand: DataFrame, k: int, key: str,
               ascending: bool) -> DataFrame:
    """Global top-k tail over a small candidate set: (key, neighbor_id
    ASC) row_number per query — the one shuffle in every top-k
    operator here. Output (query_id, neighbor_id, rank, <the other
    candidate columns>); an existing ``rank`` is replaced."""
    order = F.col(key).asc() if ascending else F.col(key).desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    vals = [c for c in cand.columns
            if c not in ("query_id", "neighbor_id", "rank")]
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id",
            F.col("rank").cast("int").alias("rank"), *vals,
        )
    )


def _scan_topk(corpus: DataFrame, codec: _Codec, k: int,
               probe=None) -> DataFrame:
    """The per-partition top-k kernel behind every corpus-scanning ANN
    entry point (see the module docstring). ``corpus`` carries vec_id,
    ``codec.column`` and, for a stored-cell probe, ivf_cell.

    ``probe`` = (c_ids, Ct, cn, M) with M[cell column, query] the
    probe mask (``_probe_sets``); rows that no query probes are
    dropped BEFORE scoring, so the probed fraction bounds the compute,
    not just the candidate set.

    The batch-local top-k keeps everything at least as good as the
    k-th value (boundary ties resolve in the partition merge); the
    candidates (≤ partitions × n_q × k rows) are the only exchange."""
    id_type = corpus.schema["vec_id"].dataType
    schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            *codec.fields,
        ]
    )
    spark = corpus.sparkSession
    if codec.payload is None:
        cand = spark.createDataFrame([], schema)
        return _rank_topk(cand, k, codec.key, codec.ascending)
    bc = spark.sparkContext.broadcast((codec.payload, probe))
    column, score = codec.column, codec.score
    sign = 1 if codec.ascending else -1

    def part_topk(batches):
        import pandas as pd

        payload, probe_v = bc.value
        q_ids = payload[0]
        pool: list = []
        for batch in batches:
            if not len(batch):
                continue
            ids = batch["vec_id"].to_numpy()
            X = np.stack(batch[column].to_numpy())
            hit = None
            if probe_v is not None:
                hit = probe_v[3][_cell_cols(probe_v, batch, X)]
                live = hit.any(axis=1)
                if not live.any():
                    continue
                ids, X, hit = ids[live], X[live], hit[live]
            K, emit = score(payload, X)
            drop = (ids[:, None] == q_ids[None, :]) | np.isnan(K)
            if hit is not None:
                drop |= ~hit
            R = sign * K  # smaller is better
            R[drop] = np.inf if R.dtype.kind == "f" else np.iinfo(R.dtype).max
            keep = ~drop
            if len(ids) > k:
                kth = np.partition(R, k - 1, axis=0)[k - 1, :]
                keep &= R <= kth[None, :]
            rows, cols = np.nonzero(keep)
            if len(rows):
                pool.append((ids[rows], cols, R[rows, cols], emit(rows, cols)))
        if not pool:
            return
        nid, qcol, rv = (np.concatenate([p[i] for p in pool]) for i in range(3))
        # sort by (query, score, neighbor_id); keep each query's first k
        order = np.lexsort((nid, rv, qcol))
        qs = qcol[order]
        top = order[np.arange(len(qs)) - np.searchsorted(qs, qs) < k]
        out = {"query_id": q_ids[qcol[top]], "neighbor_id": nid[top]}
        for name in pool[0][3]:
            out[name] = np.concatenate([p[3][name] for p in pool])[top]
        yield pd.DataFrame(out)

    cand = corpus.mapInPandas(part_topk, schema)
    return _rank_topk(cand, k, codec.key, codec.ascending)


def _cosine_scores(payload, B):
    _, Qt, qn = payload
    with np.errstate(divide="ignore", invalid="ignore"):
        S = np.round((B @ Qt) / (_norms(B)[:, None] * qn[None, :]), 6)
    return S, lambda r, c: {"cosine": S[r, c]}


def _cosine_codec(qs) -> _Codec:
    """Float cosine, rounded to 6 BEFORE ranking (ranking on rounded
    values = the documented tie semantics), descending. A zero-norm
    vector has no defined cosine (NaN) and is never a neighbor."""
    return _Codec(
        "embedding", [T.StructField("cosine", T.DoubleType())],
        "cosine", False, _cosine_scores,
        None if qs is None else (qs[0], qs[1].T.copy(), qs[2]),
    )


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force).

    ``queries``: frame with (vec_id, embedding) — a small selection of
    the corpus (the same smallness contract a broadcast join needs); it
    is collected and broadcast as a dense numpy matrix. Self-matches
    excluded. Output (query_id, neighbor_id, rank, cosine); ties break
    on neighbor_id for determinism.

    Scale shape: ONE matrix multiply per corpus batch ((n_batch × d) @
    (d × n_q), Arrow-vectorized mapInPandas) with per-PARTITION top-k
    reduction, then a global top-k over the tiny candidate set
    (≤ partitions × n_q × k rows). The previous formulation cross-joined
    corpus × queries into |corpus|·|queries| pair rows and folded the
    dot product with an interpreted HOF lambda per pair, then windowed
    the full pair set — at 10^9 × 100 that is 10^11 intermediate rows
    through one window; here the corpus is read once, map-side, and
    only candidates shuffle. Cosines are rounded to 6 BEFORE ranking
    (ranking on rounded values = the documented tie semantics).
    """
    codec = _cosine_codec(_collect_queries(queries))
    return _scan_topk(_float_corpus(emb), codec, k)


# IVF coarse-quantizer defaults: cells ~ sqrt(|corpus|) is the classic
# IVF-flat operating point; nprobe trades recall for scan fraction.
IVF_CELLS = 32
IVF_NPROBE = 4


def ivf_centroids(emb: DataFrame, n_cells: int = IVF_CELLS):
    """Deterministic coarse quantizer: the ``n_cells`` corpus vectors
    with the smallest md5(vec_id) serve as centroids (a seeded uniform
    sample — no iterative k-means, which keeps the assignment
    closed-form for the value oracle). At scale the centroid set is
    whatever the quantizer training produced; the plan downstream is
    identical — only this tiny frame changes. Returns (ids, matrix)
    with centroid columns sorted by centroid id ascending (the
    tie-break order assignment relies on); (empty, None) for an empty
    corpus."""
    rows = (
        emb.select("vec_id", F.col("embedding").cast("array<double>"))
        .withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(n_cells)
        .select("vec_id", "embedding")
        .collect()
    )
    if not rows:
        return np.array([]), None
    rows.sort(key=lambda r: r[0])  # columns by c_id asc → argmax ties → smallest id
    c_ids = np.array([r[0] for r in rows])
    C = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    return c_ids, C


def _probe_sets(Q, qn, C, cn, nprobe: int):
    """Per-query probe membership over centroid COLUMNS (c_id asc):
    the nprobe cells nearest by 6-dp-rounded cosine, ties to the
    smaller centroid id (stable argsort over c_id-ascending columns).
    Returns the bool matrix M[c, j] = query j probes cell c."""
    SQ = np.round((Q @ C.T) / (qn[:, None] * cn[None, :]), 6)
    probe_cols = np.argsort(-SQ, axis=1, kind="stable")[:, :nprobe]
    M = np.zeros((C.shape[0], Q.shape[0]), dtype=bool)
    for j in range(Q.shape[0]):
        M[probe_cols[j], j] = True
    return M


def _nearest_cols(B, Ct, cn):
    """Assigned centroid COLUMN per row: rounded-cosine argmax = the
    FIRST maximal column over c_id-ascending columns = the smallest
    centroid id, the same order the oracle's (cos DESC, c_id ASC)
    row_number uses."""
    SC = np.round((B @ Ct) / (_norms(B)[:, None] * cn[None, :]), 6)
    return np.argmax(SC, axis=1)


def _cell_cols(probe, batch, X):
    """Centroid column of each batch row for a ``_scan_topk`` probe:
    the stored ``ivf_cell``'s position among the c_id-ascending
    centroids when the probe has no centroid matrix, else the inline
    assignment of the float batch."""
    c_ids, Ct, cn, _ = probe
    if Ct is None:
        return np.searchsorted(c_ids, batch["ivf_cell"].to_numpy())
    return _nearest_cols(X, Ct, cn)


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
             n_cells: int = IVF_CELLS, nprobe: int = IVF_NPROBE,
             centroids=None) -> DataFrame:
    """IVF-flat approximate top-k (the brief's named ANN scale path,
    alongside the LSH-banded variant): assign every corpus vector to
    its nearest centroid (one Arrow matmul per batch — map-only), then
    each query scans ONLY its ``nprobe`` nearest cells: rows outside
    every probed cell are dropped before the query matmul, so compute
    ∝ the probed fraction (~nprobe/n_cells) plus one small assignment
    matmul per batch. The corpus never shuffles; candidates
    (≤ partitions × n_q × k rows) are the only exchange. Ranking ties
    and centroid ties both break on id over 6-decimal-rounded cosines,
    so the assignment and result are parallelism- and
    engine-invariant.

    ``centroids``: pass a precomputed ``ivf_centroids`` result to skip
    the quantizer-selection job (a one-off per corpus — the bench
    hoists it out of the timed probe).

    At 10^12 vectors the assignment pass writes (vec_id, cell_id) once
    (cells ~ sqrt(N)), the probed fraction bounds each query's work,
    and cell-partitioned storage turns the probe into partition
    pruning — the standard IVF-flat layout (``ivf_index_write`` /
    ``ivf_topk_indexed`` below materialize exactly that)."""
    c_ids, C = centroids if centroids is not None else ivf_centroids(emb, n_cells)
    qs = _collect_queries(queries) if C is not None else None
    probe = None
    if qs is not None:
        cn = _norms(C)
        probe = (c_ids, C.T.copy(), cn, _probe_sets(qs[1], qs[2], C, cn, nprobe))
    return _scan_topk(_float_corpus(emb), _cosine_codec(qs), k, probe)


def ivf_assign(emb: DataFrame, n_cells: int = IVF_CELLS,
               centroids=None) -> DataFrame:
    """Input columns + ``ivf_cell`` (the assigned centroid's vec_id) —
    one map-only Arrow matmul per batch against the broadcast centroid
    matrix; zero shuffles. float32 embeddings are widened to float64
    BEFORE the matmul (exact widening), so the assignment is
    bit-identical to ivf_topk's inline JVM-cast path."""
    if centroids is None:
        centroids = ivf_centroids(emb, n_cells)
    c_ids, C = centroids
    if C is None:
        raise ValueError("ivf_assign: empty corpus has no centroids")
    bc = emb.sparkSession.sparkContext.broadcast((c_ids, C.T.copy(), _norms(C)))
    out_schema = T.StructType(
        list(emb.schema.fields)
        + [T.StructField("ivf_cell", emb.schema["vec_id"].dataType)]
    )

    def assign(batches):
        c_ids_v, Ct, cn_v = bc.value
        for batch in batches:
            if not len(batch):
                continue
            B = np.stack(batch["embedding"].to_numpy()).astype(np.float64)
            out = batch.copy()
            out["ivf_cell"] = c_ids_v[_nearest_cols(B, Ct, cn_v)]
            yield out

    return emb.mapInPandas(assign, out_schema)


def _write_cells(assigned: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Cell-partitioned index write. Cluster the write first: without
    it every input partition writes a file into every cell dir (parts
    × cells tiny files — the probe then pays per-file open cost
    instead of saving scan). One hash shuffle on the cell key → ~one
    file per cell; at 100 TB the same pass targets
    maxPartitionBytes-sized files per cell (repartition(n, col) with
    n ∝ corpus/cell size)."""
    (
        assigned.repartition(F.col("ivf_cell"))
        .write.mode(mode)
        .partitionBy("ivf_cell")
        .parquet(f"{path}/index")
    )


def _write_centroids(spark, c_ids, C, path: str) -> None:
    cent_rows = [(int(cid), [float(x) for x in vec])
                 for cid, vec in zip(c_ids, C)]
    (
        spark.createDataFrame(cent_rows, "c_id long, cv array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )


def ivf_index_write(emb: DataFrame, path: str,
                    n_cells: int = IVF_CELLS) -> None:
    """Materialize the IVF-flat layout SCALE.md §8 describes: the
    corpus written ``partitionBy(ivf_cell)`` (one directory per coarse
    cell — the parquet stand-in for an Iceberg identity-partition on
    the cell column) plus a tiny centroid sidecar. A probe against
    this layout prunes non-probed cells at the FILE level: each query
    touches nprobe/n_cells of the data physically, not just logically."""
    c_ids, C = ivf_centroids(emb, n_cells)
    if C is None:
        raise ValueError("ivf_index_write: empty corpus has no centroids")
    _write_cells(ivf_assign(emb, centroids=(c_ids, C)), path)
    _write_centroids(emb.sparkSession, c_ids, C, path)


def _load_centroids(spark, path: str):
    """Centroid sidecar → (c_ids asc, matrix). Read driver-side with
    pyarrow when possible — it is a few KB and a Spark job just to
    fetch it costs ~0.3 s of scheduler overhead per probe call; the
    Spark reader remains the fallback for filesystems pyarrow cannot
    reach."""
    try:
        import pyarrow.dataset as ds

        t = ds.dataset(f"{path}/centroids", format="parquet").to_table()
        pdf = t.to_pandas().sort_values("c_id")
        c_ids = pdf["c_id"].to_numpy()
        C = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["cv"]])
    except Exception:  # noqa: BLE001 — non-local FS or pyarrow gap
        cent = spark.read.parquet(f"{path}/centroids").orderBy("c_id").collect()
        c_ids = np.array([r["c_id"] for r in cent])
        C = np.stack([np.asarray(r["cv"], dtype=np.float64) for r in cent])
    return c_ids, C


def _index_probe_state(spark, path: str, queries: DataFrame, nprobe: int):
    """Shared by ivf_probe_cells / ivf_topk_indexed / ivfpq_topk:
    centroid sidecar + collected queries → (queries as
    _collect_queries returns them, the stored-cell ``_scan_topk``
    probe, probed cell ids); (None, None, []) when the query frame is
    empty."""
    c_ids, C = _load_centroids(spark, path)
    qs = _collect_queries(queries)
    if qs is None:
        return None, None, []
    M = _probe_sets(qs[1], qs[2], C, _norms(C), nprobe)
    probed = sorted(int(c_ids[c]) for c in np.nonzero(M.any(axis=1))[0])
    return qs, (c_ids.astype(np.int64), None, None, M), probed


def _probed_index(spark, path: str, probed: list, column) -> DataFrame:
    """The probed cells of a cell-partitioned index: ``ivf_cell IN
    (...)`` compiles to PartitionFilters — pruning before any byte is
    read."""
    return (
        spark.read.parquet(f"{path}/index")
        .filter(F.col("ivf_cell").isin(probed))
        .select("vec_id", column, F.col("ivf_cell").cast("long").alias("ivf_cell"))
    )


def ivf_probe_cells(spark, path: str, queries: DataFrame,
                    nprobe: int = IVF_NPROBE) -> list[int]:
    """The union of cell ids the given queries probe against an
    ``ivf_index_write`` layout — the partition list a planner (or an
    Iceberg scan-file API) would prune to. Shared with
    ``ivf_topk_indexed`` so tests can assert the physically-scanned
    file set matches exactly this list."""
    return _index_probe_state(spark, path, queries, nprobe)[2]


def ivf_topk_indexed(spark, path: str, queries: DataFrame, k: int = 5,
                     nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF probe over an ``ivf_index_write`` layout. The probe set is
    computed driver-side from the centroid sidecar, then the scan reads
    ONLY the probed cell partitions (``ivf_cell IN (...)`` compiles to
    PartitionFilters — partition pruning before any byte is read; the
    plan-shape test asserts the pruned file count). Output is
    row-identical to ``ivf_topk`` on the same corpus: same centroids,
    same rounded-cosine tie-breaks, and the stored assignment equals
    the inline one by construction."""
    qs, probe, probed = _index_probe_state(spark, path, queries, nprobe)
    idx = _probed_index(
        spark, path, probed, F.col("embedding").cast("array<double>").alias("embedding")
    )
    return _scan_topk(idx, _cosine_codec(qs), k, probe)


def sq8_scale(emb: DataFrame) -> float:
    """Global symmetric quantization scale: the corpus-wide max |x|
    over every embedding component — ONE map-combined aggregation to
    a single driver scalar (the same tiny-sidecar contract as the IVF
    centroid set)."""
    row = emb.select(
        F.max(
            F.aggregate(
                F.transform(
                    F.col("embedding").cast("array<double>"), F.abs
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            )
        ).alias("ma")
    ).collect()[0]
    return float(row["ma"] or 0.0)


def _sq8_codes(X, ma: float):
    """SQ8 codes as int64: clamp(floor(x·127/ma + 0.5), −127, 127) —
    the same rule sq8_encode stores."""
    if ma <= 0.0:
        return np.zeros_like(X, dtype=np.int64)
    return np.clip(np.floor(X * 127.0 / ma + 0.5), -127.0, 127.0).astype(np.int64)


def _sq8_scores(payload, X):
    _, ma, QcT, qcn, Q, qn = payload
    Bc = X.astype(np.int64) if Q is None else _sq8_codes(X, ma)
    S = Bc @ QcT
    denom = _norms(Bc)[:, None] * qcn[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        QS = np.round(np.where(denom > 0.0, S / denom, 0.0), 6)

    def emit(r, c):
        cols = {"score": S[r, c], "qcos": QS[r, c]}
        if Q is not None:
            cols["cosine"] = np.round(
                (X[r] * Q[c]).sum(axis=1) / (_norms(X)[r] * qn[c]), 6
            )
        return cols

    return QS, emit


def _sq8_codec(qs, ma: float, column: str) -> _Codec:
    """SQ8 quantized cosine ``qcos`` (descending) with the integer dot
    ``score``. Scanning the float ``embedding`` quantizes each batch
    inline and also reports the exact ``cosine``; scanning stored
    ``codes`` reads no float."""
    inline = column == "embedding"
    fields = [T.StructField("score", T.LongType()),
              T.StructField("qcos", T.DoubleType())]
    if inline:
        fields.append(T.StructField("cosine", T.DoubleType()))
    payload = None
    if qs is not None:
        q_ids, Q, qn = qs
        Qc = _sq8_codes(Q, ma)
        payload = (q_ids, ma, Qc.T.copy(), _norms(Qc), Q if inline else None, qn)
    return _Codec(column, fields, "qcos", False, _sq8_scores, payload)


def sq8_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
             scale: float | None = None) -> DataFrame:
    """Symmetric-uniform int8 (SQ8) ANN top-k: every component is
    quantized to code = clamp(floor(x·127/max_abs + 0.5), −127, 127)
    with ONE corpus-global scale, candidates are ranked by the
    quantized cosine (integer dot product normalized by integer code
    norms), and the exact float64 cosine of the ORIGINAL vectors is
    reported for the winners — the compressed-read path of int8
    inference / FAISS-style scalar quantization: 4× less memory and
    scan bandwidth than float32, 8× less than float64.

    Why symmetric-uniform and not per-dimension affine: an affine
    offset (x − lo_j) breaks dot-product geometry — the cross terms
    lo·Σx dominate and ranking collapses to noise; one global
    symmetric scale preserves angles exactly up to quantization error
    (measured recall@5 vs exact cosine ≈ 1 on the test corpus).

    Cross-engine determinism: floor(t + 0.5) instead of round()
    (numpy rounds half-to-even, Java/DuckDB half-up); the quantized
    dot and code norms are EXACT integers, so qcos =
    round(dot/(√nq·√nc), 6) is the same IEEE expression in both
    engines; ties break on neighbor_id. Self-matches excluded.

    Scale shape (the shared ``_scan_topk`` kernel, SQ8 codec): scalar
    sidecar; the per-partition Arrow kernel quantizes each batch and
    matmuls int codes against the quantized query matrix; per-partition
    top-k keeps ≤ n_q·k rows; ONE final shuffle ranks the tiny
    candidate set.

    Output: (query_id, neighbor_id, rank, score, qcos, cosine) —
    score the integer quantized dot, qcos the quantized cosine the
    ranking uses, cosine the exact refine value. ``scale`` lets the
    caller hoist the corpus max-abs sidecar out of repeated queries
    (the same convention as ivf_topk's ``centroids`` arg: the corpus
    pays the stats pass once, every query batch reuses it).
    """
    ma = sq8_scale(emb) if scale is None else float(scale)
    codec = _sq8_codec(_collect_queries(queries), ma, "embedding")
    return _scan_topk(_float_corpus(emb), codec, k)


def sq8_encode(emb: DataFrame, path: str, scale: float | None = None) -> float:
    """Materialize the SQ8 compressed layout: the corpus stored as
    int8 codes (one byte per dimension — ~4× smaller on disk and on
    the scan path than float32, ~8× than float64) plus the scalar
    scale as a one-row sidecar. This is the deployment shape of
    scalar quantization: encode ONCE at corpus-build time, serve
    every query from the code scan; sq8_topk's per-query
    re-quantization of the float corpus is only the zero-setup
    fallback. Returns the scale used."""
    spark = emb.sparkSession
    ma = sq8_scale(emb) if scale is None else float(scale)
    factor = F.lit(127.0 / ma) if ma > 0.0 else F.lit(0.0)
    codes = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.least(
            F.greatest(F.floor(x * factor + F.lit(0.5)), F.lit(-127.0)),
            F.lit(127.0),
        ).cast("tinyint"),
    )
    emb.select("vec_id", codes.alias("codes")).write.mode(
        "overwrite"
    ).parquet(f"{path}/codes")
    spark.createDataFrame([(ma,)], "ma double").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/scale")
    return ma


def sq8_topk_encoded(spark, path: str, queries: DataFrame,
                     k: int = 5) -> DataFrame:
    """ANN top-k against a stored sq8_encode layout: the corpus scan
    reads ONLY the one-byte-per-dimension code column (the 4×/8×
    bandwidth saving is physical, not just arithmetic), queries are
    quantized with the stored scale sidecar, and ranking is the same
    integer-exact quantized cosine as sq8_topk. No float corpus is
    touched, so the output is (query_id, neighbor_id, rank, score,
    qcos) — exact-cosine refine joins the winners back to the float
    table when the caller needs it (tiny: ≤ n_q·k rows).

    Engine-exactness matches sq8_topk: the stored codes were produced
    by the same floor(t+0.5) rule, and scoring is integer dot +
    integer code norms."""
    ma = float(
        spark.read.parquet(f"{path}/scale").collect()[0]["ma"]
    )
    corpus = spark.read.parquet(f"{path}/codes")
    codec = _sq8_codec(_collect_queries(queries), ma, "codes")
    return _scan_topk(corpus, codec, k)


# --------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric-distance (ADC) search
# --------------------------------------------------------------------------
#
# The third compression point in the ANN family (exact float -> SQ8
# int8 -> PQ): each vector is split into PQ_M subvectors and each
# subvector replaced by the index of its nearest sub-codebook centroid
# (Jegou et al. 2011). Storage per vector is PQ_M bytes -- 64x smaller
# than float64 at d=64/m=8 -- and search never reconstructs vectors:
# the query precomputes a (m x ksub) lookup table of subvector
# distances and every corpus code scores as m integer table lookups.
#
# Cross-engine exactness (the same discipline as SQ8/hyperplane-LSH):
# every per-dimension squared difference is quantized independently --
# floor((v_i - c_i)^2 * 1e12 + 0.5) -> BIGINT -- so sub-distances,
# code assignment (argmin, ties to the smaller centroid index) and the
# final ADC score are all INTEGER sums whose value cannot depend on
# summation order (numpy pairwise vs SQL sequential). The only float
# ops are the subtraction (exact: both operands are float32-exact
# doubles) and one correctly-rounded square+scale per dimension.
#
# The codebook is the ivf_centroids seeded sample (the ksub corpus
# vectors with smallest md5(vec_id), sliced per subspace) -- closed
# form for the value oracle.

PQ_M = 8     # subspaces; d must be divisible by m
PQ_K = 16    # centroids per sub-codebook (4-bit codes)


def pq_codebook(emb: DataFrame, m: int = PQ_M, ksub: int = PQ_K):
    """Deterministic sub-codebooks: (sample_ids, CB) with CB shaped
    (m, ksub, d/m); centroid index = rank of the sample row by vec_id
    ascending (the oracle's ROW_NUMBER() OVER (ORDER BY vec_id) - 1).
    (empty, None) for an empty corpus."""
    c_ids, C = ivf_centroids(emb, ksub)
    if C is None:
        return c_ids, None
    d = C.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    CB = C.reshape(C.shape[0], m, dsub).transpose(1, 0, 2).copy()
    return c_ids, CB


def _require_codebook(emb: DataFrame, codebook):
    if codebook is None:
        _, codebook = pq_codebook(emb)
    if codebook is None:
        raise ValueError("empty corpus: no codebook")
    return codebook


def _pq_sqdist_q(X, CB, s):
    """Integer-quantized squared distances of X's subspace s rows to
    sub-codebook s: (n, ksub) int64, each per-dimension term floored
    independently (see module comment)."""
    dsub = CB.shape[2]
    sub = X[:, s * dsub:(s + 1) * dsub]
    diff = sub[:, None, :] - CB[s][None, :, :]
    return np.floor(diff * diff * 1e12 + 0.5).astype(np.int64).sum(axis=2)


def _pq_codes(X, CB):
    """(n, m) uint8 codes: per subspace argmin of the quantized
    sub-distance; np.argmin takes the FIRST minimum = smallest
    centroid index, matching the oracle's (dq ASC, cidx ASC) rank."""
    m = CB.shape[0]
    return np.stack(
        [np.argmin(_pq_sqdist_q(X, CB, s), axis=1) for s in range(m)],
        axis=1,
    ).astype(np.uint8)


def _pq_scores(payload, X):
    _, LUT, CB = payload
    codes = X.astype(np.int64) if CB is None else _pq_codes(X, CB)
    # adist[n, q] = sum_s LUT[q, s, codes[n, s]]
    adist = np.zeros((len(X), LUT.shape[0]), dtype=np.int64)
    for s in range(LUT.shape[1]):
        adist += LUT[:, s, :].T[codes[:, s]]
    return adist, lambda r, c: {"adist": adist[r, c]}


def _pq_codec(qs, CB, column: str) -> _Codec:
    """PQ ADC distance ``adist`` (ascending) through each query's
    integer (m × ksub) LUT. Scanning the float ``embedding`` encodes
    each batch inline with CB; scanning stored ``codes`` reads them."""
    payload = None
    if qs is not None and CB is not None:
        LUT = np.stack(
            [_pq_sqdist_q(qs[1], CB, s) for s in range(CB.shape[0])], axis=1
        )
        payload = (qs[0], LUT, CB if column == "embedding" else None)
    return _Codec(column, [T.StructField("adist", T.LongType())],
                  "adist", True, _pq_scores, payload)


def _pq_encoded(frame: DataFrame, CB) -> DataFrame:
    """``frame`` with its embedding column replaced by ``codes`` (one
    tinyint per subspace, the _pq_codes argmin); other columns pass
    through. One map-only Arrow pass."""
    if CB.shape[1] > 128:
        raise ValueError("ksub > 128 does not fit the tinyint code layout")
    bcb = frame.sparkSession.sparkContext.broadcast(CB)
    out_schema = T.StructType(
        [f for f in frame.schema.fields if f.name != "embedding"]
        + [T.StructField("codes", T.ArrayType(T.ByteType()))]
    )

    def encode(batches):
        CB_v = bcb.value
        for batch in batches:
            if not len(batch):
                continue
            X = np.stack(batch["embedding"].to_numpy()).astype(np.float64)
            out = batch.drop(columns="embedding")
            out["codes"] = list(_pq_codes(X, CB_v).astype(np.int8))
            yield out

    return frame.mapInPandas(encode, out_schema)


def _write_codebook(spark, CB, path: str) -> None:
    rows = [
        (int(s), int(j), [float(x) for x in CB[s, j]])
        for s in range(CB.shape[0])
        for j in range(CB.shape[1])
    ]
    spark.createDataFrame(
        rows, "s int, cidx int, cv array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebook")


def _load_codebook(spark, path: str):
    """Codebook sidecar → CB (m, ksub, dsub)."""
    cb_rows = spark.read.parquet(f"{path}/codebook").collect()
    cb_rows.sort(key=lambda r: (r["s"], r["cidx"]))
    m = 1 + max(r["s"] for r in cb_rows)
    ksub = 1 + max(r["cidx"] for r in cb_rows)
    dsub = len(cb_rows[0]["cv"])
    return np.array([r["cv"] for r in cb_rows], dtype=np.float64).reshape(
        m, ksub, dsub
    )


def pq_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
            codebook=None) -> DataFrame:
    """ADC top-k against inline-encoded embeddings: corpus rows are
    PQ-encoded on the fly (zero-setup path; pq_encode/pq_topk_encoded
    below is the deployment shape where codes are stored), queries
    build the integer LUT once, and ranking is (adist ASC,
    neighbor_id ASC) over exact integer scores. Self-matches excluded.

    Scale shape (the shared ``_scan_topk`` kernel, PQ codec): the LUT
    broadcast is n_q x m x ksub int64 (tiny); the per-partition Arrow
    kernel encodes its batch and scores via m gathers; per-partition
    top-k keeps <= n_q*k rows; ONE final shuffle ranks the candidates.

    Output: (query_id, neighbor_id, rank, adist)."""
    if codebook is None:
        _, codebook = pq_codebook(emb)
    codec = _pq_codec(_collect_queries(queries), codebook, "embedding")
    return _scan_topk(_float_corpus(emb), codec, k)


def pq_encode(emb: DataFrame, path: str, codebook=None) -> None:
    """Materialize the PQ compressed layout: codes (PQ_M bytes per
    vector — at d=64 that is 64× smaller than float64 on the scan
    path) plus the sub-codebooks as a tiny sidecar table
    (s, cidx, cv). Encode ONCE at corpus-build time; every query is
    served from the code scan by pq_topk_encoded."""
    CB = _require_codebook(emb, codebook)
    _pq_encoded(emb.select("vec_id", "embedding"), CB).write.mode(
        "overwrite"
    ).parquet(f"{path}/codes")
    _write_codebook(emb.sparkSession, CB, path)


def pq_topk_encoded(spark, path: str, queries: DataFrame,
                    k: int = 5) -> DataFrame:
    """ADC top-k against a stored pq_encode layout: the corpus scan
    reads ONLY the m-byte code column, the codebook sidecar rebuilds
    the LUT driver-side, and scoring/ranking matches pq_topk exactly
    (stored codes came from the same argmin rule)."""
    CB = _load_codebook(spark, path)
    corpus = spark.read.parquet(f"{path}/codes")
    codec = _pq_codec(_collect_queries(queries), CB, "codes")
    return _scan_topk(corpus, codec, k)


def _refine_l2(shortlist: DataFrame, queries: DataFrame, corpus: DataFrame,
               k: int) -> DataFrame:
    """Exact float64 squared-L2 rerank of a (query_id, neighbor_id)
    shortlist to top-k by (l2 ASC, neighbor_id ASC), l2 rounded to 6
    dp. The shortlist is n_q·r rows → broadcast it against the float
    table so the rerank reads each shortlisted vector once."""
    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    nv = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("nv"),
    )
    scored = (
        nv.join(F.broadcast(shortlist.select("query_id", "neighbor_id")),
                "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "neighbor_id",
            F.round(
                F.aggregate(
                    F.zip_with("qv", "nv", lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("l2"),
        )
    )
    return _rank_topk(scored, k, "l2", ascending=True)


def ivfpq_index_write(emb: DataFrame, path: str,
                      n_cells: int = IVF_CELLS, codebook=None) -> None:
    """Materialize the IVF-PQ layout — THE 10^12-vector serving shape
    (FAISS IVFPQ): corpus coarse-partitioned by IVF cell (file-level
    partition pruning at probe time, exactly like ivf_index_write) and
    each row stored as PQ_M one-byte codes instead of floats, so a
    probe reads nprobe/n_cells of the data AND each touched row is
    ~64× narrower. Sidecars: the coarse centroids and the
    sub-codebooks. Both quantizers are the deterministic seeded
    samples (trained ones could replace them without changing any
    layout or probe code)."""
    c_ids, C = ivf_centroids(emb, n_cells)
    if C is None:
        raise ValueError("ivfpq_index_write: empty corpus")
    CB = _require_codebook(emb, codebook)
    assigned = ivf_assign(emb.select("vec_id", "embedding"), centroids=(c_ids, C))
    _write_cells(_pq_encoded(assigned, CB), path)
    _write_centroids(emb.sparkSession, c_ids, C, path)
    _write_codebook(emb.sparkSession, CB, path)


def ivfpq_topk(spark, path: str, queries: DataFrame, k: int = 5,
               nprobe: int = IVF_NPROBE,
               refine_from: DataFrame | None = None,
               refine_k: int | None = None) -> DataFrame:
    """IVF-PQ probe: nprobe nearest cells per query (same rounded-
    cosine probe order as ivf_topk_indexed — the cell filter compiles
    to PartitionFilters, file-level pruning), then integer-LUT ADC
    over the probed cells' CODE column only. With ``refine_from`` (the
    float corpus table) the ADC shortlist of ``refine_k`` (default
    4·k) candidates is re-ranked by exact float64 squared-L2 via a
    broadcast candidate join — the IVFPQ+refine serving stack.

    Output without refine: (query_id, neighbor_id, rank, adist);
    with refine: (query_id, neighbor_id, rank, l2)."""
    qs, probe, probed = _index_probe_state(spark, path, queries, nprobe)
    codec = _pq_codec(qs, _load_codebook(spark, path), "codes")
    kk = k if refine_from is None else (refine_k or 4 * k)
    shortlist = _scan_topk(_probed_index(spark, path, probed, "codes"), codec, kk, probe)
    if refine_from is None:
        return shortlist
    return _refine_l2(shortlist, queries, refine_from, k)


