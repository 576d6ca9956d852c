"""Grid-bucketed eps-connectivity spatial clustering (single-linkage
DBSCAN shape): group points into clusters where any two points within
``eps`` of each other are connected, transitively.

The reference engine has no clustering at all — this is a
brief-relative addition (the "spatial grouping" step a geospatial
training-data pipeline runs to collapse POI/stop duplicates scraped
from many sources into one canonical site, the spatial analogue of
near-dup text clustering). It deliberately reuses the engine's two
proven scale pieces:

  1. the GRID-BUCKET candidate pattern (same shape as the PIP cell
     join and the LSH band join): bin points to square cells of pitch
     exactly ``eps`` — two points within eps are then NEVER more than
     one cell apart in either axis, so replicating one side to its
     3x3 cell neighborhood turns the eps-pair search into a plain
     equi-join on cell id. Candidates per point are bounded by local
     density (9 cells), never by corpus size: no all-pairs, no
     BroadcastNestedLoopJoin, shuffle ~ 9x points. Each qualifying
     pair is produced exactly once (the pair's cell offset (dx, dy)
     is unique, and id_a < id_b kills the mirror);
  2. connected components from the dedup family
     (operators/dedup.dedup_clusters: a driver-side numpy closure up
     to CLOSURE_COLLECT_MAX_EDGES edges, min-label propagation with
     exact termination in O(diameter) rounds above it).

Distance is PLANAR in coordinate units ((dlon^2 + dlat^2) <= eps^2) —
pure +,-,*: every intermediate is a deterministic IEEE double, so a
SQL oracle reproduces the pair set bit-for-bit (the same reason
embedding LSH quantizes before its matmul). For geodesic eps at
production latitude spans, pre-scale lon by cos(lat0) per latitude
band or swap the refine predicate for haversine — the grid + CC shape
is unchanged; the engine keeps the arithmetic predicate so the
correctness gate is exact rather than transcendental-ulp-dependent.

At 100 TB: the 3x3 replication is map-side (explode of a 9-literal
array); the pair join shuffles on cell id, hash-uniform unless the
data is pathologically hot-spotted (a city with ~everything in one
eps-cell) — for that, the same salting used by pip_join_partitioned
applies per hot cell. CC cost is bounded by the PAIR graph, which the
eps-cap keeps near-linear in points for real densities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from asag_spark.operators.dedup import _cc_min_labels, dedup_clusters


def eps_pairs(points: DataFrame, eps: float, id_col: str = "point_id",
              lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """All unordered pairs (id_a < id_b) with planar distance <= eps.
    Grid-bucketed: cell pitch = eps, one side replicated to its 3x3
    neighborhood, equi-join on (cx, cy), exact refine in the join
    condition. Output: (id_a, id_b)."""
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    cx = F.floor(F.col(lon_col) / F.lit(float(eps))).cast("long")
    cy = F.floor(F.col(lat_col) / F.lit(float(eps))).cast("long")
    home = points.select(
        F.col(id_col).alias("_ia"),
        F.col(lon_col).alias("_xa"),
        F.col(lat_col).alias("_ya"),
        cx.alias("_cx"), cy.alias("_cy"),
    )
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    probe = points.select(
        F.col(id_col).alias("_ib"),
        F.col(lon_col).alias("_xb"),
        F.col(lat_col).alias("_yb"),
        cx.alias("_bx"), cy.alias("_by"),
        F.explode(offsets).alias("_o"),
    ).select(
        "_ib", "_xb", "_yb",
        (F.col("_bx") + F.col("_o.dx")).alias("_cx"),
        (F.col("_by") + F.col("_o.dy")).alias("_cy"),
    )
    dx = home["_xa"] - probe["_xb"]
    dy = home["_ya"] - probe["_yb"]
    cond = (
        (home["_cx"] == probe["_cx"]) & (home["_cy"] == probe["_cy"])
        & (home["_ia"] < probe["_ib"])
        & (dx * dx + dy * dy <= F.lit(float(eps) * float(eps)))
    )
    return home.join(probe, cond).select(
        F.col("_ia").alias("id_a"), F.col("_ib").alias("id_b")
    )


def spatial_clusters(points: DataFrame, eps: float, id_col: str = "point_id",
                     lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Label every point with its eps-connectivity cluster: cluster_id
    = the minimum point id transitively reachable through pairs closer
    than eps (so the canonical representative is cluster_id == id;
    singletons label themselves). Output:
    (point_id, cluster_id, cluster_size) — cluster_size counts ALL
    members including singletons' 1."""
    pairs = eps_pairs(points, eps, id_col, lon_col, lat_col).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    labels = dedup_clusters(pairs)
    labeled = (
        points.select(F.col(id_col).alias("point_id"))
        .join(labels.withColumnRenamed("doc_id", "point_id"), "point_id", "left")
        .select(
            "point_id",
            F.coalesce(F.col("cluster_id"), F.col("point_id")).alias("cluster_id"),
        )
    )
    return _with_sizes(labeled)


def _with_sizes(labeled: DataFrame) -> DataFrame:
    """Attach cluster_size with ONE shuffle: a count window over
    cluster_id instead of a groupBy + self-join (which would both
    recompute the labeling lineage twice and shuffle twice)."""
    w = Window.partitionBy("cluster_id")
    return labeled.select(
        "point_id", "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


# Forward half of the 5x5 sub-cell neighborhood: every unordered cell
# pair within eps reach is visited exactly once (an eps-pair's cell
# indices differ by <= 2 per axis at pitch 0.7071*eps).
_FWD_OFFSETS = tuple(
    (dx, dy)
    for dx in (0, 1, 2) for dy in (-2, -1, 0, 1, 2)
    if dx > 0 or dy > 0
)


def _local_union_find(pdf, eps: float):
    """Executor-side exact single-linkage over one block's points
    (home + halo), numpy-vectorized AND density-proof, so a HOT block
    (a metro inside one block) stays a fast Arrow task instead of a
    quadratic straggler. The quotient-graph trick: bin at pitch
    0.7071*eps, so a sub-cell's diagonal is < eps and every sub-cell
    is a CLIQUE — its points need no pairwise checks at all. Two
    sub-cells then merge iff their MINIMUM cross distance is <= eps
    (exact for single linkage: any one witness pair connects two
    cliques), so each adjacent cell pair costs one vectorized
    min-distance scan — chunked with early exit, which in dense
    regions hits a witness in the first chunk — and contributes at
    most ONE edge. Connected components run on the tiny cell graph
    (nodes = occupied sub-cells), never on a per-point pair list:
    total work is O(points + adjacent-cell scans), quadratic in
    nothing. Label = min point id in the component (order-invariant)."""
    import numpy as np
    import pandas as pd

    ids = pdf["point_id"].to_numpy()
    xs = pdf["lon"].to_numpy(dtype=np.float64)
    ys = pdf["lat"].to_numpy(dtype=np.float64)
    n = len(ids)
    if n == 0:
        return pd.DataFrame({"point_id": ids, "label": ids})
    p = eps * 0.7071  # strictly under eps/sqrt(2): diagonal < eps
    eps2 = eps * eps
    cxs = np.floor(xs / p).astype(np.int64)
    cys = np.floor(ys / p).astype(np.int64)
    order = np.lexsort((cys, cxs))
    sx, sy = cxs[order], cys[order]
    new_cell = np.empty(n, dtype=bool)
    new_cell[0] = True
    new_cell[1:] = (sx[1:] != sx[:-1]) | (sy[1:] != sy[:-1])
    starts = np.flatnonzero(new_cell)
    ends = np.concatenate([starts[1:], [n]])
    n_cells = len(starts)
    cell_at = {(int(sx[s]), int(sy[s])): k for k, s in enumerate(starts)}

    def connected(s, e, s2, e2) -> bool:
        a = order[s:e]
        b = order[s2:e2]
        xb, yb = xs[b], ys[b]
        chunk = max(1, 4_000_000 // len(b))
        for c0 in range(0, len(a), chunk):
            ac = a[c0:c0 + chunk]
            d2 = (xs[ac, None] - xb[None, :]) ** 2 \
                + (ys[ac, None] - yb[None, :]) ** 2
            if d2.min() <= eps2:
                return True
        return False

    eu, ev = [], []
    for k, (s, e) in enumerate(zip(starts, ends)):
        cx0, cy0 = int(sx[s]), int(sy[s])
        for dx, dy in _FWD_OFFSETS:
            v = cell_at.get((cx0 + dx, cy0 + dy))
            if v is not None and connected(s, e, starts[v], ends[v]):
                eu.append(k)
                ev.append(v)
    comp_cell = _cc_min_labels(
        n_cells, np.asarray(eu, dtype=np.int64), np.asarray(ev, dtype=np.int64)
    )
    # component index per point (via each point's sorted position)
    cell_of_sorted = np.cumsum(new_cell) - 1
    comp_pt = np.empty(n, dtype=np.int64)
    comp_pt[order] = comp_cell[cell_of_sorted]
    lab = pd.Series(ids).groupby(comp_pt).transform("min").to_numpy()
    return pd.DataFrame({"point_id": ids, "label": lab})


def spatial_clusters_partitioned(points: DataFrame, eps: float,
                                 block_cells: int = 256,
                                 id_col: str = "point_id",
                                 lon_col: str = "lon",
                                 lat_col: str = "lat") -> DataFrame:
    """Two-level exact eps-connectivity clustering — the web-scale plan
    (same output contract as spatial_clusters, parity-tested).

    spatial_clusters runs GLOBAL min-label propagation: 2 shuffles + a
    driver count per round over the whole pair graph, O(component
    diameter) rounds. Exact, but at 10^9+ points every round touches
    every edge. This variant exploits that single-linkage is LOCAL
    except at partition boundaries (the partition-then-merge shape of
    MR-DBSCAN, He et al. 2011):

      1. bin points to square blocks of pitch block_cells*eps and
         replicate each point to every block whose eps-expanded extent
         contains it (<= 4 blocks, and only for points within eps of a
         boundary — replication factor ~ 1 + 4/block_cells);
      2. per block, ONE Arrow stage runs the exact in-memory
         union-find (eps-cell binning, the same 3x3 candidate pattern)
         — every eps-pair is witnessed in at least one block because
         the halo is exactly eps;
      3. a point replicated to k blocks carries k local labels; those
         label-label identities are the ONLY global edges. The
         iterative closure (dedup_clusters, unchanged) runs on that
         boundary-label graph — O(boundary points), a vanishing
         fraction of the corpus — and interior points never enter a
         propagation round at all.

    Exactness: a local label is the min point id of a block-local
    component; global components are unions of local components glued
    by shared (replicated) points, which is precisely the label graph
    closed in step 3; the global min point id is its own local min, so
    the final cluster_id convention (min reachable point id) is
    preserved. block_cells dials skew: a hot block (a metro inside one
    block) is one Arrow task — shrink block_cells to split it, the
    halo cost rises as 4/block_cells. The 256 default comes from a
    measured A/B at 1M points (64 → 7.1 s, 256 → 3.9 s, 1024 → 3.7 s,
    identical labels): small blocks multiply per-group Arrow/pandas
    fixed costs across thousands of tiny groups long before skew is a
    concern.

    The boundary-label closure (dedup_clusters) picks its strategy at
    runtime from the exact edge count (CLOSURE_COLLECT_MAX_EDGES in
    operators/dedup.py): small graphs close on the driver with the
    same numpy CC kernel the local stage uses; larger graphs run the
    distributed iterative closure."""
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    if block_cells < 2:
        raise ValueError(f"block_cells must be >= 2, got {block_cells}")
    B = float(eps) * block_cells
    e = float(eps)
    pts = points.select(
        F.col(id_col).alias("point_id"),
        F.col(lon_col).cast("double").alias("lon"),
        F.col(lat_col).cast("double").alias("lat"),
    )
    lo_x = F.floor((F.col("lon") - e) / B).cast("long")
    hi_x = F.floor((F.col("lon") + e) / B).cast("long")
    lo_y = F.floor((F.col("lat") - e) / B).cast("long")
    hi_y = F.floor((F.col("lat") + e) / B).cast("long")
    # a point lands in 1, 2, or 4 blocks (eps < B/2 guaranteed above);
    # array_distinct collapses the duplicates for interior points
    blocks = F.array_distinct(F.array(*[
        F.struct(bx.alias("bx"), by.alias("by"))
        for bx in (lo_x, hi_x) for by in (lo_y, hi_y)
    ]))
    rep = pts.select(
        "point_id", "lon", "lat", F.explode(blocks).alias("_b")
    ).select("point_id", "lon", "lat",
             F.col("_b.bx").alias("bx"), F.col("_b.by").alias("by"))

    def _cc(pdf):
        return _local_union_find(pdf, e)

    local = rep.groupBy("bx", "by").applyInPandas(
        _cc, "point_id long, label long"
    )
    # per_point feeds BOTH the merge-edge extraction and the final
    # relabel join — persist it so the Arrow local-CC stage runs once,
    # then cut the returned plan loose with a localCheckpoint before
    # unpersisting (same lifecycle idiom as dedup_clusters' edge cache)
    per_point = local.groupBy("point_id").agg(
        F.min("label").alias("_l0"),
        F.collect_set("label").alias("_ls"),
    ).persist()
    try:
        merge_edges = (
            per_point.filter(F.size("_ls") > 1)
            .select(F.col("_l0").alias("doc_a"), F.explode("_ls").alias("doc_b"))
            .filter(F.col("doc_a") != F.col("doc_b"))
        )
        # dedup_clusters gates its own closure strategy at runtime
        # (CLOSURE_COLLECT_MAX_EDGES in operators/dedup.py): small
        # boundary-label graphs close driver-side with the numpy CC
        # kernel and come back broadcast-sized, large ones run the
        # distributed propagation — one decision point for every
        # consumer of the closure
        roots = dedup_clusters(merge_edges).withColumnRenamed(
            "doc_id", "_l0"
        )
        labeled = (
            per_point.join(roots, "_l0", "left")
            .select(
                "point_id",
                F.coalesce(
                    F.col("cluster_id"), F.col("_l0")
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
    finally:
        per_point.unpersist()
    return _with_sizes(labeled)


def within_distance_join(
    left: DataFrame, right: DataFrame, eps: float,
    left_id: str = "left_id", right_id: str = "right_id",
    lon_col: str = "lon", lat_col: str = "lat",
) -> DataFrame:
    """Two-table fixed-radius spatial join: every (left, right) pair
    with planar distance <= eps — the generic sibling of eps_pairs
    (self-join) and knn_join (nearest-k): "all POIs within 250 m of
    each stop place". Output (left_id, right_id, dist_sq); dist_sq
    stays squared so the whole predicate is +,-,* (module docstring's
    exactness discipline — no sqrt in the gate).

    Same grid-bucket shape as eps_pairs: pitch = eps, the RIGHT side
    replicates to its 3x3 cell neighborhood map-side, a plain
    equi-join on (cx, cy) carries the exact refine in its condition.
    No dedup gymnastics are needed (the two sides are distinct tables,
    so each qualifying pair meets in exactly one cell — the left
    point's home cell). Shuffle = left + 9x right, both hash-uniform
    on cell id; hot cells split by AQE skew-join or the
    pip_join_partitioned salting if a city concentrates one cell."""
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    pitch = float(eps)
    cx = F.floor(F.col(lon_col) / F.lit(pitch)).cast("long")
    cy = F.floor(F.col(lat_col) / F.lit(pitch)).cast("long")
    home = left.select(
        F.col(left_id).alias("_ia"),
        F.col(lon_col).alias("_xa"), F.col(lat_col).alias("_ya"),
        cx.alias("_cx"), cy.alias("_cy"),
    )
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    probe = right.select(
        F.col(right_id).alias("_ib"),
        F.col(lon_col).alias("_xb"), F.col(lat_col).alias("_yb"),
        cx.alias("_bx"), cy.alias("_by"),
        F.explode(offsets).alias("_o"),
    ).select(
        "_ib", "_xb", "_yb",
        (F.col("_bx") + F.col("_o.dx")).alias("_cx"),
        (F.col("_by") + F.col("_o.dy")).alias("_cy"),
    )
    dx = home["_xa"] - probe["_xb"]
    dy = home["_ya"] - probe["_yb"]
    cond = (
        (home["_cx"] == probe["_cx"]) & (home["_cy"] == probe["_cy"])
        & (dx * dx + dy * dy <= F.lit(pitch * pitch))
    )
    return home.join(probe, cond).select(
        F.col("_ia").alias(left_id),
        F.col("_ib").alias(right_id),
        ((home["_xa"] - probe["_xb"]) * (home["_xa"] - probe["_xb"])
         + (home["_ya"] - probe["_yb"]) * (home["_ya"] - probe["_yb"])
         ).alias("dist_sq"),
    )
