"""Point-in-polygon join (SURVEY.md §2.3, the operator the north_rule
adds beyond the reference).

Strategy (100 TB-ready):

1. The polygon side (tariff zones / municipalities) is SMALL relative
   to the point side — registry-scale, like the reference's zone set.
   Its exterior rings are parsed once and broadcast to every executor
   (the "broadcast R-tree side" of BASELINE.json; here a dict keyed by
   hex cell instead of an STRtree — same role: O(1) candidate lookup).
2. Candidate pruning is a CELL PRE-JOIN: each zone is expanded to the
   res-7 hex cells covering its bbox (cover_bbox), each point gets its
   res-7 cell — a broadcast equi-join on the cell id. The big point
   side never shuffles.
3. Exact refine: even-odd ray cast (geo.wkt.points_in_ring) inside an
   Arrow-batched pandas UDF, vectorized across the batch per zone.

Skew: dense urban cells only inflate the candidate row count of those
cells' points; the join stays broadcast so no shuffle hotspot exists.
A salt column is unnecessary here — there is no shuffle to skew.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import hexgrid
from ..geo.wkt import parse_polygon, points_in_ring, ring_bbox

PIP_RES = 7
PIP_SALT = 16


def _best_wkt_per_id(rows: list, id_key: str) -> dict[str, str]:
    """THE dirty-input dedup rule, in one place: duplicate ids keep
    the max geom_wkt (deterministic, matches nothing on clean input).
    Shared by _zone_index, pip_join_partitioned's relational spelling,
    and snap_to_lines so the variants can never diverge on the same
    dirty input."""
    best: dict[str, str] = {}
    for row in rows:
        rid, wkt = row[id_key], row["geom_wkt"]
        if rid not in best or wkt > best[rid]:
            best[rid] = wkt
    return best


def _zone_index(zones_rows: list) -> tuple[dict, dict]:
    """rings[zone_id] = (N,2) ring; cover[cell_qr] = [zone_id, ...].

    Dirty-input guard: duplicate zone_id rows keep the max geom_wkt
    (_best_wkt_per_id — the same rule pip_join_partitioned applies) —
    so both PIP variants agree (and no zone appears twice in a cell's
    cover list, which would duplicate output rows)."""
    best = _best_wkt_per_id(zones_rows, "zone_id")
    rings: dict[str, np.ndarray] = {}
    cover: dict[tuple[int, int], list[str]] = {}
    for zid in best:
        ring = parse_polygon(best[zid])
        rings[zid] = ring
        bb = ring_bbox(ring)
        for qr in hexgrid.cover_bbox(*bb, res=PIP_RES):
            cover.setdefault(qr, []).append(zid)
    return rings, cover


def zone_covers(zones: DataFrame, res: int = PIP_RES) -> DataFrame:
    """Explode each zone polygon to its covering hex cells at ``res``
    (bbox cover + pad ring — the candidate-generation primitive; exact
    refinement always follows with the ray cast). Arrow-batched.

    Output: (zone_id, cell) — deterministic pure function of the ring.
    """
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("zone_id", T.StringType()),
            T.StructField("cell", T.StringType()),
        ]
    )

    def expand(batches):
        for pdf in batches:
            zids, cells = [], []
            for zid, wkt in zip(pdf["zone_id"], pdf["geom_wkt"]):
                ring = parse_polygon(wkt)
                for q, r in hexgrid.cover_bbox(*ring_bbox(ring), res=res):
                    zids.append(zid)
                    cells.append(f"h{res}_{q}_{r}")
            yield pd.DataFrame({"zone_id": zids, "cell": cells})

    return zones.select("zone_id", "geom_wkt").mapInPandas(expand, schema=schema)


def zone_polyfill(zones: DataFrame, res: int = PIP_RES) -> DataFrame:
    """EXACT hex polyfill (the H3 polygonToCells semantic): the cells
    whose CENTER lies inside the zone's exterior ring — the coverage-
    map / rasterization primitive that ``zone_covers`` (bbox cover,
    candidate generation) deliberately over-approximates. Center-in-
    ring is the standard polyfill membership rule: cells partition by
    their centers, so two adjacent zones' polyfills never overlap and
    a planar subdivision's polyfill is a partition of its cells.

    Determinism: candidate cells enumerate from the projected bbox
    corner range (cover_bbox's exact axial-extent argument) and each
    center maps back through the EXACT lattice inverse
    (hexgrid.cell_center_exact — y alone fixes lat, then lon is the
    unique preimage), so membership is a pure function of (ring, res)
    at any parallelism.

    Plan shape: one Arrow mapInPandas over the zone table, per-zone
    work O(bbox cells) with the ray cast vectorized across all
    candidate centers at once; NO shuffle, no join — zones distribute
    across partitions, a continent-scale cadastre polyfills
    embarrassingly parallel. Output: (zone_id, cell), cell =
    ``h{res}_{q}_{r}``.
    """
    schema = T.StructType(
        [
            T.StructField("zone_id", T.StringType()),
            T.StructField("cell", T.StringType()),
        ]
    )
    # dirty-input guard (the _best_wkt_per_id rule, relational
    # spelling): duplicate zone_id rows would emit duplicate
    # (zone_id, cell) rows and inflate coverage stats
    zones = zones.groupBy("zone_id").agg(F.max("geom_wkt").alias("geom_wkt"))

    def fill(batches):
        from ..geo import hexgrid

        for pdf in batches:
            zids, cells = [], []
            for zid, wkt in zip(pdf["zone_id"], pdf["geom_wkt"]):
                ring = parse_polygon(wkt)
                cand = hexgrid.cover_bbox(*ring_bbox(ring), res=res)
                q = np.array([c[0] for c in cand], dtype=np.int64)
                r = np.array([c[1] for c in cand], dtype=np.int64)
                clon, clat = hexgrid.cell_center_exact(q, r, res)
                inside = points_in_ring(clon, clat, ring)
                for qq, rr in zip(q[inside], r[inside]):
                    zids.append(zid)
                    cells.append(f"h{res}_{qq}_{rr}")
            yield pd.DataFrame({"zone_id": zids, "cell": cells})

    return zones.select("zone_id", "geom_wkt").mapInPandas(fill, schema=schema)


def _batch_candidates(lon: np.ndarray, lat: np.ndarray,
                      cover: dict) -> dict[str, np.ndarray]:
    """zone_id → indices of batch points whose res-7 cell is in that
    zone's cover — the shared candidate-generation step of the PIP
    kernels. Lookup per UNIQUE cell, not per point: points cluster
    (Zipf urban skew), so unique cells << points and the Python loop
    cost is O(cells), with numpy carrying the per-point work
    (sort + slice; the ray cast follows in the caller)."""
    q, r = hexgrid.cell_qr(lon, lat, PIP_RES)
    key = (q.astype(np.int64) << 32) ^ (r.astype(np.int64) & 0xFFFFFFFF)
    uniq, rep, inv = np.unique(key, return_index=True, return_inverse=True)
    order = np.argsort(inv, kind="stable")
    bounds = np.searchsorted(inv[order], np.arange(len(uniq) + 1))
    zone_to_pts: dict[str, list[np.ndarray]] = {}
    for ci in range(len(uniq)):
        zids = cover.get((int(q[rep[ci]]), int(r[rep[ci]])), ())
        if not zids:
            continue
        pts = order[bounds[ci]:bounds[ci + 1]]
        for zid in zids:
            zone_to_pts.setdefault(zid, []).append(pts)
    return {
        zid: (parts[0] if len(parts) == 1 else np.concatenate(parts))
        for zid, parts in zone_to_pts.items()
    }


def pip_join(points: DataFrame, zones: DataFrame,
             id_col: str = "feature_id",
             lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """(point id, zone_id) pairs for every point inside a zone polygon.

    ``points``: any frame with id/lon/lat. ``zones``: schema.ZONES.
    Output columns: (<id_col>, zone_id) — matching pip_golden
    (FIXTURES.md §4).
    """
    spark = points.sparkSession
    rings, cover = _zone_index(zones.collect())
    bc = spark.sparkContext.broadcast((rings, cover))

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.StringType()),
            T.StructField("zone_id", T.StringType()),
        ]
    )

    def refine(batches):
        rings_l, cover_l = bc.value
        for pdf in batches:
            lon = pdf[lon_col].to_numpy(dtype="float64", na_value=np.nan)
            lat = pdf[lat_col].to_numpy(dtype="float64", na_value=np.nan)
            ids = pdf[id_col].to_numpy(dtype=object)
            ok = ~(np.isnan(lon) | np.isnan(lat))
            if not ok.any():
                yield pd.DataFrame({id_col: [], "zone_id": []})
                continue
            lon, lat, ids = lon[ok], lat[ok], ids[ok]
            out_ids, out_zones = [], []
            for zid, pis_a in _batch_candidates(lon, lat, cover_l).items():
                inside = points_in_ring(lon[pis_a], lat[pis_a], rings_l[zid])
                hit = pis_a[inside]
                out_ids.extend(ids[hit])
                out_zones.extend([zid] * len(hit))
            yield pd.DataFrame({id_col: out_ids, "zone_id": out_zones})

    return points.select(id_col, lon_col, lat_col).mapInPandas(
        refine, schema=out_schema
    )


def pip_join_partitioned(points: DataFrame, zones: DataFrame,
                         id_col: str = "feature_id",
                         lon_col: str = "lon",
                         lat_col: str = "lat") -> DataFrame:
    """Broadcast-free PIP join — the plan for when the polygon side
    outgrows a broadcast (continent-scale cadastral tables, SCALE.md
    §4). Output rows are IDENTICAL to ``pip_join``; only the physical
    plan differs.

    Shape:
    1. candidates: points get their res-7 cell as a codegen'd JVM
       expression (`functions.hex_cell` — same lattice as the numpy
       covers) and shuffle-join `zone_covers` on the cell id. Both
       sides exchange narrow rows only; dense-cell skew lands on a
       JOIN exchange, which AQE skew-split handles.
    2+3. geometry attach + exact refine in ONE salted cogroup:
       candidates and (salt-replicated) zone rows both key by
       (zone_id, salt) and meet in applyInPandas — each ring crosses
       the wire and the Arrow boundary once per group, never once per
       candidate, and the salt splits a hot zone's candidates across
       PIP_SALT groups so no polygon pins a single task. The ray cast
       runs vectorized over each group.

    Broadcast `pip_join` stays the default: its point side never
    shuffles at all. This variant trades two narrow exchanges for
    dropping the requirement that the zone index fit on every
    executor."""
    from ..functions import hex_cell

    # dirty-input guard: duplicate zone_id rows would double candidates
    # via duplicated covers and make refine's ring pick arbitrary —
    # keep one row per zone_id (max geom_wkt: deterministic, and
    # matches nothing when zones are clean, the normal case)
    zones = zones.groupBy("zone_id").agg(F.max("geom_wkt").alias("geom_wkt"))
    pts = points.select(
        F.col(id_col), F.col(lon_col).alias("_lon"), F.col(lat_col).alias("_lat")
    ).filter(F.col("_lon").isNotNull() & F.col("_lat").isNotNull())
    cand = (
        pts.withColumn("cell", hex_cell(F.col("_lon"), F.col("_lat"), PIP_RES))
        .join(zone_covers(zones, res=PIP_RES).hint("shuffle_hash"), "cell")
        # cast to int to EXACTLY match the zone side's salt type:
        # cogroup with type-mismatched keys (bigint pmod vs int
        # literal) does NOT unify them before the exchange — each side
        # hashes its own representation, the same logical key lands in
        # different partitions per side, and ~90% of groups silently
        # arrive with one side empty (measured: 1,536 invocations for
        # 800 true keys, 1.19M of 1.31M candidates lost)
        .withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(PIP_SALT)).cast("int"),
        )
        .select(id_col, "_lon", "_lat", "zone_id", "_salt")
    )
    # geometry rides the cogroup's RIGHT side: one ring per (zone, salt)
    # group instead of one per candidate row — attaching the WKT with a
    # plain join duplicated each ring into every candidate crossing the
    # JVM→Arrow boundary (~ring-size× the necessary transfer; measured
    # ~1.4 GB at the 931k-candidate bench). The salt splits a hot
    # zone's candidates across PIP_SALT groups so a metro-covering
    # polygon cannot pin one task; its cost is PIP_SALT copies of each
    # ring, which is negligible.
    zsalt = zones.select("zone_id", "geom_wkt").withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(PIP_SALT)]))
    )

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.StringType()),
            T.StructField("zone_id", T.StringType()),
        ]
    )

    def refine(key, cand_pdf, zone_pdf):
        if not len(cand_pdf) or not len(zone_pdf):
            return pd.DataFrame({id_col: [], "zone_id": []})
        ring = parse_polygon(zone_pdf["geom_wkt"].iloc[0])
        lon = cand_pdf["_lon"].to_numpy(dtype="float64")
        lat = cand_pdf["_lat"].to_numpy(dtype="float64")
        inside = points_in_ring(lon, lat, ring)
        return pd.DataFrame(
            {
                id_col: cand_pdf[id_col].to_numpy(dtype=object)[inside],
                "zone_id": key[0],
            }
        )

    return (
        cand.groupBy("zone_id", "_salt")
        .cogroup(zsalt.groupBy("zone_id", "_salt"))
        .applyInPandas(refine, schema=out_schema)
    )


def pip_anti_join(points: DataFrame, zones: DataFrame,
                  id_col: str = "feature_id",
                  lon_col: str = "lon", lat_col: str = "lat",
                  with_coords: bool = False) -> DataFrame:
    """Spatial ANTI-join: ids of points inside NO zone polygon — the
    coverage-gap audit every zone-assignment pipeline needs (stops the
    tariff map forgot, docs outside every municipality). Complements
    pip_join the way LEFT ANTI complements INNER.

    Plan shape (100 TB): PIP membership is a PER-POINT predicate, so
    the anti set needs no join at all — the same broadcast cell-index
    + vectorized ray cast as ``pip_join``, output inverted per Arrow
    batch in ONE mapInPandas pass over the point side. A naive
    ``points LEFT ANTI JOIN pip_join(...)`` would scan the points
    twice and shuffle both sides on the id; this emits identical rows
    with zero exchange. Short-circuit: each zone ray-casts only the
    batch points not already covered by an earlier zone, so overlap-
    heavy zone sets do strictly less work than the positive variant.

    Null-coordinate points follow pip_join's contract (the caller
    filters them; they are neither covered nor reported).
    Output: (<id_col>) — one row per uncovered point; with
    ``with_coords`` also (<lon_col>, <lat_col>), so a downstream
    fallback (e.g. knn.snap_nearest_zone) needs no join back to the
    big point table.
    """
    spark = points.sparkSession
    rings, cover = _zone_index(zones.collect())
    bc = spark.sparkContext.broadcast((rings, cover))
    fields = [T.StructField(id_col, T.StringType())]
    if with_coords:
        fields += [T.StructField(lon_col, T.DoubleType()),
                   T.StructField(lat_col, T.DoubleType())]
    out_schema = T.StructType(fields)

    def refine(batches):
        rings_l, cover_l = bc.value
        for pdf in batches:
            lon = pdf[lon_col].to_numpy(dtype="float64", na_value=np.nan)
            lat = pdf[lat_col].to_numpy(dtype="float64", na_value=np.nan)
            ids = pdf[id_col].to_numpy(dtype=object)
            ok = ~(np.isnan(lon) | np.isnan(lat))
            if not ok.any():
                yield pd.DataFrame({c.name: [] for c in fields})
                continue
            lon, lat, ids = lon[ok], lat[ok], ids[ok]
            covered = np.zeros(len(ids), dtype=bool)
            for zid, pis_a in _batch_candidates(lon, lat, cover_l).items():
                pis_a = pis_a[~covered[pis_a]]
                if not len(pis_a):
                    continue
                inside = points_in_ring(lon[pis_a], lat[pis_a], rings_l[zid])
                covered[pis_a[inside]] = True
            out = {id_col: ids[~covered]}
            if with_coords:
                out[lon_col] = lon[~covered]
                out[lat_col] = lat[~covered]
            yield pd.DataFrame(out)

    return points.select(id_col, lon_col, lat_col).mapInPandas(
        refine, schema=out_schema
    )


def pip_flag_join(points: DataFrame, zones: DataFrame,
                  lon_col: str = "lon", lat_col: str = "lat",
                  flag_col: str = "covered") -> DataFrame:
    """Append a boolean ``covered`` column (inside ANY zone) while
    keeping EVERY input column — the generic form of pip_join /
    pip_anti_join for pipelines that need the membership bit alongside
    other data (e.g. the streaming coverage-gap monitor, which windows
    uncovered points by event time: the positive/anti variants drop
    the timestamp). Same zero-exchange broadcast kernel; STATELESS, so
    it runs unchanged on a Structured Streaming frame (mapInPandas is
    streaming-capable; watermarks/windows attach downstream).

    Null coordinates yield ``covered = false`` here — rows survive (a
    monitor must see them), unlike pip_join/pip_anti_join's
    filter-first contract where they vanish from both sides.
    """
    spark = points.sparkSession
    rings, cover = _zone_index(zones.collect())
    bc = spark.sparkContext.broadcast((rings, cover))
    out_schema = T.StructType(
        list(points.schema.fields) + [T.StructField(flag_col, T.BooleanType())]
    )

    def refine(batches):
        rings_l, cover_l = bc.value
        for pdf in batches:
            covered_full = np.zeros(len(pdf), dtype=bool)
            lon = pdf[lon_col].to_numpy(dtype="float64", na_value=np.nan)
            lat = pdf[lat_col].to_numpy(dtype="float64", na_value=np.nan)
            ok = ~(np.isnan(lon) | np.isnan(lat))
            if ok.any():
                idx = np.nonzero(ok)[0]
                lon_o, lat_o = lon[ok], lat[ok]
                covered = np.zeros(len(idx), dtype=bool)
                for zid, pis in _batch_candidates(lon_o, lat_o, cover_l).items():
                    pis = pis[~covered[pis]]
                    if not len(pis):
                        continue
                    inside = points_in_ring(lon_o[pis], lat_o[pis], rings_l[zid])
                    covered[pis[inside]] = True
                covered_full[idx] = covered
            out = pdf.copy()
            out[flag_col] = covered_full
            yield out

    return points.mapInPandas(refine, schema=out_schema)


SNAP_RES = 7
# auto-gate: measured on the bench workload (931k points x the
# 50-zone/300-edge registry, local[32], steady-state): pruned 5.4-5.6 s
# vs dense 7.4-12.5 s — per-point cost tracks LOCAL edge density under
# the prune, so it wins well below registry scale; dense only pays off
# when the per-unique-cell Python overhead dominates (small edge sets
# AND small/scattered point sets, where both strategies are trivial)
SNAP_DENSE_MAX_EDGES = 256
SNAP_D_CAP_M = 400_000.0   # pruned-path search-radius validity cap
_SNAP_JUMP_G = 16          # empty rings scanned before the vectorized jump
# second gate (VERDICT r04 #1): above this many edges the edge set is
# never collect()ed — the index builds distributed (_snap_distributed)
SNAP_DIST_MIN_EDGES = 100_000
SNAP_DIST_RES_MIN = 1      # coarsest coarsening round (EDGE_M[1] ≈ 419 km)
SNAP_DIST_FALLBACK_MAX = 500_000  # open points the inverted fallback may hold


def _edge_buckets(A: np.ndarray, B: np.ndarray,
                  res: int) -> dict[tuple[int, int], np.ndarray]:
    """cell (q, r) → sorted edge indices whose segment may intersect
    the cell — the snap prune's candidate index (the edge-set analogue
    of _zone_index's cover dict). Long edges are SPLIT into ~cell-size
    pieces before covering so a diagonal segment indexes O(length/s)
    cells, not the O(length²/s²) cells of its full bbox; each piece's
    bbox rides cover_bbox's pad-1 guarantee (every cell containing any
    part of the piece is within the rounded corner range ± 1), so the
    union over pieces covers every cell the edge touches — the
    contrapositive the prune's correctness rests on: an edge absent
    from all buckets within hex-distance g lies entirely in cells at
    distance ≥ g."""
    from ..geo.hexgrid import EDGE_M, _project, cover_bbox

    s = EDGE_M[res]
    ax_m, ay_m = _project(A[:, 0], A[:, 1])
    bx_m, by_m = _project(B[:, 0], B[:, 1])
    n_sub = np.maximum(
        1, np.ceil(np.hypot(bx_m - ax_m, by_m - ay_m) / s).astype(np.int64)
    )
    buckets: dict[tuple[int, int], list[int]] = {}
    for i in range(len(A)):
        m = int(n_sub[i])
        ts = np.linspace(0.0, 1.0, m + 1)
        px = A[i, 0] + ts * (B[i, 0] - A[i, 0])
        py = A[i, 1] + ts * (B[i, 1] - A[i, 1])
        cells_i: set[tuple[int, int]] = set()
        for j in range(m):
            cells_i.update(cover_bbox(
                min(px[j], px[j + 1]), min(py[j], py[j + 1]),
                max(px[j], px[j + 1]), max(py[j], py[j + 1]),
                res=res,
            ))
        for c in cells_i:
            buckets.setdefault(c, []).append(i)
    # appended in ascending i → already sorted (the argmin tie rule
    # needs candidate sets in global (zone_id, edge_idx) order)
    return {c: np.asarray(ix, dtype=np.int64) for c, ix in buckets.items()}


def snap_to_boundary(points: DataFrame, zones: DataFrame,
                     id_col: str = "feature_id",
                     lon_col: str = "lon", lat_col: str = "lat",
                     mode: str = "auto",
                     res: int = SNAP_RES,
                     dense_max_edges: int = SNAP_DENSE_MAX_EDGES,
                     dist_min_edges: int = SNAP_DIST_MIN_EDGES) -> DataFrame:
    """Nearest-boundary-edge snap (the map-matching primitive): for
    every point, the closest point ON any zone's exterior-ring edge —
    projection onto the segment, clamped to its endpoints — plus the
    owning zone/edge and the great-circle snap distance.

    Geometry: the projection parameter t = clamp(((p−a)·(b−a)) /
    |b−a|², 0, 1) is computed in lon/lat degree space with latitude
    scaled by cos(mean ring latitude) (the standard local equirect
    correction — without it, east-west distances near 59°N are
    overweighted ~2×); distances for the argmin and the reported
    dist_m are haversine meters to the candidate snap point, so the
    winner is chosen by true metric distance among the per-edge
    projections. Ties break (zone_id ASC, edge_idx ASC).

    THREE physical strategies behind one result (gated like
    dedup_clusters' closure: ``mode="auto"`` picks ``"pruned"`` iff
    the edge count exceeds ``dense_max_edges`` and ``"distributed"``
    iff it exceeds ``dist_min_edges`` — the second gate is evaluated
    FIRST, from a comma-count estimate (_edge_count_estimate), so
    above it the edge set is never collect()ed at all):

    * dense — registry-scale edge sets (the reference's ~50-zone
      world): edges broadcast as dense numpy arrays, one Arrow
      mapInPandas pass, a chunked (n × E) vectorized kernel, NO
      shuffle. Per-point cost is uniform, so urban skew is irrelevant.
    * pruned — the continent-scale cadastral escape hatch (10^6+
      edges): edges are additionally bucketed per hex cell at ``res``
      (``_edge_buckets``; long edges split so they index O(length)
      cells), and each Arrow batch groups its points by cell
      (`_batch_candidates`' unique-cell trick) and ring-expands
      (hexgrid.grid_ring) until candidates appear — with a vectorized
      nearest-occupied-cell jump after ``_SNAP_JUMP_G`` empty rings —
      then keeps expanding until every unexplored cell is provably
      farther than the worst tentative snap: an edge absent from all
      buckets within hex-distance g lies entirely in cells at
      distance ≥ g, whose projected distance to anything in the
      point's cell is ≥ (1.5·g − 2)·s exactly (lattice geometry:
      center spacing ≥ 1.5·s·g, minus two circumradii), deflated to
      true meters by the same projection-shear operator norm
      _cell_bound uses — evaluated with the shear inflated to its
      maximum over the whole SNAP_D_CAP_M search disk, and a cell
      whose snap distance would exceed 0.9×cap falls back to the
      dense kernel outright, so the bound never relies on the local
      Jacobian beyond its validity region. The exact kernel then runs
      on the candidate subset only — float-identical to dense
      (elementwise math on subset arrays), same first-min tie rule
      (candidate ids stay in ascending global order), parity-swept in
      tests/test_spatial.py. Still one mapInPandas pass, NO shuffle;
      the only new driver-side cost is the bucket build, O(total edge
      length / cell size).

    * distributed — the gate VERDICT r04 #1 asked for: above
      ``dist_min_edges`` (or ``mode="distributed"``) the index builds
      executor-side and the search runs as a cell-join coarsening
      ladder with an inverted broadcast fallback — see
      _snap_distributed. No driver-side edge loop, no dense broadcast.

    Output: (feature_id, zone_id, edge_idx, snap_lon, snap_lat,
    dist_m) — snap coords rounded to 7 dp, dist_m to 3 dp.
    """
    if mode not in ("auto", "dense", "pruned", "distributed"):
        raise ValueError(f"snap: unknown mode {mode!r}")
    if mode == "distributed" or (
        mode == "auto" and _edge_count_estimate(zones) > dist_min_edges
    ):
        edges = _paths_to_edges(zones, "zone_id", kind="ring")
        return _snap_distributed(points, edges, id_col=id_col,
                                 lon_col=lon_col, lat_col=lat_col,
                                 group_col="zone_id", res=res)
    zrows = zones.select("zone_id", "geom_wkt").collect()
    rings, _ = _zone_index(zrows)
    if not rings:
        raise ValueError("snap_to_boundary: no zones")
    return _snap_to_paths(points, rings, id_col=id_col, lon_col=lon_col,
                          lat_col=lat_col, mode=mode, res=res,
                          dense_max_edges=dense_max_edges,
                          group_col="zone_id")


def snap_to_lines(points: DataFrame, lines: DataFrame,
                  id_col: str = "feature_id",
                  lon_col: str = "lon", lat_col: str = "lat",
                  mode: str = "auto",
                  res: int = SNAP_RES,
                  dense_max_edges: int = SNAP_DENSE_MAX_EDGES,
                  dist_min_edges: int = SNAP_DIST_MIN_EDGES) -> DataFrame:
    """Map-matching against LINESTRING route geometries: for every
    point, the closest point ON any line's segment (clamped projection)
    plus the owning line/segment and the great-circle snap distance —
    the stop-to-route matcher that pairs with ``snap_to_boundary`` the
    way routes pair with zones. Identical kernel, identical dense /
    pruned strategy gate and candidate bound (see snap_to_boundary);
    the only difference is the path source: OPEN polylines (no closing
    vertex), so a K-vertex line contributes K-1 segments.

    ``lines``: (line_id, geom_wkt) with LINESTRING WKT; duplicate
    line_id rows keep the max geom_wkt (the _zone_index rule). Ties
    break (line_id ASC, edge_idx ASC).

    Output: (feature_id, line_id, edge_idx, snap_lon, snap_lat,
    dist_m) — snap coords 7 dp, dist_m 3 dp.
    """
    from ..geo.wkt import parse_linestring

    if mode not in ("auto", "dense", "pruned", "distributed"):
        raise ValueError(f"snap: unknown mode {mode!r}")
    if mode == "distributed" or (
        mode == "auto" and _edge_count_estimate(lines) > dist_min_edges
    ):
        edges = _paths_to_edges(lines, "line_id", kind="line")
        return _snap_distributed(points, edges, id_col=id_col,
                                 lon_col=lon_col, lat_col=lat_col,
                                 group_col="line_id", res=res)
    best = _best_wkt_per_id(
        lines.select("line_id", "geom_wkt").collect(), "line_id"
    )
    if not best:
        raise ValueError("snap_to_lines: no lines")
    paths = {lid: parse_linestring(best[lid]) for lid in best}
    return _snap_to_paths(points, paths, id_col=id_col, lon_col=lon_col,
                          lat_col=lat_col, mode=mode, res=res,
                          dense_max_edges=dense_max_edges,
                          group_col="line_id")


def _snap_to_paths(points: DataFrame, paths: dict, *, id_col: str,
                   lon_col: str, lat_col: str, mode: str, res: int,
                   dense_max_edges: int, group_col: str) -> DataFrame:
    """Shared snap engine: ``paths`` maps group id → (N,2) vertex
    array (closed ring or open polyline — consecutive vertex pairs are
    the segments either way). One implementation behind
    snap_to_boundary and snap_to_lines so the kernel, the strategy
    gate, and the pruned candidate bound can never drift apart."""
    if mode not in ("auto", "dense", "pruned"):
        raise ValueError(f"snap: unknown mode {mode!r}")
    spark = points.sparkSession
    zids, eidx, A, B = [], [], [], []
    for zid in sorted(paths):
        ring = paths[zid]
        # consecutive vertex pairs: edges i -> i+1 (a closed ring's
        # last vertex repeats the first, so this covers every edge)
        for i in range(len(ring) - 1):
            zids.append(zid)
            eidx.append(i)
            A.append(ring[i])
            B.append(ring[i + 1])
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    zid_arr = np.asarray(zids)
    eidx_arr = np.asarray(eidx, dtype=np.int32)
    coslat = np.cos(np.radians((A[:, 1] + B[:, 1]) / 2.0))
    pruned = mode == "pruned" or (mode == "auto" and len(A) > dense_max_edges)
    buckets = _edge_buckets(A, B, res) if pruned else None
    bc = spark.sparkContext.broadcast(
        (zid_arr, eidx_arr, A, B, coslat, buckets)
    )

    id_type = points.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("feature_id", id_type),
            T.StructField(group_col, T.StringType()),
            T.StructField("edge_idx", T.IntegerType()),
            T.StructField("snap_lon", T.DoubleType()),
            T.StructField("snap_lat", T.DoubleType()),
            T.StructField("dist_m", T.DoubleType()),
        ]
    )

    def snap(batches):
        from ..geo import hexgrid
        from ..geo.wkt import haversine_m

        zid_v, eidx_v, A_v, B_v, cl, bkt = bc.value
        ab = B_v - A_v                               # (E, 2)
        # scaled-degree squared edge lengths for the projection param
        ab_sc = ab.copy()
        ab_sc[:, 0] *= cl
        denom = (ab_sc * ab_sc).sum(axis=1)
        denom[denom == 0.0] = 1.0                    # degenerate edge -> t=0

        def best_of(sel, plon, plat):
            """Exact argmin over the edge subset ``sel`` (None = all).
            Float-identical to the full kernel: all ops elementwise
            per edge; sel ascending keeps argmin's first-min tie rule
            equal to the global one whenever sel contains every global
            minimum."""
            if sel is None:
                As, absub, absc, den, cls = A_v, ab, ab_sc, denom, cl
            else:
                As, absub, absc = A_v[sel], ab[sel], ab_sc[sel]
                den, cls = denom[sel], cl[sel]
            P = np.stack([plon, plat], axis=1)
            ap = P[:, None, :] - As[None, :, :]      # (n, E', 2)
            ap_sc = ap.copy()
            ap_sc[..., 0] *= cls[None, :]
            t = np.clip((ap_sc * absc[None, :, :]).sum(-1) / den[None, :],
                        0.0, 1.0)                    # (n, E')
            proj = As[None, :, :] + t[..., None] * absub[None, :, :]
            # (n,1) columns broadcast against (n,E) inside haversine —
            # materializing them with np.repeat doubled the kernel's
            # memory traffic and showed up as 2-3x wall at 1M points
            d = haversine_m(
                P[:, 0:1], P[:, 1:2], proj[..., 0], proj[..., 1]
            )
            bl = d.argmin(axis=1)                    # edges sorted (zone, idx):
            rows = np.arange(len(P))                 # argmin first-min = tie rule
            gi = bl if sel is None else sel[bl]
            return gi, proj[rows, bl, 0], proj[rows, bl, 1], d[rows, bl]

        def assemble(ids, gi, slon, slat, dist):
            return pd.DataFrame(
                {
                    "feature_id": ids,
                    group_col: zid_v[gi],
                    "edge_idx": eidx_v[gi],
                    "snap_lon": np.round(slon, 7),
                    "snap_lat": np.round(slat, 7),
                    "dist_m": np.round(dist, 3),
                }
            )

        if bkt is None:
            # dense: chunk so the (n_chunk x E) intermediates stay
            # ~tens of MB regardless of the edge-set size
            chunk = max(1, 2_000_000 // max(1, len(A_v)))
            for pdf0 in batches:
                for lo in range(0, len(pdf0), chunk):
                    pdf = pdf0.iloc[lo:lo + chunk]
                    if len(pdf):
                        yield assemble(
                            pdf[id_col].to_numpy(dtype=object),
                            *best_of(None, pdf[lon_col].to_numpy(),
                                     pdf[lat_col].to_numpy()),
                        )
            return

        # pruned path
        s = hexgrid.EDGE_M[res]
        keys = np.asarray(list(bkt.keys()), dtype=np.int64)  # (K, 2)

        def best_chunked(sel, plon, plat, out, pts):
            """best_of in point chunks sized to the candidate count;
            writes results into ``out`` at ``pts`` AND returns the max
            dist — one kernel pass serves both the termination bound
            and the answer (the tentative pass IS the final pass
            whenever the expansion loop adds no candidates, the
            dominant in-cloud case)."""
            n_cand = len(A_v) if sel is None else len(sel)
            step = max(1, 2_000_000 // max(1, n_cand))
            d_max = 0.0
            gi_o, sx_o, sy_o, d_o = out
            for lo in range(0, len(plon), step):
                hi = lo + step
                gi, sx, sy, d = best_of(sel, plon[lo:hi], plat[lo:hi])
                gi_o[pts[lo:hi]] = gi
                sx_o[pts[lo:hi]] = sx
                sy_o[pts[lo:hi]] = sy
                d_o[pts[lo:hi]] = d
                d_max = max(d_max, float(d.max()))
            return d_max

        for pdf in batches:
            n = len(pdf)
            lon = pdf[lon_col].to_numpy(dtype="float64", na_value=np.nan)
            lat = pdf[lat_col].to_numpy(dtype="float64", na_value=np.nan)
            gi_o = np.zeros(n, dtype=np.int64)
            sx_o = np.full(n, np.nan)
            sy_o = np.full(n, np.nan)
            d_o = np.full(n, np.nan)
            ok = np.isfinite(lon) & np.isfinite(lat)
            # non-finite coords mirror the dense kernel bit-for-bit:
            # all-NaN distances make argmin return edge 0 with NaN
            # snap/dist — initialized above, nothing else to do
            if ok.any():
                lon_f, lat_f = lon[ok], lat[ok]
                fidx = np.nonzero(ok)[0]
                q, r = hexgrid.cell_qr(lon_f, lat_f, res)
                key = (q << 32) ^ (r & 0xFFFFFFFF)
                uniq, rep, inv = np.unique(
                    key, return_index=True, return_inverse=True
                )
                order = np.argsort(inv, kind="stable")
                bounds = np.searchsorted(
                    inv[order], np.arange(len(uniq) + 1)
                )
                out = (gi_o, sx_o, sy_o, d_o)
                for ci in range(len(uniq)):
                    pts_l = order[bounds[ci]:bounds[ci + 1]]
                    pts = fidx[pts_l]
                    cq, cr = int(q[rep[ci]]), int(r[rep[ci]])
                    plon, plat = lon_f[pts_l], lat_f[pts_l]
                    # shear operator norm inflated to its max over the
                    # SNAP_D_CAP_M disk around the cell's points — the
                    # bound must hold at the far edge's location, not
                    # just at the point (same Jacobian argument as
                    # _cell_bound, whose one-cell haircut is too local
                    # for a multi-ring search)
                    R = hexgrid.EARTH_RADIUS_M
                    dphi = SNAP_D_CAP_M / R
                    lat_mx = min(np.radians(np.abs(plat).max()) + dphi,
                                 np.radians(89.0))
                    dlam = SNAP_D_CAP_M / (R * max(0.05, np.cos(lat_mx)))
                    sh = (np.radians(np.abs(plon).max()) + dlam) * min(
                        1.0, np.sin(lat_mx)
                    )
                    opn = np.sqrt(
                        (2.0 + sh * sh + sh * np.sqrt(sh * sh + 4.0)) / 2.0
                    )

                    def lb(gg, _opn=opn):
                        return max(0.0, 1.5 * gg - 2.0) * s * 0.995 / _opn

                    # phase 1: expand rings until any candidate appears
                    cand_parts = []
                    g = -1
                    while not cand_parts:
                        g += 1
                        if g >= _SNAP_JUMP_G:
                            # vectorized jump to the nearest occupied
                            # cell — empty-region points pay O(K), not
                            # O(rings²) dict misses
                            dq = keys[:, 0] - cq
                            dr = keys[:, 1] - cr
                            hd = (np.abs(dq) + np.abs(dr)
                                  + np.abs(dq + dr)) // 2
                            g = int(hd.min())
                            for ki in np.nonzero(hd == g)[0]:
                                cand_parts.append(
                                    bkt[(int(keys[ki, 0]),
                                         int(keys[ki, 1]))]
                                )
                            break
                        for c2 in hexgrid.grid_ring(cq, cr, g):
                            arr = bkt.get(c2)
                            if arr is not None:
                                cand_parts.append(arr)
                    # phase 2: tentative best (already written to out
                    # — it IS final unless expansion adds candidates),
                    # then expand until every unexplored ring is
                    # provably farther
                    n_parts0 = len(cand_parts)
                    sel = np.unique(np.concatenate(cand_parts))
                    d_max = best_chunked(sel, plon, plat, out, pts)
                    if d_max > 0.9 * SNAP_D_CAP_M:
                        # beyond the shear bound's validity disk —
                        # dense fallback for this cell (rare: a cell
                        # ~400 km from every zone edge)
                        best_chunked(None, plon, plat, out, pts)
                        continue
                    while lb(g + 1) <= d_max:
                        g += 1
                        for c2 in hexgrid.grid_ring(cq, cr, g):
                            arr = bkt.get(c2)
                            if arr is not None:
                                cand_parts.append(arr)
                    if len(cand_parts) > n_parts0:
                        sel = np.unique(np.concatenate(cand_parts))
                        best_chunked(sel, plon, plat, out, pts)
            yield assemble(
                pdf[id_col].to_numpy(dtype=object), gi_o, sx_o, sy_o, d_o
            )

    return points.select(id_col, lon_col, lat_col).mapInPandas(
        snap, schema=out_schema
    )


def _edge_count_estimate(paths: DataFrame) -> int:
    """Cheap distributed edge-count estimate for the strategy gate:
    WKT comma count ≈ vertices − 1 = segments per path (exact for
    LINESTRING; one high for a closed ring's repeated vertex — a gate,
    not an invariant). One JVM column scan, no parse, no collect."""
    row = paths.agg(
        F.sum(F.size(F.split(F.col("geom_wkt"), ",")) - F.lit(1)).alias("n")
    ).first()
    return int(row["n"] or 0)


def _paths_to_edges(paths: DataFrame, group_col: str, kind: str) -> DataFrame:
    """Distributed edge explode: (group_id, geom_wkt) → one row per
    segment (gid, edge_idx, ax, ay, bx, by) with NO driver collect —
    the scale path's replacement for _snap_to_paths' collected dict.
    Dirty-input dedup is the relational spelling of _best_wkt_per_id
    (groupBy max geom_wkt — the rule pip_join_partitioned applies), and
    the groupBy's hash exchange doubles as the repartition that spreads
    a single-file cadastre across executors before the parse."""
    from ..geo.wkt import parse_linestring, parse_polygon

    parse = parse_polygon if kind == "ring" else parse_linestring
    dedup = paths.groupBy(F.col(group_col).alias("_gid")).agg(
        F.max("geom_wkt").alias("geom_wkt")
    )
    schema = T.StructType(
        [
            T.StructField("_gid", T.StringType()),
            T.StructField("_eidx", T.IntegerType()),
            T.StructField("_ax", T.DoubleType()),
            T.StructField("_ay", T.DoubleType()),
            T.StructField("_bx", T.DoubleType()),
            T.StructField("_by", T.DoubleType()),
        ]
    )

    def explode(batches):
        for pdf in batches:
            gs, es, axs, ays, bxs, bys = [], [], [], [], [], []
            for gid, wkt in zip(pdf["_gid"], pdf["geom_wkt"]):
                v = parse(wkt)
                n = len(v) - 1
                if n <= 0:
                    continue
                gs.append(np.full(n, gid, dtype=object))
                es.append(np.arange(n, dtype=np.int32))
                axs.append(v[:-1, 0])
                ays.append(v[:-1, 1])
                bxs.append(v[1:, 0])
                bys.append(v[1:, 1])
            if not gs:
                yield pd.DataFrame(
                    {c.name: [] for c in schema.fields}
                )
                continue
            yield pd.DataFrame(
                {
                    "_gid": np.concatenate(gs),
                    "_eidx": np.concatenate(es),
                    "_ax": np.concatenate(axs),
                    "_ay": np.concatenate(ays),
                    "_bx": np.concatenate(bxs),
                    "_by": np.concatenate(bys),
                }
            )

    return dedup.mapInPandas(explode, schema=schema)


def _edge_covers(edges: DataFrame, res: int, dilate: int = 1) -> DataFrame:
    """Distributed edge→cell cover: _edge_buckets' sub-segment split
    run executor-side over the edge DataFrame instead of a driver
    Python loop over a collected edge set. Each edge emits its cover
    cells DILATED by ``dilate`` rings, so a point joining on its OWN
    cell alone sees every edge within hex-distance ``dilate`` — the
    point side never explodes. Same correctness contrapositive as
    _edge_buckets: an edge absent from a point's (dilated) cell lies
    entirely in cells at hex-distance ≥ dilate+1."""
    from ..geo.hexgrid import EDGE_M, _project, cover_bbox, grid_disk

    offs = grid_disk(0, 0, dilate)
    s = EDGE_M[res]
    schema = T.StructType(
        [T.StructField("cell", T.StringType())] + list(edges.schema.fields)
    )

    def cover(batches):
        for pdf in batches:
            ax = pdf["_ax"].to_numpy(dtype="float64")
            ay = pdf["_ay"].to_numpy(dtype="float64")
            bx = pdf["_bx"].to_numpy(dtype="float64")
            by = pdf["_by"].to_numpy(dtype="float64")
            axm, aym = _project(ax, ay)
            bxm, bym = _project(bx, by)
            n_sub = np.maximum(
                1, np.ceil(np.hypot(bxm - axm, bym - aym) / s).astype(np.int64)
            )
            cells_out, idx_out = [], []
            for i in range(len(pdf)):
                m = int(n_sub[i])
                ts = np.linspace(0.0, 1.0, m + 1)
                px = ax[i] + ts * (bx[i] - ax[i])
                py = ay[i] + ts * (by[i] - ay[i])
                cells_i: set[tuple[int, int]] = set()
                for j in range(m):
                    cells_i.update(cover_bbox(
                        min(px[j], px[j + 1]), min(py[j], py[j + 1]),
                        max(px[j], px[j + 1]), max(py[j], py[j + 1]),
                        res=res,
                    ))
                dil = {(q + dq, r + dr)
                       for q, r in cells_i for dq, dr in offs}
                for q, r in dil:
                    cells_out.append(f"h{res}_{q}_{r}")
                    idx_out.append(i)
            out = pdf.iloc[idx_out].reset_index(drop=True)
            out.insert(0, "cell", cells_out)
            yield out

    return edges.mapInPandas(cover, schema=schema)


@F.pandas_udf(T.StructType([
    T.StructField("dist_raw", T.DoubleType()),
    T.StructField("snap_lon", T.DoubleType()),
    T.StructField("snap_lat", T.DoubleType()),
    T.StructField("dist_m", T.DoubleType()),
]))
def _snap_pair_kernel(plon: pd.Series, plat: pd.Series,
                      ax: pd.Series, ay: pd.Series,
                      bx: pd.Series, by: pd.Series) -> pd.DataFrame:
    """Per-candidate snap math, FLOAT-IDENTICAL to _snap_to_paths'
    dense kernel (same numpy ops in the same order on the same float64
    inputs), so the distributed argmin — a window ordered by
    (dist_raw, gid, eidx) — picks exactly the edge dense argmin's
    first-min rule picks. dist_raw stays unrounded for the ordering;
    snap/dist outputs carry the dense kernel's np.round (NOT Spark
    round/bround, whose BigDecimal path can differ in the last ulp)."""
    from ..geo.wkt import haversine_m

    lo = plon.to_numpy(dtype="float64")
    la = plat.to_numpy(dtype="float64")
    axv = ax.to_numpy(dtype="float64")
    ayv = ay.to_numpy(dtype="float64")
    bxv = bx.to_numpy(dtype="float64")
    byv = by.to_numpy(dtype="float64")
    cl = np.cos(np.radians((ayv + byv) / 2.0))
    abx = bxv - axv
    aby = byv - ayv
    absx = abx * cl
    denom = absx * absx + aby * aby
    denom[denom == 0.0] = 1.0
    apx_sc = (lo - axv) * cl
    t = np.clip((apx_sc * absx + (la - ayv) * aby) / denom, 0.0, 1.0)
    sx = axv + t * abx
    sy = ayv + t * aby
    d = haversine_m(lo, la, sx, sy)
    return pd.DataFrame(
        {
            "dist_raw": d,
            "snap_lon": np.round(sx, 7),
            "snap_lat": np.round(sy, 7),
            "dist_m": np.round(d, 3),
        }
    )


def _opn_cap_expr(lon, lat):
    """Projection-shear operator norm, inflated over the SNAP_D_CAP_M
    search disk around the point — the per-point codegen spelling of
    the pruned path's per-cell bound (same formula; per-point |lon|,
    |lat| replace the cell's maxima, which is the same validity
    argument one disk at a time). Used to deflate the lattice lower
    bound to true meters."""
    import math

    R = hexgrid.EARTH_RADIUS_M
    dphi = SNAP_D_CAP_M / R
    lat_mx = F.least(
        F.radians(F.abs(lat)) + F.lit(dphi), F.lit(math.radians(89.0))
    )
    dlam = F.lit(SNAP_D_CAP_M) / (
        F.lit(R) * F.greatest(F.lit(0.05), F.cos(lat_mx))
    )
    sh = (F.radians(F.abs(lon)) + dlam) * F.least(F.lit(1.0), F.sin(lat_mx))
    return F.sqrt(
        (F.lit(2.0) + sh * sh + sh * F.sqrt(sh * sh + F.lit(4.0)))
        / F.lit(2.0)
    )


def _snap_distributed(points: DataFrame, edges: DataFrame, *, id_col: str,
                      lon_col: str, lat_col: str, group_col: str,
                      res: int) -> DataFrame:
    """Fully-distributed snap: the strategy for edge sets too large to
    collect (10^6+-edge cadastres — VERDICT r04 #1's gap). The edge
    index is built executor-side (_paths_to_edges → _edge_covers); the
    driver never holds an edge row. Same output contract and tie rule
    as _snap_to_paths; per-candidate floats are identical (the pair
    kernel mirrors the dense math op-for-op), so results match dense /
    pruned up to knife-edge libm ties that the shared-numpy kernel
    rules out by construction.

    Plan shape — the kNN two-phase idea (knn.py:147) generalized to a
    geometric coarsening ladder:

    * round k (res_k = res, res−2, … down to SNAP_DIST_RES_MIN): edges
      emit their cover cells dilated by 1 ring at res_k; OPEN points
      join on their own cell — the point side never explodes,
      dense-cell skew lands on a shuffle-hash JOIN exchange (AQE
      skew-split territory), and the per-point top-1 window keys by a
      synthetic row id (duplicate point ids stay separate rows),
      uniform by construction.
    * closure: an edge unseen after round k has no cover cell within
      hex-distance 1 of the point's cell ⇒ lies wholly in cells at
      distance ≥ 2 ⇒ its true distance ≥ (1.5·2−2)·s_k·0.995/opn =
      s_k·0.995/opn (the exact lattice bound, shear-deflated over the
      cap disk). A point whose best-so-far beats that — and sits
      inside 0.9·SNAP_D_CAP_M, the shear bound's validity disk — is
      done. Each step-2 round ~6.9×es the closure radius (EDGE_M
      ratio²), so the ladder reaches ~320 km in ≤ 4 rounds; the bound
      depends only on the round's own s_k, so the step changes cost,
      never correctness.
    * inverted fallback: points still open after the ladder — or once
      the open tail is small enough (≤ 2000) that more rounds cost
      more fixed job overhead than one edge scan — are collected
      (bounded by SNAP_DIST_FALLBACK_MAX), broadcast, and scanned
      against the FULL edge DataFrame partition-parallel (small side
      broadcast, big side streamed — the transpose of the dense
      strategy), exact per partition, global argmin in the same
      window.

    The driver loop is over ROUNDS (≤ 4), never over edges or points;
    per-round actions are two bounded counts. Like dedup_clusters'
    distributed closure, the operator triggers jobs during
    construction.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from ..functions import hex_cell

    spark = points.sparkSession
    edges = edges.persist(StorageLevel.MEMORY_ONLY)
    n_edges = edges.count()
    if n_edges == 0:
        edges.unpersist()
        raise ValueError("snap: no edges")

    lon = F.col(lon_col)
    lat = F.col(lat_col)
    valid = (
        lon.isNotNull() & lat.isNotNull() & ~F.isnan(lon) & ~F.isnan(lat)
    )
    # the ladder keys every window and join on a synthetic row id, not
    # the caller's id: duplicate ids stay separate rows, as in dense
    pts = (
        points.select(F.col(id_col).alias("_pid"), lon.alias("_plon"),
                      lat.alias("_plat"))
        .filter(valid)
        .withColumn("_rid", F.monotonically_increasing_id())
        .withColumn("_opn", _opn_cap_expr(F.col("_plon"), F.col("_plat")))
        .persist(StorageLevel.MEMORY_ONLY)
    )

    order = (F.col("dist_raw").asc(), F.col("_gid").asc(), F.col("_eidx").asc())
    w_rid = Window.partitionBy("_rid").orderBy(*order)

    def top1(df):
        return (
            df.withColumn("_rk", F.row_number().over(w_rid))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )

    # the per-point best-edge row every round and the fallback emit
    best_schema = T.StructType(
        [
            T.StructField("_rid", T.LongType()),
            T.StructField("_pid", pts.schema["_pid"].dataType),
            T.StructField("_gid", T.StringType()),
            T.StructField("_eidx", T.IntegerType()),
            T.StructField("dist_raw", T.DoubleType()),
            T.StructField("snap_lon", T.DoubleType()),
            T.StructField("snap_lat", T.DoubleType()),
            T.StructField("dist_m", T.DoubleType()),
        ]
    )
    best = None
    open_pts = pts
    n_open = pts.count()
    # ladder step 2 (res, res−2, …): each round ~6.9×es the closure
    # radius instead of 2.6× — half the rounds for the same exactness
    # (the bound depends only on the round's own s_k), and coarse-round
    # candidate fan-in stays small because only stragglers remain open
    ladder = list(range(res, SNAP_DIST_RES_MIN - 1, -2))
    if ladder[-1] != SNAP_DIST_RES_MIN:
        ladder.append(SNAP_DIST_RES_MIN)
    for res_k in ladder:
        if n_open == 0:
            break
        if n_open <= 2000 and best is not None:
            # straggler tail: the inverted fallback (one scan of the
            # edge table against a broadcast of the tail) is cheaper
            # than more ladder rounds of fixed job overhead
            break
        covers = _edge_covers(edges, res_k, dilate=1)
        cand = (
            open_pts.withColumn(
                "cell", hex_cell(F.col("_plon"), F.col("_plat"), res_k)
            )
            .join(covers.hint("shuffle_hash"), "cell")
        )
        scored = cand.select(
            "_rid", "_pid", "_gid", "_eidx",
            _snap_pair_kernel(
                F.col("_plon"), F.col("_plat"),
                F.col("_ax"), F.col("_ay"), F.col("_bx"), F.col("_by"),
            ).alias("_s"),
        ).select("_rid", "_pid", "_gid", "_eidx", "_s.*")
        best_k = top1(scored)
        best_new = best_k if best is None else top1(
            best.unionByName(best_k)
        )
        # localCheckpoint (the dedup_clusters lineage idiom,
        # dedup.py:648): each round's best/open reference the previous
        # round's best AND open, so the un-truncated plan tree grows
        # ~3x per round — measured: plan-string rendering alone OOMed
        # an 8g driver by round 4. Truncation keeps every round's plan
        # flat (LogicalRDD in, one join/window out).
        best = best_new.localCheckpoint()
        lb = (
            F.lit(hexgrid.EDGE_M[res_k] * 0.995) / F.col("_opn")
        )
        open_new = (
            open_pts.join(best.select("_rid", "dist_raw"), "_rid", "left")
            .filter(
                F.col("dist_raw").isNull()
                | ~(
                    (F.col("dist_raw") < lb)
                    & (F.col("dist_raw") <= F.lit(0.9 * SNAP_D_CAP_M))
                )
            )
            .drop("dist_raw")
        )
        open_pts = open_new.localCheckpoint()
        n_open = open_pts.count()

    if n_open:
        if n_open > SNAP_DIST_FALLBACK_MAX:
            raise ValueError(
                f"snap distributed: {n_open} points have no edge within "
                f"~{0.9 * SNAP_D_CAP_M / 1000:.0f} km (> "
                f"SNAP_DIST_FALLBACK_MAX={SNAP_DIST_FALLBACK_MAX}); the "
                "point cloud does not match the path network"
            )
        rows = open_pts.select("_rid", "_pid", "_plon", "_plat").collect()
        fb_rids = np.array([r["_rid"] for r in rows], dtype=np.int64)
        fb_ids = np.array([r["_pid"] for r in rows], dtype=object)
        fb_lon = np.array([r["_plon"] for r in rows], dtype=np.float64)
        fb_lat = np.array([r["_plat"] for r in rows], dtype=np.float64)
        bc = spark.sparkContext.broadcast((fb_rids, fb_ids, fb_lon, fb_lat))

        def fb(batches):
            from ..geo.wkt import haversine_m

            rids_l, ids_l, lon_l, lat_l = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                # lexicographic (gid, eidx) pre-sort: batch-local
                # argmin's first-min rule then equals the global tie
                # rule restricted to this batch; the window resolves
                # across batches
                srt = np.lexsort(
                    (pdf["_eidx"].to_numpy(),
                     pdf["_gid"].to_numpy(dtype=object).astype("U"))
                )
                pdf = pdf.iloc[srt]
                A = np.stack(
                    [pdf["_ax"].to_numpy("float64"), pdf["_ay"].to_numpy("float64")],
                    axis=1,
                )
                B = np.stack(
                    [pdf["_bx"].to_numpy("float64"), pdf["_by"].to_numpy("float64")],
                    axis=1,
                )
                gid = pdf["_gid"].to_numpy(dtype=object)
                eidx = pdf["_eidx"].to_numpy()
                cl = np.cos(np.radians((A[:, 1] + B[:, 1]) / 2.0))
                ab = B - A
                ab_sc = ab.copy()
                ab_sc[:, 0] *= cl
                denom = (ab_sc * ab_sc).sum(axis=1)
                denom[denom == 0.0] = 1.0
                chunk = max(1, 2_000_000 // max(1, len(pdf)))
                for lo_i in range(0, len(ids_l), chunk):
                    hi = lo_i + chunk
                    plon = lon_l[lo_i:hi]
                    plat = lat_l[lo_i:hi]
                    P = np.stack([plon, plat], axis=1)
                    ap = P[:, None, :] - A[None, :, :]
                    ap_sc = ap.copy()
                    ap_sc[..., 0] *= cl[None, :]
                    t = np.clip(
                        (ap_sc * ab_sc[None, :, :]).sum(-1) / denom[None, :],
                        0.0, 1.0,
                    )
                    proj = A[None, :, :] + t[..., None] * ab[None, :, :]
                    d = haversine_m(
                        P[:, 0:1], P[:, 1:2], proj[..., 0], proj[..., 1]
                    )
                    bl = d.argmin(axis=1)
                    rws = np.arange(len(P))
                    yield pd.DataFrame(
                        {
                            "_rid": rids_l[lo_i:hi],
                            "_pid": ids_l[lo_i:hi],
                            "_gid": gid[bl],
                            "_eidx": eidx[bl].astype(np.int32),
                            "dist_raw": d[rws, bl],
                            "snap_lon": np.round(proj[rws, bl, 0], 7),
                            "snap_lat": np.round(proj[rws, bl, 1], 7),
                            "dist_m": np.round(d[rws, bl], 3),
                        }
                    )

        fb_best = edges.mapInPandas(fb, schema=best_schema)
        best = fb_best if best is None else best.unionByName(fb_best)
        best = top1(best)
    if best is None:
        # no valid point: no round or fallback ran
        best = spark.createDataFrame([], best_schema)
    # every round's best is checkpointed and the fallback reads only
    # the edges and its broadcast, so the point cache is done
    pts.unpersist()

    # invalid-coordinate rows mirror the dense kernel's contract: the
    # globally-first edge (dense argmin over all-NaN distances returns
    # index 0 of the (gid, eidx)-sorted edge arrays) with NULL
    # snap/dist — the dense kernel's NaNs arrive as SQL NULLs through
    # the Arrow boundary (pandas' NaN-as-null convention), so the
    # literal here must be NULL, not NaN, for row equality
    first = edges.orderBy("_gid", "_eidx").limit(1).first()
    nanlit = F.lit(None).cast("double")
    bad = (
        points.select(F.col(id_col).alias("_pid"), lon.alias("_plon"),
                      lat.alias("_plat"))
        .filter(~valid)
        .select(
            "_pid",
            F.lit(first["_gid"]).alias("_gid"),
            F.lit(int(first["_eidx"])).cast("int").alias("_eidx"),
            nanlit.alias("snap_lon"),
            nanlit.alias("snap_lat"),
            nanlit.alias("dist_m"),
        )
    )
    out = best.select(
        "_pid", "_gid", F.col("_eidx").cast("int").alias("_eidx"),
        "snap_lon", "snap_lat", "dist_m",
    ).unionByName(bad)
    return out.select(
        F.col("_pid").alias("feature_id"),
        F.col("_gid").alias(group_col),
        F.col("_eidx").alias("edge_idx"),
        "snap_lon", "snap_lat", "dist_m",
    )
