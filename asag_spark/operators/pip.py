"""Point-in-polygon join (SURVEY.md §2.3, the operator the north_rule
adds beyond the reference).

Strategy (100 TB-ready):

1. The polygon side (tariff zones / municipalities) is SMALL relative
   to the point side — registry-scale, like the reference's zone set.
   Its exterior rings are parsed once and broadcast to every executor
   (the "broadcast R-tree side" of BASELINE.json; here a flat cell
   index instead of an STRtree — same role: candidate lookup by one
   np.searchsorted over sorted cell keys).
2. Candidate pruning is a CELL PRE-JOIN: each zone is expanded to the
   res-7 hex cells covering its bbox (hexgrid._cover_bboxes), each
   point gets its res-7 cell — a broadcast equi-join on the cell id.
   The big point side never shuffles.
3. Exact refine: even-odd ray cast (geo.wkt.points_in_ring) inside an
   Arrow UDF, vectorized across the batch per zone.

pip_join, pip_anti_join and pip_flag_join share one kernel
(_pip_hits) and one validity rule: a point is valid iff its lon and
lat are both finite. NULL, NaN and ±inf coordinates never hit a zone.

Skew: dense urban cells only inflate the candidate row count of those
cells' points; the join stays broadcast so no shuffle hotspot exists.
A salt column is unnecessary here — there is no shuffle to skew.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import hexgrid
from ..geo.wkt import parse_polygon, points_in_ring, ring_bbox

PIP_RES = 7
PIP_SALT = 16
_ZONE_CELLS = T.StructType([T.StructField("zone_id", T.StringType()),
                            T.StructField("cell", T.StringType())])


def _pairs_schema(id_col: str) -> T.StructType:
    return T.StructType([T.StructField(id_col, T.StringType()),
                         T.StructField("zone_id", T.StringType())])


def _best_wkt_per_id(rows: list, id_key: str) -> dict[str, str]:
    """THE dirty-input dedup rule, in one place: duplicate ids keep
    the max geom_wkt (deterministic, matches nothing on clean input).
    Shared by _zone_index, pip_join_partitioned's relational spelling,
    snap_to_boundary and snap_to_lines so the variants can never
    diverge on the same dirty input."""
    best: dict[str, str] = {}
    for row in rows:
        rid, wkt = row[id_key], row["geom_wkt"]
        if rid not in best or wkt > best[rid]:
            best[rid] = wkt
    return best


def _cell_key(q: np.ndarray, r: np.ndarray) -> np.ndarray:
    """(q, r) → one int64: q in the high, r in the low 32 bits."""
    return (q << 32) ^ (r & 0xFFFFFFFF)


def _ring_covers(rings: list, res: int) -> tuple[np.ndarray, np.ndarray,
                                                 np.ndarray]:
    """(ring index, q, r) rows of every ring's bbox cover at ``res`` —
    cover_bbox's cells in cover_bbox's order — from one
    hexgrid._cover_bboxes call over all rings."""
    bb = np.array([ring_bbox(ring) for ring in rings],
                  dtype=np.float64).reshape(-1, 4)
    return hexgrid._cover_bboxes(*bb.T, res=res)


def _cell_names(q: np.ndarray, r: np.ndarray, res: int) -> list[str]:
    return [f"h{res}_{a}_{b}" for a, b in zip(q.tolist(), r.tolist())]


def _zone_index(zones_rows: list) -> tuple:
    """Flat broadcast index of the PIP family: (zone ids, rings, cell
    keys, offsets, zone positions). ``zone ids`` and ``rings`` are
    indexed by zone position (zone ids sorted); ``cell keys`` are the
    sorted unique _cell_key of every res-PIP_RES cover cell, and cell
    i's zones are ``zone positions[offsets[i]:offsets[i + 1]]``,
    ascending.

    Dirty-input guard: duplicate zone_id rows keep the max geom_wkt
    (_best_wkt_per_id — the same rule pip_join_partitioned applies) —
    so both PIP variants agree (and no zone appears twice in a cell,
    which would duplicate output rows)."""
    best = _best_wkt_per_id(zones_rows, "zone_id")
    zids = np.array(sorted(best), dtype=object)
    rings = [parse_polygon(best[zid]) for zid in zids]
    zpos, q, r = _ring_covers(rings, PIP_RES)
    key = _cell_key(q, r)
    o = np.lexsort((zpos, key))
    ckeys, starts = np.unique(key[o], return_index=True)
    offsets = np.append(starts, len(o)).astype(np.int32)
    return zids, rings, ckeys, offsets, zpos[o].astype(np.int32)


def _coords(batch: pa.RecordBatch, lon_col: str,
            lat_col: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """float64 lon, lat of an Arrow batch (NULL reads as NaN) and the
    PIP family's validity rule: a point is valid iff lon and lat are
    both finite."""
    lon, lat = (
        batch.column(c).cast(pa.float64()).to_numpy(zero_copy_only=False)
        for c in (lon_col, lat_col)
    )
    return lon, lat, np.isfinite(lon) & np.isfinite(lat)


def _pip_hits(lon: np.ndarray, lat: np.ndarray, valid: np.ndarray,
              index: tuple) -> tuple[np.ndarray, np.ndarray]:
    """(point index, zone position) of every valid point inside a zone
    ring — the one candidate + refine kernel behind pip_join,
    pip_anti_join and pip_flag_join. Each UNIQUE point cell is looked
    up in the flat index with one np.searchsorted (points cluster, so
    unique cells << points); every point then takes its cell's zones,
    and the even-odd ray cast runs once per candidate zone, vectorized
    over that zone's points."""
    _, rings, ckeys, offsets, zpos = index
    pts = np.flatnonzero(valid)
    if not len(pts) or not len(ckeys):
        return pts[:0], zpos[:0]
    q, r = hexgrid.cell_qr(lon[pts], lat[pts], PIP_RES)
    uniq, inv = np.unique(_cell_key(q, r), return_inverse=True)
    pos = np.minimum(np.searchsorted(ckeys, uniq), len(ckeys) - 1)
    cell = np.where(ckeys[pos] == uniq, pos, -1)[inv]
    pts, cell = pts[cell >= 0], cell[cell >= 0]
    lo, n = offsets[cell], offsets[cell + 1] - offsets[cell]
    pt = np.repeat(pts, n)
    zone = zpos[np.arange(len(pt)) + np.repeat(lo - (np.cumsum(n) - n), n)]
    o = np.argsort(zone, kind="stable")
    pt, zone = pt[o], zone[o]
    bounds = np.searchsorted(zone, np.arange(len(rings) + 1))
    inside = np.zeros(len(pt), dtype=bool)
    for z in np.flatnonzero(np.diff(bounds)):
        s = slice(bounds[z], bounds[z + 1])
        inside[s] = points_in_ring(lon[pt[s]], lat[pt[s]], rings[z])
    return pt[inside], zone[inside]


def _broadcast_index(points: DataFrame, zones: DataFrame):
    return points.sparkSession.sparkContext.broadcast(
        _zone_index(zones.collect())
    )


def zone_covers(zones: DataFrame, res: int = PIP_RES) -> DataFrame:
    """Explode each zone polygon to its covering hex cells at ``res``
    (bbox cover + pad ring — the candidate-generation primitive; exact
    refinement always follows with the ray cast). Arrow-batched, one
    vectorized cover per batch.

    Output: (zone_id, cell) — deterministic pure function of the ring.
    """

    def expand(batches):
        for pdf in batches:
            zids = pdf["zone_id"].to_numpy(dtype=object)
            i, q, r = _ring_covers(
                [parse_polygon(w) for w in pdf["geom_wkt"]], res
            )
            yield pd.DataFrame({"zone_id": zids[i],
                                "cell": _cell_names(q, r, res)})

    return zones.select("zone_id", "geom_wkt").mapInPandas(
        expand, schema=_ZONE_CELLS
    )


def zone_polyfill(zones: DataFrame, res: int = PIP_RES) -> DataFrame:
    """EXACT hex polyfill (the H3 polygonToCells semantic): the cells
    whose CENTER lies inside the zone's exterior ring — the coverage-
    map / rasterization primitive that ``zone_covers`` (bbox cover,
    candidate generation) deliberately over-approximates. Center-in-
    ring is the standard polyfill membership rule: cells partition by
    their centers, so two adjacent zones' polyfills never overlap and
    a planar subdivision's polyfill is a partition of its cells.

    Determinism: candidate cells enumerate from the projected bbox
    corner range (hexgrid._cover_bboxes' exact axial extent) and each
    center maps back through the EXACT lattice inverse
    (hexgrid.cell_center_exact — y alone fixes lat, then lon is the
    unique preimage), so membership is a pure function of (ring, res)
    at any parallelism.

    Plan shape: one Arrow mapInPandas over the zone table; each batch
    covers all its zones in one vectorized pass and ray-casts each
    zone's candidate centers at once; NO shuffle, no join — zones
    distribute across partitions, a continent-scale cadastre polyfills
    embarrassingly parallel. Output: (zone_id, cell), cell =
    ``h{res}_{q}_{r}``.
    """
    # dirty-input guard (the _best_wkt_per_id rule, relational
    # spelling): duplicate zone_id rows would emit duplicate
    # (zone_id, cell) rows and inflate coverage stats
    zones = zones.groupBy("zone_id").agg(F.max("geom_wkt").alias("geom_wkt"))

    def fill(batches):
        for pdf in batches:
            zids = pdf["zone_id"].to_numpy(dtype=object)
            rings = [parse_polygon(w) for w in pdf["geom_wkt"]]
            i, q, r = _ring_covers(rings, res)
            clon, clat = hexgrid.cell_center_exact(q, r, res)
            bounds = np.searchsorted(i, np.arange(len(rings) + 1))
            inside = np.zeros(len(i), dtype=bool)
            for k, ring in enumerate(rings):
                s = slice(bounds[k], bounds[k + 1])
                inside[s] = points_in_ring(clon[s], clat[s], ring)
            yield pd.DataFrame({"zone_id": zids[i[inside]],
                                "cell": _cell_names(q[inside], r[inside], res)})

    return zones.select("zone_id", "geom_wkt").mapInPandas(
        fill, schema=_ZONE_CELLS
    )


def pip_join(points: DataFrame, zones: DataFrame,
             id_col: str = "feature_id",
             lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """(point id, zone_id) pairs for every point inside a zone polygon.

    ``points``: any frame with id/lon/lat. ``zones``: schema.ZONES.
    Output columns: (<id_col>, zone_id) — matching pip_golden
    (FIXTURES.md §4). A point is valid iff lon and lat are both
    finite; invalid points (NULL, NaN, ±inf) are in no pair.
    """
    bc = _broadcast_index(points, zones)

    def refine(batches):
        index = bc.value
        for batch in batches:
            pt, zone = _pip_hits(*_coords(batch, lon_col, lat_col), index)
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col).take(pt).cast(pa.string()),
                 pa.array(index[0][zone], pa.string())],
                names=[id_col, "zone_id"],
            )

    return points.select(id_col, lon_col, lat_col).mapInArrow(
        refine, schema=_pairs_schema(id_col)
    )


def pip_join_partitioned(points: DataFrame, zones: DataFrame,
                         id_col: str = "feature_id",
                         lon_col: str = "lon",
                         lat_col: str = "lat") -> DataFrame:
    """Broadcast-free PIP join — the plan for when the polygon side
    outgrows a broadcast (continent-scale cadastral tables, SCALE.md
    §4). Output rows are IDENTICAL to ``pip_join``; only the physical
    plan differs. Same validity rule: a point is valid iff lon and lat
    are both finite; invalid points are filtered before the JVM cell
    id is computed (its BIGINT cast would abort on NaN/±inf under
    ANSI).

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
    # the validity rule: Spark orders NaN above +inf, so abs(x) < inf
    # holds exactly for finite x (and is NULL, so filtered, for NULL)
    inf = F.lit(float("inf"))
    pts = points.select(
        F.col(id_col), F.col(lon_col).alias("_lon"), F.col(lat_col).alias("_lat")
    ).filter((F.abs("_lon") < inf) & (F.abs("_lat") < inf))
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
        .applyInPandas(refine, schema=_pairs_schema(id_col))
    )


def pip_anti_join(points: DataFrame, zones: DataFrame,
                  id_col: str = "feature_id",
                  lon_col: str = "lon", lat_col: str = "lat",
                  with_coords: bool = False) -> DataFrame:
    """Spatial ANTI-join: ids of valid points inside NO zone polygon —
    the coverage-gap audit every zone-assignment pipeline needs (stops
    the tariff map forgot, docs outside every municipality).
    Complements pip_join the way LEFT ANTI complements INNER.

    Plan shape (100 TB): PIP membership is a PER-POINT predicate, so
    the anti set needs no join at all — pip_join's broadcast flat cell
    index and kernel, output inverted per Arrow batch in ONE
    mapInArrow pass over the point side. A naive ``points LEFT ANTI
    JOIN pip_join(...)`` would scan the points twice and shuffle both
    sides on the id; this emits identical rows with zero exchange.

    Validity follows pip_join: a point is valid iff lon and lat are
    both finite. Invalid points (NULL, NaN, ±inf) are neither covered
    nor reported — the anti set is the valid points minus the hit
    points. Output: (<id_col>) — one row per uncovered point; with
    ``with_coords`` also (<lon_col>, <lat_col>) as doubles, so a
    downstream fallback (e.g. knn.snap_nearest_zone) needs no join
    back to the big point table.
    """
    bc = _broadcast_index(points, zones)
    fields = [T.StructField(id_col, T.StringType())]
    if with_coords:
        fields += [T.StructField(lon_col, T.DoubleType()),
                   T.StructField(lat_col, T.DoubleType())]
    out_schema = T.StructType(fields)

    def refine(batches):
        index = bc.value
        for batch in batches:
            lon, lat, valid = _coords(batch, lon_col, lat_col)
            keep = valid.copy()
            keep[_pip_hits(lon, lat, valid, index)[0]] = False
            cols = [batch.column(id_col).filter(pa.array(keep))
                    .cast(pa.string())]
            if with_coords:
                cols += [pa.array(lon[keep]), pa.array(lat[keep])]
            yield pa.RecordBatch.from_arrays(
                cols, names=[f.name for f in fields]
            )

    return points.select(id_col, lon_col, lat_col).mapInArrow(
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
    it runs unchanged on a Structured Streaming frame (mapInArrow is
    streaming-capable; watermarks/windows attach downstream). The bit
    is appended to each Arrow batch as is, so the input columns pass
    through unconverted (a NaN stays NaN, a NULL stays NULL).

    Validity follows pip_join: a point is valid iff lon and lat are
    both finite. Invalid points keep their row with ``covered =
    false`` (a monitor must see them).
    """
    bc = _broadcast_index(points, zones)
    out_schema = T.StructType(
        list(points.schema.fields) + [T.StructField(flag_col, T.BooleanType())]
    )

    def refine(batches):
        index = bc.value
        for batch in batches:
            covered = np.zeros(batch.num_rows, dtype=bool)
            covered[_pip_hits(*_coords(batch, lon_col, lat_col), index)[0]] = True
            yield batch.append_column(flag_col, pa.array(covered))

    return points.mapInArrow(refine, schema=out_schema)


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


def _edge_cells(ax: np.ndarray, ay: np.ndarray, bx: np.ndarray,
                by: np.ndarray, res: int,
                dilate: int = 0) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Distinct (edge, q, r) cover rows at ``res``, sorted by
    (_cell_key, edge), in one vectorized pass: the snap's candidate
    index, pruned (dilate=0) and distributed (_edge_covers, dilate=1;
    adds every cell within ``dilate`` rings). Edges SPLIT into
    ~cell-size pieces cover O(length/s) cells, not the O(length²/s²)
    of their bbox; each piece's bbox rides cover_bbox's pad-1 rule, so
    the union covers every cell the edge touches — the prune's
    contrapositive: an edge absent from all cells within hex-distance
    g lies entirely in cells at distance ≥ g."""
    s = hexgrid.EDGE_M[res]
    axm, aym = hexgrid._project(ax, ay)
    bxm, bym = hexgrid._project(bx, by)
    n_sub = np.maximum(
        1, np.ceil(np.hypot(bxm - axm, bym - aym) / s).astype(np.int64)
    )
    # piece j of edge e spans t_j..t_{j+1} with t_j = j·(1/m) and
    # t_m = 1.0 — the values of an (m+1)-point linspace, bit for bit
    e = np.repeat(np.arange(len(n_sub)), n_sub)
    m = n_sub[e]
    j = np.arange(len(e)) - np.repeat(np.cumsum(n_sub) - n_sub, n_sub)
    step = 1.0 / m
    t0 = j * step
    t1 = np.where(j + 1 == m, 1.0, (j + 1) * step)
    dx, dy = (bx - ax)[e], (by - ay)[e]
    x0, x1 = ax[e] + t0 * dx, ax[e] + t1 * dx
    y0, y1 = ay[e] + t0 * dy, ay[e] + t1 * dy
    piece, q, r = hexgrid._cover_bboxes(
        np.minimum(x0, x1), np.minimum(y0, y1),
        np.maximum(x0, x1), np.maximum(y0, y1), res=res,
    )
    edge, q, r = _dedup_cells(e[piece], q, r)
    if dilate:
        offs = np.asarray(hexgrid.grid_disk(0, 0, dilate), dtype=np.int64)
        edge, q, r = _dedup_cells(
            np.repeat(edge, len(offs)),
            (q[:, None] + offs[:, 0]).ravel(),
            (r[:, None] + offs[:, 1]).ravel(),
        )
    return edge, q, r


def _dedup_cells(edge: np.ndarray, q: np.ndarray,
                 r: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Distinct (edge, q, r) rows, sorted by (_cell_key, edge)."""
    key = _cell_key(q, r)
    o = np.lexsort((edge, key))
    keep = np.ones(len(o), dtype=bool)
    keep[1:] = (edge[o[1:]] != edge[o[:-1]]) | (key[o[1:]] != key[o[:-1]])
    o = o[keep]
    return edge[o], q[o], r[o]


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
      edges): edges are additionally indexed per hex cell at ``res``
      (``_edge_cells``; long edges split so they index O(length)
      cells), and each Arrow batch groups its points by cell
      (the unique-cell grouping of `_pip_hits`) and ring-expands
      (hexgrid.grid_ring) until candidates appear — with a vectorized
      nearest-occupied-cell jump after ``_SNAP_JUMP_G`` empty rings —
      then keeps expanding until every unexplored cell is provably
      farther than the worst tentative snap: an edge absent from all
      cells within hex-distance g lies entirely in cells at
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
      tests/test_spatial.py. Still one mapInPandas pass, NO shuffle.
      The driver builds the index in one vectorized pass (every edge
      piece's bbox covered by one cell_qr call, O(total edge length /
      cell size) rows) and broadcasts it as three flat arrays: sorted
      cell keys, offsets, and each cell's edge ids ascending; the
      kernel looks a ring's cells up with one np.searchsorted.

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
    best = _best_wkt_per_id(
        zones.select("zone_id", "geom_wkt").collect(), "zone_id"
    )
    rings = {zid: parse_polygon(best[zid]) for zid in best}
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
    # consecutive vertex pairs are the edges (a closed ring's last
    # vertex repeats the first, so this covers every edge)
    order = sorted(paths)
    verts = [paths[zid] for zid in order]
    n_e = [max(0, len(v) - 1) for v in verts]
    A = np.concatenate([v[:-1] for v in verts])
    B = np.concatenate([v[1:] for v in verts])
    zid_arr = np.repeat(np.asarray(order), n_e)
    eidx_arr = np.concatenate([np.arange(n, dtype=np.int32) for n in n_e])
    coslat = np.cos(np.radians((A[:, 1] + B[:, 1]) / 2.0))
    pruned = mode == "pruned" or (mode == "auto" and len(A) > dense_max_edges)
    index = None
    if pruned:
        # flat index: sorted cell keys, offsets, edge ids ascending per
        # cell (the tie rule needs global (zone_id, edge_idx) order)
        edge, q, r = _edge_cells(A[:, 0], A[:, 1], B[:, 0], B[:, 1], res)
        ckeys, starts = np.unique(_cell_key(q, r), return_index=True)
        index = (ckeys, np.append(starts, len(edge)), edge)
    bc = spark.sparkContext.broadcast(
        (zid_arr, eidx_arr, A, B, coslat, index)
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
        from ..geo.wkt import haversine_m

        zid_v, eidx_v, A_v, B_v, cl, index = bc.value
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

        if index is None:
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
        ckeys, coff, cedge = index
        kq, kr = ckeys >> 32, (ckeys << 32) >> 32   # _cell_key inverse

        def cell_parts(pos):
            return [cedge[coff[p]:coff[p + 1]] for p in pos]

        def ring_parts(cq, cr, g):
            # edge ids of ring g's occupied cells: one searchsorted
            qr = np.asarray(hexgrid.grid_ring(cq, cr, g), dtype=np.int64)
            rk = _cell_key(qr[:, 0], qr[:, 1])
            pos = np.minimum(np.searchsorted(ckeys, rk), len(ckeys) - 1)
            return cell_parts(pos[ckeys[pos] == rk])

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
                key = _cell_key(q, r)
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
                            # O(rings²) empty ring lookups
                            dq, dr = kq - cq, kr - cr
                            hd = (np.abs(dq) + np.abs(dr)
                                  + np.abs(dq + dr)) // 2
                            g = int(hd.min())
                            cand_parts = cell_parts(np.nonzero(hd == g)[0])
                            break
                        cand_parts = ring_parts(cq, cr, g)
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
                        cand_parts += ring_parts(cq, cr, g)
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
    """Distributed edge→cell cover: the pruned snap's _edge_cells run
    executor-side, once per Arrow batch of the edge DataFrame, instead
    of over a collected edge set. Each edge emits its cover cells
    DILATED by ``dilate`` rings, so a point joining on its OWN cell
    alone sees every edge within hex-distance ``dilate`` — the point
    side never explodes. Same correctness contrapositive as the pruned
    index: an edge absent from a point's (dilated) cell lies entirely
    in cells at hex-distance ≥ dilate+1."""
    schema = T.StructType(
        [T.StructField("cell", T.StringType())] + list(edges.schema.fields)
    )

    def cover(batches):
        for pdf in batches:
            edge, q, r = _edge_cells(
                *(pdf[c].to_numpy(dtype="float64")
                  for c in ("_ax", "_ay", "_bx", "_by")),
                res, dilate=dilate,
            )
            out = pdf.iloc[edge].reset_index(drop=True)
            out.insert(0, "cell", [f"h{res}_{qq}_{rr}" for qq, rr
                                   in zip(q.tolist(), r.tolist())])
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
