"""Spark-level spatial operator tests: tile assignment, PIP join, kNN,
tile assembly, raster↔vector — on the FIXTURES.md golden expectations."""

import pytest
from pyspark.sql import functions as F

from asag_spark.datagen import AS_OF, fixture_docs, fixture_zones
from asag_spark.functions import assign_tiles
from asag_spark.geo.tiles import (
    rasterize_density, tile_feature_collections, vectorize_cells,
)
from asag_spark.operators.enrich import build_features
from asag_spark.operators.overlap import rings_intersect, zone_overlap_join
from asag_spark.operators.knn import knn_join
from asag_spark.operators.pip import pip_join


@pytest.fixture(scope="module")
def features(spark):
    return build_features(fixture_docs(spark), as_of=AS_OF).cache()


@pytest.fixture(scope="module")
def tiled(features):
    return assign_tiles(features).cache()


def test_tile_assignment_complete(tiled):
    rows = {r["feature_id"]: r for r in tiled.collect()}
    assert len(rows) == 12
    for r in rows.values():
        # every feature (point or polygon) gets all cells
        for c in ("h3_r7", "h3_r8", "h3_r9", "h3_r10", "s2_cell"):
            assert r[c], f"{r['feature_id']} missing {c}"
        assert r["s2_cover"] and len(r["s2_cover"]) == 4
    # same location → same cells (StopPlace:10 and :22's twin :10 vs :1000)
    assert rows["NSR:StopPlace:10"]["h3_r10"] == rows["NSR:StopPlace:1000"]["h3_r10"]
    assert rows["NSR:StopPlace:1"]["h3_r7"] != rows["NSR:StopPlace:10"]["h3_r7"]
    # both Bolærene polygons share identical cells (same ring)
    assert rows["VKT:TariffZone:729"]["s2_cell"] == rows["VKT:TariffZone:730"]["s2_cell"]


def test_tile_assignment_parallelism_invariant(spark, features):
    t1 = assign_tiles(features.repartition(1))
    t8 = assign_tiles(features.repartition(8))
    a = {(r["feature_id"], r["h3_r7"], r["h3_r10"], r["s2_cell"]) for r in t1.collect()}
    b = {(r["feature_id"], r["h3_r7"], r["h3_r10"], r["s2_cell"]) for r in t8.collect()}
    assert a == b


def test_pip_golden(spark, tiled):
    """FIXTURES.md §2: all four F-ADJ stops are inside MUNI:ADJ; no
    fixture point is inside the Bolærene polygons; NSR:StopPlace:1
    (Oslo-ish 10.758,59.912) is inside MUNI:0301."""
    pairs = {
        (r["feature_id"], r["zone_id"])
        for r in pip_join(tiled.filter(F.col("lat").isNotNull()),
                          fixture_zones(spark)).collect()
    }
    expected = {
        ("NSR:StopPlace:59881", "MUNI:ADJ"),
        ("NSR:StopPlace:59883", "MUNI:ADJ"),
        ("NSR:StopPlace:59879", "MUNI:ADJ"),
        ("NSR:StopPlace:59880", "MUNI:ADJ"),
        ("NSR:StopPlace:1", "MUNI:0301"),
        ("NSR:StopPlace:999", "MUNI:0301"),
    }
    assert pairs == expected


def test_pip_partitioned_matches_broadcast(spark):
    """The broadcast-free PIP plan must produce exactly the rows of the
    broadcast plan — same candidates (JVM hex_cell vs numpy cover, the
    lattice-parity contract) and same ray cast — on a dense synthetic
    cloud over the 50 generated municipality polygons."""
    import numpy as np

    from asag_spark.datagen import generate_zones
    from asag_spark.operators.pip import pip_join, pip_join_partitioned

    zones = generate_zones(spark)
    # half uniform over the bbox, half clustered tightly on the zone
    # centroids so MANY points hit polygons: the first version of this
    # test used a sparse uniform cloud and PASSED against a cogroup
    # whose type-mismatched salt keys silently dropped ~90% of
    # candidate groups — a handful of pairs is not evidence
    rng = np.random.default_rng(23)
    n = 2000
    lon = rng.uniform(4.5, 31.0, n)
    lat = rng.uniform(57.9, 71.2, n)
    cents = np.array([
        [float(x) for x in
         r["geom_wkt"].split("((")[1].split(",")[0].strip().split()]
        for r in zones.collect()
    ])
    pick = rng.integers(0, len(cents), n)
    lon2 = cents[pick, 0] + rng.normal(0, 0.05, n)
    lat2 = cents[pick, 1] + rng.normal(0, 0.03, n)
    lon = np.r_[lon, lon2]
    lat = np.r_[lat, lat2]
    pts = spark.createDataFrame(
        [(f"P:{i}", float(lon[i]), float(lat[i])) for i in range(len(lon))],
        "feature_id string, lon double, lat double",
    )
    # the mis-partitioning bug hides whenever AQE coalesces both
    # cogroup exchanges to one partition (everything co-located by
    # accident) — pin a real partition count AND disable coalescing so
    # hash-placement disagreements between the two sides must surface
    prev_p = spark.conf.get("spark.sql.shuffle.partitions")
    prev_c = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "37")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        a = {(r["feature_id"], r["zone_id"]) for r in pip_join(pts, zones).collect()}
        b = {
            (r["feature_id"], r["zone_id"])
            for r in pip_join_partitioned(pts, zones).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_p)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev_c)
    assert a == b
    assert len(a) > 500  # a dense cloud must produce real hit volume


def test_pip_anti_brute_force_parity(spark):
    """pip_anti_join must equal the brute-force anti set (ray cast of
    EVERY point against EVERY zone ring, no cell pruning) AND the exact
    complement of pip_join's hit ids — on a mixed uniform+clustered
    cloud over the 50 generated municipality polygons, so both covered
    and uncovered points exist in volume."""
    import numpy as np

    from asag_spark.datagen import generate_zones
    from asag_spark.geo.wkt import parse_polygon, points_in_ring
    from asag_spark.operators.pip import pip_anti_join, pip_join

    zones = generate_zones(spark)
    rng = np.random.default_rng(41)
    n = 1500
    lon = rng.uniform(4.5, 31.0, n)
    lat = rng.uniform(57.9, 71.2, n)
    zrows = zones.collect()
    cents = np.array([
        [float(x) for x in
         r["geom_wkt"].split("((")[1].split(",")[0].strip().split()]
        for r in zrows
    ])
    pick = rng.integers(0, len(cents), n)
    lon = np.r_[lon, cents[pick, 0] + rng.normal(0, 0.05, n)]
    lat = np.r_[lat, cents[pick, 1] + rng.normal(0, 0.03, n)]
    pts = spark.createDataFrame(
        [(f"P:{i}", float(lon[i]), float(lat[i])) for i in range(len(lon))],
        "feature_id string, lon double, lat double",
    )
    covered = np.zeros(len(lon), dtype=bool)
    for r in zrows:
        covered |= points_in_ring(lon, lat, parse_polygon(r["geom_wkt"]))
    brute_anti = {f"P:{i}" for i in range(len(lon)) if not covered[i]}

    got_anti = {r["feature_id"] for r in pip_anti_join(pts, zones).collect()}
    assert got_anti == brute_anti
    hit_ids = {r["feature_id"] for r in pip_join(pts, zones).collect()}
    assert got_anti == {f"P:{i}" for i in range(len(lon))} - hit_ids
    # real volume on both sides or the test proves nothing
    assert len(got_anti) > 300 and len(hit_ids) > 300


_SWEEP_ZONES = [
    ("Z:sq", "POLYGON((10.0 59.9, 10.1 59.9, 10.1 60.0, 10.0 60.0, "
             "10.0 59.9))"),
    ("Z:tri", "POLYGON((10.05 59.95, 10.2 59.95, 10.05 60.05, "
              "10.05 59.95))"),
    ("Z:am_e", "POLYGON((179.9 -0.5, 180.0 -0.5, 180.0 0.5, 179.9 0.5, "
               "179.9 -0.5))"),
    ("Z:am_w", "POLYGON((-180.0 -0.5, -179.9 -0.5, -179.9 0.5, "
               "-180.0 0.5, -180.0 -0.5))"),
    ("Z:np", "POLYGON((-10.0 89.99, 10.0 89.99, 10.0 90.0, -10.0 90.0, "
             "-10.0 89.99))"),
    ("Z:sp", "POLYGON((-10.0 -90.0, 10.0 -90.0, 10.0 -89.99, "
             "-10.0 -89.99, -10.0 -90.0))"),
]
_INF, _NAN = float("inf"), float("nan")


def _cell_boundary_points(lon, lat):
    """Points on the res-7 hex edges and vertices around the cell of
    (lon, lat): edge midpoints and corners of the cell, mapped back
    through the projection's exact inverse."""
    import numpy as np

    from asag_spark.geo import hexgrid

    s, R = hexgrid.EDGE_M[7], hexgrid.EARTH_RADIUS_M
    q, r = hexgrid.cell_qr(np.array([lon]), np.array([lat]), 7)
    x = s * np.sqrt(3.0) * (q[0] + r[0] / 2.0)
    y = s * 1.5 * r[0]
    offs = [(s * np.sqrt(3.0) / 2.0 * dx, s * 0.75 * dy)
            for dx, dy in ((1, 0), (-1, 0), (0.5, 1), (-0.5, -1))]
    offs += [(0.0, s), (0.0, -s), (s * np.sqrt(3.0) / 2.0, s / 2.0),
             (-s * np.sqrt(3.0) / 2.0, -s / 2.0)]
    out = []
    for dx, dy in offs:
        la = np.degrees((y + dy) / R)
        lo = np.degrees((x + dx) / (R * np.cos(np.radians(la))))
        out.append((float(lo), float(la)))
    return out


def _sweep_case(name):
    """(points, zones) of one PIP edge case; points are (id, lon, lat),
    None = NULL."""
    zones = list(_SWEEP_ZONES)
    inside = [("A", 10.05, 59.95), ("B", 10.07, 59.97), ("C", 20.0, 20.0)]
    if name == "empty":
        return [], zones
    if name == "no_zones":
        return inside, []
    if name == "all_invalid":
        bad = (None, _NAN, _INF, -_INF)
        return [(f"P{i}{j}", lo, la) for i, lo in enumerate(bad)
                for j, la in enumerate(bad + (59.95,))] + [
            (f"Q{i}", 10.05, la) for i, la in enumerate(bad)
        ], zones
    if name == "duplicates":
        # repeated point ids; a zone_id repeated with different WKT
        return inside + [("A", 10.06, 59.96), ("A", 25.0, 60.0),
                         ("A", _NAN, 59.95), ("B", 10.07, 59.97),
                         ("D", 11.05, 60.05), ("E", 12.05, 60.05)], zones + [
            ("Z:dup", "POLYGON((11.0 60.0, 11.1 60.0, 11.1 60.1, 11.0 60.1, "
                      "11.0 60.0))"),
            ("Z:dup", "POLYGON((12.0 60.0, 12.1 60.0, 12.1 60.1, 12.0 60.1, "
                      "12.0 60.0))"),
        ]
    if name == "antimeridian_poles":
        return [(f"M{i}", lo, la) for i, (lo, la) in enumerate(
            [(179.9999, 0.1), (-179.9999, 0.1), (179.9999, -0.4999),
             (-179.9999, 0.4999), (180.0, 0.0), (-180.0, 0.0),
             (179.9999, 0.6), (-179.9999, -0.6),
             (0.0, 89.999), (5.0, 89.999), (-9.9, 89.999), (15.0, 89.999),
             (0.0, -89.999), (9.9, -89.999), (-15.0, -89.999),
             (0.0, 90.0), (0.0, -90.0)])], zones
    if name == "boundaries":
        on_ring = [(10.0, 59.9), (10.1, 60.0), (10.0, 60.0), (10.05, 59.9),
                   (10.0, 59.95), (10.1, 59.95), (10.05, 60.0),
                   (10.05, 59.95), (10.2, 59.95), (10.05, 60.05),
                   (10.125, 59.95), (10.125, 60.0), (10.05, 60.025)]
        cells = _cell_boundary_points(10.05, 59.95) + _cell_boundary_points(
            10.099, 59.999)
        return [(f"V{i}", lo, la)
                for i, (lo, la) in enumerate(on_ring + cells)], zones
    if name == "far_from_lon0":
        # past |lon| ≈ 33° a tall zone's cell cover peaks in q inside
        # its east/west edges (here near lat -12.7°), not at a corner
        return [(f"F{i}", lo, -12.7) for i, lo in enumerate(
            (150.0001, 150.9999, 150.5, 149.9999, 151.0001))], zones + [
            ("Z:far", "POLYGON((150.0 -40.0, 151.0 -40.0, 151.0 10.0, "
                      "150.0 10.0, 150.0 -40.0))"),
        ]
    raise ValueError(name)


@pytest.mark.parametrize("case", [
    "empty", "no_zones", "all_invalid", "duplicates", "antimeridian_poles",
    "boundaries", "far_from_lon0",
])
def test_pip_family_edge_cases(spark, case):
    """The broadcast PIP family (pip_join, pip_anti_join,
    pip_flag_join) and pip_join_partitioned on edge-case inputs, each
    against a brute-force ray cast of every valid point against every
    deduplicated zone ring. One validity rule for all four: a point is
    valid iff lon and lat are both finite. Pairs: same multiset from
    both joins and the brute force. Anti: the ids of the valid points
    that hit nothing, as a multiset. Flag: every input row and value
    kept (NaN stays NaN, NULL stays NULL), covered = brute hit."""
    import math
    from collections import Counter

    import numpy as np
    import pyarrow as pa

    from asag_spark.geo.wkt import parse_polygon, points_in_ring
    from asag_spark.operators.pip import (
        pip_anti_join, pip_flag_join, pip_join_partitioned,
    )

    points, zone_rows = _sweep_case(case)
    # Arrow tables keep NaN apart from NULL and build the frames in the
    # JVM (a Python-row frame costs a Python task per partition)
    pts = spark.createDataFrame(pa.table({
        "feature_id": pa.array([p[0] for p in points], pa.string()),
        "lon": pa.array([p[1] for p in points], pa.float64()),
        "lat": pa.array([p[2] for p in points], pa.float64()),
        "k": pa.array(range(len(points)), pa.int32()),
    }))
    zones = spark.createDataFrame(pa.table({
        "zone_id": pa.array([z[0] for z in zone_rows], pa.string()),
        "geom_wkt": pa.array([z[1] for z in zone_rows], pa.string()),
    }))

    best = {}
    for zid, wkt in zone_rows:
        best[zid] = max(wkt, best.get(zid, wkt))
    lon = np.array([np.nan if p[1] is None else p[1] for p in points])
    lat = np.array([np.nan if p[2] is None else p[2] for p in points])
    valid = np.isfinite(lon) & np.isfinite(lat)
    want_pairs, hit = Counter(), np.zeros(len(points), dtype=bool)
    for zid, wkt in best.items():
        inside = np.zeros(len(points), dtype=bool)
        inside[valid] = points_in_ring(lon[valid], lat[valid],
                                       parse_polygon(wkt))
        hit |= inside
        want_pairs.update((points[k][0], zid) for k in np.flatnonzero(inside))

    def pairs(df):
        return Counter((r["feature_id"], r["zone_id"]) for r in df.collect())

    assert pairs(pip_join(pts, zones)) == want_pairs
    assert pairs(pip_join_partitioned(pts, zones)) == want_pairs
    assert Counter(r["feature_id"] for r in pip_anti_join(pts, zones).collect()) \
        == Counter(points[k][0] for k in np.flatnonzero(valid & ~hit))

    flagged = sorted(pip_flag_join(pts, zones).collect(), key=lambda r: r["k"])
    assert [r["k"] for r in flagged] == list(range(len(points)))
    for r, (pid, lo, la), h in zip(flagged, points, hit):
        assert r["feature_id"] == pid and r["covered"] == bool(h)
        for got, want in ((r["lon"], lo), (r["lat"], la)):
            assert got == want or (
                got is not None and want is not None
                and math.isnan(got) and math.isnan(want)
            ), (r, lo, la)
    if case in ("duplicates", "antimeridian_poles", "boundaries",
                "far_from_lon0"):
        assert want_pairs   # real hits or the case proves nothing


def test_knn_golden(spark, features):
    """The four F-ADJ stops are within ~100 m of each other and >50 km
    from everything else → each one's 3-NN are exactly the other three."""
    knn = knn_join(features.filter(F.col("lat").isNotNull()), k=3)
    rows = knn.collect()
    adj = {f"NSR:StopPlace:{n}" for n in (59879, 59880, 59881, 59883)}
    got = {}
    for r in rows:
        got.setdefault(r["feature_id"], set()).add(r["neighbor_id"])
    for sid in adj:
        assert got[sid] == adj - {sid}, sid
    # ranks deterministic and 1-based
    ranks = sorted(r["rank"] for r in rows if r["feature_id"] == "NSR:StopPlace:59881")
    assert ranks == [1, 2, 3]


def _knn_brute_force(lon, lat, ids, k=3, rings=1):
    """Reference evaluation of the disk contract: candidates = targets
    whose own cell is in grid_disk(probe cell, rings); top-k
    (haversine, id)."""
    import numpy as np

    from asag_spark.geo import hexgrid
    from asag_spark.operators.knn import KNN_RES

    q, r_ = hexgrid.cell_qr(lon, lat, KNN_RES)
    own = list(zip(q.tolist(), r_.tolist()))
    R = hexgrid.EARTH_RADIUS_M
    p1, l1 = np.radians(lat), np.radians(lon)

    def hav(j, i_arr):
        a = (np.sin((p1[i_arr] - p1[j]) / 2) ** 2
             + np.cos(p1[j]) * np.cos(p1[i_arr]) * np.sin((l1[i_arr] - l1[j]) / 2) ** 2)
        return 2 * R * np.arcsin(np.sqrt(np.minimum(a, 1.0)))

    expected = {}
    for j in range(len(ids)):
        disk = set(hexgrid.grid_disk(own[j][0], own[j][1], rings))
        cand = np.array([i for i in range(len(ids)) if i != j and own[i] in disk])
        if len(cand) == 0:
            continue
        d = hav(j, cand)
        order = sorted(zip(d.tolist(), [ids[i] for i in cand]))[:k]
        for rank, (_, nid) in enumerate(order, 1):
            expected[(ids[j], rank)] = nid
    return expected


@pytest.mark.parametrize(
    "lon0,lat0,seed,k,rings",
    [
        (30.0, 70.0, 7, 3, 1),     # Norway-bbox worst-case projection shear
        (30.0, 70.0, 7, 5, 1),     # same cloud, larger k (termination rarer)
        (0.1, 0.1, 11, 3, 1),      # equator/prime meridian (zero shear)
        (-170.0, 80.0, 13, 3, 1),  # high-latitude antimeridian-adjacent, max shear
        (179.0, -60.0, 17, 3, 1),  # southern hemisphere, large |lon|
        (30.0, 70.0, 7, 3, 2),     # rings=2: wider disk, same exactness
        (0.1, 0.1, 19, 5, 2),      # rings=2 at zero shear, larger k
    ],
)
def test_knn_brute_force_parity(spark, lon0, lat0, seed, k, rings):
    """Two-phase pruning (own-cell terminate + ring pass) must equal a
    brute-force evaluation of the disk contract exactly, wherever the
    cloud sits: the termination bound's shear deflation is derived from
    the point's own (lon, lat), so parity must hold at zero shear and
    at shear far beyond the Norway bbox — dense enough that many probes
    terminate in phase 1 AND many sit in the boundary sliver where
    skipping would be wrong. rings is now a real dial (VERDICT r02 #6):
    the ring-cell UDF derives its offsets from the SAME grid_disk the
    brute force uses, parity-swept at rings=1 and rings=2."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = 600
    lon = lon0 + rng.uniform(-0.25, 0.25, n)
    lat = lat0 + rng.uniform(-0.08, 0.08, n)
    ids = [f"P:{i:04d}" for i in range(n)]
    df = spark.createDataFrame(
        list(zip(ids, lon.tolist(), lat.tolist())),
        "feature_id string, lon double, lat double",
    )
    got = {
        (r["feature_id"], r["rank"]): r["neighbor_id"]
        for r in knn_join(df, k=k, rings=rings).collect()
    }
    assert got == _knn_brute_force(lon, lat, ids, k=k, rings=rings)


def test_tile_feature_collections(tiled):
    tiles = tile_feature_collections(tiled, tile_col="h3_r7").collect()
    assert sum(t["n_features"] for t in tiles) == 12
    for t in tiles:
        fc = t["feature_collection"]
        assert fc.startswith('{"features": [') and fc.endswith('"type": "FeatureCollection"}')
        import json

        parsed = json.loads(fc)
        assert len(parsed["features"]) == t["n_features"]
        for feat in parsed["features"]:
            assert feat["type"] == "Feature"
            assert feat["geometry"]["type"] in ("Point", "Polygon")
            assert "entityType" in feat["properties"]


def test_raster_vector_roundtrip(tiled):
    raster = rasterize_density(tiled, tile_col="h3_r9")
    assert raster.agg(F.sum("n")).first()[0] == 12
    vec = vectorize_cells(raster).collect()
    for r in vec:
        assert r["geom_wkt"].startswith("POLYGON((")
        # 6 vertices + closing point
        assert r["geom_wkt"].count(",") == 6


def test_rings_intersect_cases():
    import numpy as np

    def box(x0, y0, x1, y1):
        return np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float
        )

    a = box(0, 0, 2, 2)
    assert rings_intersect(a, box(1, 1, 3, 3))        # partial overlap
    assert not rings_intersect(a, box(5, 5, 6, 6))    # disjoint
    assert rings_intersect(a, box(0.5, 0.5, 1.5, 1.5))  # nested
    assert rings_intersect(box(0.5, 0.5, 1.5, 1.5), a)  # nested (other order)
    assert rings_intersect(a, a.copy())               # identical rings


def test_zone_overlap_join_fixture_and_synthetic(spark):
    # fixture: only the two identical Bolærene tariff zones overlap
    pairs = {(r.zone_a, r.zone_b)
             for r in zone_overlap_join(fixture_zones(spark)).collect()}
    assert pairs == {("VKT:TariffZone:729", "VKT:TariffZone:730")}

    # synthetic: chain of boxes A-B-C where consecutive boxes overlap
    rows = [
        ("A", "POLYGON((10.0 59.0, 10.2 59.0, 10.2 59.2, 10.0 59.2, 10.0 59.0))"),
        ("B", "POLYGON((10.1 59.1, 10.3 59.1, 10.3 59.3, 10.1 59.3, 10.1 59.1))"),
        ("C", "POLYGON((10.25 59.25, 10.4 59.25, 10.4 59.4, 10.25 59.4, 10.25 59.25))"),
        ("D", "POLYGON((11.5 59.0, 11.6 59.0, 11.6 59.1, 11.5 59.1, 11.5 59.0))"),
    ]
    zones = spark.createDataFrame(rows, "zone_id string, geom_wkt string")
    got = {(r.zone_a, r.zone_b) for r in zone_overlap_join(zones).collect()}
    assert got == {("A", "B"), ("B", "C")}


def test_vectorize_cells_jvm_matches_python_twin(spark):
    """The JVM boundary expression must match _hex_boundary_wkt
    digit-for-digit (%.7f) across resolutions and coordinate signs."""
    from asag_spark.geo import hexgrid
    from asag_spark.geo.tiles import _hex_boundary_wkt

    rows = [(f"h{res}_{q}_{r}", 1) for res in (7, 8, 9, 10)
            for q in (-12000, -3, 0, 9999) for r in (-8000, 0, 25073)]
    df = spark.createDataFrame(rows, "cell string, n long")
    for r in vectorize_cells(df).collect():
        res, q, rr = hexgrid.parse_cell(r.cell)
        assert r.geom_wkt == _hex_boundary_wkt(q, rr, res), r.cell


def test_snap_nearest_zone_brute_parity(spark):
    """snap_nearest_zone covers EXACTLY the anti set and each snap is
    the brute-force argmin of haversine(point, zone vertex centroid)
    with the (dist, zone_id) tie-break."""
    import numpy as np

    from asag_spark.datagen import generate_zones
    from asag_spark.geo.wkt import haversine_m, parse_polygon, points_in_ring
    from asag_spark.operators.knn import snap_nearest_zone
    from asag_spark.operators.pip import pip_anti_join

    zones = generate_zones(spark)
    rng = np.random.default_rng(53)
    n = 600
    lon = rng.uniform(4.5, 31.0, n)
    lat = rng.uniform(57.9, 71.2, n)
    pts = spark.createDataFrame(
        [(f"P:{i}", float(lon[i]), float(lat[i])) for i in range(n)],
        "feature_id string, lon double, lat double",
    )
    got = {r["feature_id"]: (r["zone_id"], r["dist_m"])
           for r in snap_nearest_zone(pts, zones).collect()}
    anti = {r["feature_id"] for r in pip_anti_join(pts, zones).collect()}
    assert set(got) == anti and len(anti) > 100

    zrows = zones.collect()
    cents = []
    for r in zrows:
        ring = parse_polygon(r["geom_wkt"])[:-1]
        cents.append((r["zone_id"], ring[:, 0].mean(), ring[:, 1].mean()))
    for i in range(n):
        fid = f"P:{i}"
        if fid not in got:
            continue
        dists = sorted(
            (round(float(haversine_m(
                np.array([lon[i]]), np.array([lat[i]]),
                np.array([clon]), np.array([clat]))[0]), 3), zid)
            for zid, clon, clat in cents
        )
        assert (dists[0][1], dists[0][0]) == got[fid], fid


def test_snap_to_boundary_constructed(spark):
    """Hand-checkable case: a unit square zone at the equator (cos
    correction = ~1). A point east of the right edge snaps
    perpendicular onto it; a point past a corner clamps to the
    vertex; the first-minimal-edge rule breaks vertex ties."""
    from asag_spark.geo.wkt import haversine_m
    from asag_spark.operators.pip import snap_to_boundary

    zones = spark.createDataFrame(
        [("Z:1", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        "zone_id string, geom_wkt string",
    )
    pts = spark.createDataFrame(
        [
            ("P:east", 1.5, 0.5),    # perpendicular onto edge 1->2
            ("P:corner", 2.0, 2.0),  # clamps to vertex (1, 1)
            ("P:inside", 0.9, 0.5),  # inside: nearest boundary = x=1
        ],
        "feature_id string, lon double, lat double",
    )
    r = {x["feature_id"]: x for x in snap_to_boundary(pts, zones).collect()}
    assert (r["P:east"]["snap_lon"], r["P:east"]["snap_lat"]) == (1.0, 0.5)
    assert r["P:east"]["edge_idx"] == 1
    assert (r["P:corner"]["snap_lon"], r["P:corner"]["snap_lat"]) == (1.0, 1.0)
    # vertex (1,1) ends edge 1 and starts edge 2: first minimal wins
    assert r["P:corner"]["edge_idx"] == 1
    assert (r["P:inside"]["snap_lon"], r["P:inside"]["snap_lat"]) == (1.0, 0.5)
    expect = float(haversine_m(1.5, 0.5, 1.0, 0.5))
    assert r["P:east"]["dist_m"] == pytest.approx(expect, abs=0.001)


def test_snap_to_boundary_pruned_parity(spark):
    """Pruned (cell-bucketed ring-expansion) vs dense kernel on a
    dense zone cloud: identical rows — same winner, same tie-breaks,
    same floats (the subset kernel is elementwise-identical). The
    point set exercises every pruned code path: in-cloud points
    (bounded expansion), a mid-range point (>_SNAP_JUMP_G empty rings
    → the vectorized nearest-bucket jump), far points beyond the
    SNAP_D_CAP_M shear-validity disk (dense per-cell fallback), and a
    null-coordinate row (the invalid row: edge 0, NULL snap and dist),
    plus duplicate ids, an empty point set and an all-invalid (NULL,
    NaN and ±inf) one."""
    import math

    import numpy as np

    from asag_spark.operators.pip import snap_to_boundary

    zs = []
    for gy in range(10):
        for gx in range(10):
            x0 = 10.0 + gx * 0.12
            y0 = 59.5 + gy * 0.07
            x1, y1 = x0 + 0.06, y0 + 0.035
            zs.append((
                f"Z:{gy:02d}{gx:02d}",
                f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                f"{x0} {y1}, {x0} {y0}))",
            ))
    zones = spark.createDataFrame(zs, "zone_id string, geom_wkt string")
    rng = np.random.default_rng(71)
    n = 400
    lon = rng.uniform(9.7, 11.6, n)
    lat = rng.uniform(59.3, 60.4, n)
    rows = [(f"P:{i:03d}", float(lon[i]), float(lat[i])) for i in range(n)]
    rows += [
        ("P:mid", 13.2, 60.9),        # ~150 km out: jump + bounded expand
        ("P:far1", 25.0, 70.5),       # >400 km: per-cell dense fallback
        ("P:far2", 5.2, 58.1),
        ("P:null", None, None),
        # duplicate ids stay separate rows (same and different points)
        ("P:dup", 10.3, 59.8),
        ("P:dup", 10.3, 59.8),
        ("P:dup", 11.0, 60.0),
    ]
    schema = "feature_id string, lon double, lat double"
    pts = spark.createDataFrame(rows, schema)

    def canon(df):
        return sorted(
            tuple("nan" if isinstance(v, float) and math.isnan(v) else v
                  for v in row)
            for row in df.collect()
        )

    dense = canon(snap_to_boundary(pts, zones, mode="dense"))
    pruned = canon(snap_to_boundary(pts, zones, mode="pruned"))
    assert pruned == dense
    # the auto gate flips to pruned when edges exceed dense_max_edges
    # (100 zones x 4 edges = 400 > 100) and must stay row-identical
    auto = canon(snap_to_boundary(pts, zones, dense_max_edges=100))
    assert auto == dense
    # three-way sweep (VERDICT r04 #1): the fully-distributed strategy
    # (executor-built edge index, coarsening-ladder search, inverted
    # broadcast fallback for the >cap far points) must emit the exact
    # same rows — the pair kernel mirrors the dense float math, so
    # winners and tie-breaks agree, and the far points exercise the
    # fallback scan while P:null exercises the invalid-row mirror
    distributed = canon(snap_to_boundary(pts, zones, mode="distributed"))
    assert distributed == dense
    # the second auto gate (edge-count estimate > dist_min_edges)
    # must route to the same place without collecting the edge set
    auto_dist = canon(snap_to_boundary(pts, zones, dist_min_edges=100))
    assert auto_dist == dense
    assert sum(r[0] == "P:dup" for r in dense) == 3
    # no valid point at all: none for no points, the first edge with
    # NULL snap and dist per invalid point; the distributed ladder then
    # runs no round and must still build its (empty) best-edge frame
    invalid = spark.createDataFrame(
        [("P:null", None, None), ("P:nan", float("nan"), 59.5),
         ("P:inf", float("inf"), 59.5), ("P:ninf", 10.2, float("-inf"))],
        schema,
    )
    for edge_pts, n in ((spark.createDataFrame([], schema), 0), (invalid, 4)):
        want = canon(snap_to_boundary(edge_pts, zones, mode="dense"))
        assert len(want) == n
        assert all(r[2] == 0 and r[3:] == (None, None, None) for r in want)
        for mode in ("pruned", "distributed"):
            assert canon(snap_to_boundary(edge_pts, zones, mode=mode)) == want


def test_snap_to_lines_distributed_parity(spark):
    """snap_to_lines rides the same distributed engine: open polylines
    explode to K-1 segments executor-side and match the dense kernel
    row-for-row, including the line-id tie rule."""
    import math

    import numpy as np

    from asag_spark.operators.pip import snap_to_lines

    lines = []
    rng = np.random.default_rng(17)
    for i in range(40):
        x0 = 9.8 + rng.uniform(0, 1.6)
        y0 = 59.4 + rng.uniform(0, 0.9)
        verts = [(x0, y0)]
        for _ in range(4):
            x0 += rng.uniform(-0.05, 0.05)
            y0 += rng.uniform(-0.03, 0.03)
            verts.append((x0, y0))
        wkt = "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in verts) + ")"
        lines.append((f"L:{i:02d}", wkt))
    ldf = spark.createDataFrame(lines, "line_id string, geom_wkt string")
    n = 150
    lon = rng.uniform(9.7, 11.6, n)
    lat = rng.uniform(59.3, 60.4, n)
    rows = [(f"P:{i:03d}", float(lon[i]), float(lat[i])) for i in range(n)]
    rows += [("P:far", 24.0, 70.0), ("P:null", None, None)]
    pts = spark.createDataFrame(
        rows, "feature_id string, lon double, lat double"
    )

    def canon(df):
        return sorted(
            tuple("nan" if isinstance(v, float) and math.isnan(v) else v
                  for v in row)
            for row in df.collect()
        )

    dense = canon(snap_to_lines(pts, ldf, mode="dense"))
    assert canon(snap_to_lines(pts, ldf, mode="distributed")) == dense


def test_cell_center_exact_roundtrip():
    """cell_center_exact is the true lattice inverse: cell_qr of every
    center recovers its own (q, r) — across the whole Norway bbox and
    all four resolutions."""
    import numpy as np

    from asag_spark.geo import hexgrid

    rng = np.random.default_rng(5)
    lon = rng.uniform(4.5, 31.0, 500)
    lat = rng.uniform(57.9, 71.2, 500)
    for res in hexgrid.RESOLUTIONS:
        q, r = hexgrid.cell_qr(lon, lat, res)
        clon, clat = hexgrid.cell_center_exact(q, r, res)
        q2, r2 = hexgrid.cell_qr(clon, clat, res)
        assert (q2 == q).all() and (r2 == r).all(), res


def test_zone_polyfill_properties(spark):
    """zone_polyfill: every emitted cell's center really is inside the
    ring (independent recompute); no cell outside the bbox cover; two
    zones sharing only an edge get DISJOINT polyfills (centers
    partition a planar subdivision); a zone smaller than any cell may
    legitimately polyfill to zero cells."""
    import numpy as np

    from asag_spark.geo import hexgrid
    from asag_spark.geo.wkt import parse_polygon, points_in_ring, ring_bbox
    from asag_spark.operators.pip import zone_polyfill

    zones = spark.createDataFrame(
        [
            ("Z:west", "POLYGON((10.0 59.5, 10.4 59.5, 10.4 59.9, "
                       "10.0 59.9, 10.0 59.5))"),
            ("Z:east", "POLYGON((10.4 59.5, 10.8 59.5, 10.8 59.9, "
                       "10.4 59.9, 10.4 59.5))"),
            ("Z:tiny", "POLYGON((12.0 60.0, 12.001 60.0, 12.001 60.001, "
                       "12.0 60.001, 12.0 60.0))"),
        ],
        "zone_id string, geom_wkt string",
    )
    out = zone_polyfill(zones).collect()
    by_zone: dict[str, set] = {}
    for r in out:
        by_zone.setdefault(r["zone_id"], set()).add(r["cell"])
    rings = {r["zone_id"]: parse_polygon(r["geom_wkt"])
             for r in zones.collect()}
    for zid, cells in by_zone.items():
        ring = rings[zid]
        cover = set(hexgrid.cover_bbox(*ring_bbox(ring), res=7))
        for cell in cells:
            res, q, r_ = hexgrid.parse_cell(cell)
            assert res == 7 and (q, r_) in cover
            clon, clat = hexgrid.cell_center_exact(
                np.array([q]), np.array([r_]), 7)
            assert points_in_ring(clon, clat, ring)[0], (zid, cell)
    assert len(by_zone.get("Z:west", set())) > 20
    assert not by_zone.get("Z:west", set()) & by_zone.get("Z:east", set())
    assert "Z:tiny" not in by_zone or len(by_zone["Z:tiny"]) <= 1


def test_snap_to_lines_constructed(spark):
    """Hand-checkable open-polyline snap at the equator: perpendicular
    projection onto a segment interior; clamp to the OPEN end (an open
    line must clamp at its last vertex, not wrap like a ring); the
    first-minimal-segment rule at a shared interior vertex."""
    from asag_spark.geo.wkt import haversine_m
    from asag_spark.operators.pip import snap_to_lines

    lines = spark.createDataFrame(
        [("L:1", "LINESTRING(0 0, 1 0, 1 1)")],
        "line_id string, geom_wkt string",
    )
    pts = spark.createDataFrame(
        [
            ("P:below", 0.5, -0.5),   # perpendicular onto segment 0
            ("P:past_end", 1.0, 1.5), # beyond the open end: clamp (1,1)
            ("P:corner", 1.5, -0.5),  # nearest the shared vertex (1,0)
        ],
        "feature_id string, lon double, lat double",
    )
    r = {x["feature_id"]: x for x in snap_to_lines(pts, lines).collect()}
    assert (r["P:below"]["snap_lon"], r["P:below"]["snap_lat"]) == (0.5, 0.0)
    assert r["P:below"]["edge_idx"] == 0
    assert (r["P:past_end"]["snap_lon"], r["P:past_end"]["snap_lat"]) == (1.0, 1.0)
    assert r["P:past_end"]["edge_idx"] == 1
    expect = float(haversine_m(1.0, 1.5, 1.0, 1.0))
    assert r["P:past_end"]["dist_m"] == pytest.approx(expect, abs=0.001)
    # vertex (1,0) ends segment 0 and starts segment 1: first min wins
    assert (r["P:corner"]["snap_lon"], r["P:corner"]["snap_lat"]) == (1.0, 0.0)
    assert r["P:corner"]["edge_idx"] == 0


def test_snap_to_lines_scalar_reference_and_pruned_parity(spark):
    """snap_to_lines vs an independent per-point/per-segment scalar
    loop over the fixture features x fixture lines, then pruned-mode
    parity (the shared engine's gate must be invisible through the
    open-polyline entry point too)."""
    import math

    from asag_spark.datagen import fixture_lines
    from asag_spark.geo.wkt import haversine_m, parse_linestring
    from asag_spark.operators.pip import snap_to_lines

    feats = build_features(fixture_docs(spark), as_of=AS_OF).filter(
        F.col("lat").isNotNull()
    )
    lines = fixture_lines(spark)
    got = {
        r["feature_id"]: (r["line_id"], r["edge_idx"], r["snap_lon"],
                          r["snap_lat"], r["dist_m"])
        for r in snap_to_lines(feats, lines).collect()
    }
    lrows = sorted(
        {(r["line_id"], r["geom_wkt"]) for r in lines.collect()}
    )
    assert len(got) > 0
    for p in feats.select("feature_id", "lon", "lat").collect():
        best = None
        for lid, wkt in lrows:
            v = parse_linestring(wkt)
            for i in range(len(v) - 1):
                ax, ay = v[i]
                bx, by = v[i + 1]
                cl = math.cos(math.radians((ay + by) / 2.0))
                dx, dy = (bx - ax) * cl, by - ay
                den = dx * dx + dy * dy or 1.0
                t = max(0.0, min(1.0, ((p["lon"] - ax) * cl * dx
                                       + (p["lat"] - ay) * dy) / den))
                sx, sy = ax + t * (bx - ax), ay + t * (by - ay)
                import numpy as np

                d = float(haversine_m(
                    np.array([p["lon"]]), np.array([p["lat"]]),
                    np.array([sx]), np.array([sy]))[0])
                if best is None or d < best[0]:
                    best = (d, lid, i, sx, sy)
        d_g = got[p["feature_id"]]
        assert (d_g[0], d_g[1]) == (best[1], best[2]), p["feature_id"]
        assert d_g[2] == pytest.approx(best[3], abs=1e-6)
        assert d_g[3] == pytest.approx(best[4], abs=1e-6)
        assert d_g[4] == pytest.approx(best[0], abs=0.01)
    # pruned parity through the lines entry point
    import math as _m
    dense = sorted(
        tuple("nan" if isinstance(v, float) and _m.isnan(v) else v
              for v in row)
        for row in snap_to_lines(feats, lines, mode="dense").collect()
    )
    pruned = sorted(
        tuple("nan" if isinstance(v, float) and _m.isnan(v) else v
              for v in row)
        for row in snap_to_lines(feats, lines, mode="pruned").collect()
    )
    assert pruned == dense


def test_snap_to_boundary_scalar_reference(spark):
    """Vectorized kernel vs an independent per-point/per-edge scalar
    loop over the fixture features x fixture zones."""
    import math

    import numpy as np

    from asag_spark.geo.wkt import haversine_m, parse_polygon
    from asag_spark.operators.pip import snap_to_boundary

    feats = build_features(fixture_docs(spark), as_of=AS_OF).filter(
        F.col("lat").isNotNull()
    )
    zones = fixture_zones(spark)
    got = {
        r["feature_id"]: (r["zone_id"], r["edge_idx"], r["snap_lon"],
                          r["snap_lat"], r["dist_m"])
        for r in snap_to_boundary(feats, zones).collect()
    }
    zrows = sorted(
        {(r["zone_id"], r["geom_wkt"]) for r in zones.collect()}
    )
    for p in feats.select("feature_id", "lon", "lat").collect():
        best = None
        for zid, wkt in zrows:
            ring = parse_polygon(wkt)
            for i in range(len(ring) - 1):
                ax, ay = ring[i]
                bx, by = ring[i + 1]
                cl = math.cos(math.radians((ay + by) / 2.0))
                dx, dy = (bx - ax) * cl, by - ay
                den = dx * dx + dy * dy or 1.0
                t = max(0.0, min(1.0, ((p["lon"] - ax) * cl * dx
                                       + (p["lat"] - ay) * dy) / den))
                sx, sy = ax + t * (bx - ax), ay + t * (by - ay)
                d = float(haversine_m(np.float64(p["lon"]), np.float64(p["lat"]),
                                      np.float64(sx), np.float64(sy)))
                if best is None or d < best[0] - 1e-9:
                    best = (d, zid, i, sx, sy)
        zid_g, ei_g, sx_g, sy_g, d_g = got[p["feature_id"]]
        assert (zid_g, ei_g) == (best[1], best[2])
        assert sx_g == pytest.approx(best[3], abs=1e-6)
        assert sy_g == pytest.approx(best[4], abs=1e-6)
        assert d_g == pytest.approx(best[0], abs=0.01)
