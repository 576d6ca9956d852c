"""Tests for the geo kernels (pure numpy)."""

import numpy as np
import pytest

from asag_spark.geo import hexgrid, s2
from asag_spark.geo.wkt import (
    haversine_m, parse_polygon, points_in_ring, ring_bbox, ring_centroid,
)


# ---- S2 ---------------------------------------------------------------

def test_s2_face_tokens():
    # canonical S2 level-0 tokens for the six face centers
    lon = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    lat = np.array([0.0, 0.0, 90.0, 0.0, 0.0, -90.0])
    toks = s2.token(s2.parent_id(s2.leaf_cell_id(lon, lat), 0))
    assert list(toks) == ["1", "3", "5", "7", "9", "b"]


def test_s2_hierarchy():
    lon = np.array([10.757933, 5.741593, 31.0, -122.3321])
    lat = np.array([59.911491, 58.956267, 70.1, 47.6062])
    leaf = s2.leaf_cell_id(lon, lat)
    for lv in (4, 10, 16, 25):
        parents = s2.parent_id(leaf, lv)
        # parent must contain the leaf: leaf in [parent - lsb + 1, parent + lsb - 1]
        lsb = np.uint64(1) << np.uint64(2 * (30 - lv))
        assert np.all(leaf >= parents - lsb + np.uint64(1))
        assert np.all(leaf <= parents + lsb - np.uint64(1))
        assert all(s2.cell_level(int(p)) == lv for p in parents)


def test_s2_locality_and_determinism():
    lon = np.array([10.0, 10.0000001, 11.0])
    lat = np.array([59.0, 59.0000001, 59.0])
    c16 = s2.token(s2.cell_id_at(lon, lat, 16))
    assert c16[0] == c16[1]        # ~1cm apart → same level-16 cell
    assert c16[0] != c16[2]        # ~57km apart → different
    again = s2.token(s2.cell_id_at(lon, lat, 16))
    assert list(c16) == list(again)


# ---- geodesic measures -----------------------------------------------

def test_ring_area_and_perimeter_vs_analytic_box():
    from asag_spark.geo.measures import ring_area_m2, ring_perimeter_m
    from asag_spark.geo.wkt import EARTH_RADIUS_M

    lon0, lon1, lat0, lat1 = 10.0, 10.5, 59.0, 59.4
    ring = np.array(
        [[lon0, lat0], [lon1, lat0], [lon1, lat1], [lon0, lat1], [lon0, lat0]]
    )
    # exact spherical area of a lon/lat box: R^2 * dlon * (sin lat1 - sin lat0)
    exact = (
        EARTH_RADIUS_M ** 2
        * np.radians(lon1 - lon0)
        * (np.sin(np.radians(lat1)) - np.sin(np.radians(lat0)))
    )
    assert abs(ring_area_m2(ring) - exact) / exact < 1e-6
    # perimeter ~ planar cos-midlat approximation for a small box
    w = np.radians(lon1 - lon0) * EARTH_RADIUS_M * np.cos(np.radians(59.2))
    h = np.radians(lat1 - lat0) * EARTH_RADIUS_M
    approx = 2 * (w + h)
    assert abs(ring_perimeter_m(ring) - approx) / approx < 2e-3
    # orientation-invariant
    assert ring_area_m2(ring[::-1]) == ring_area_m2(ring)


def test_ring_area_antimeridian():
    from asag_spark.geo.measures import ring_area_m2
    from asag_spark.geo.wkt import EARTH_RADIUS_M

    # 2-degree-wide box straddling the antimeridian
    ring = np.array(
        [[179.0, 10.0], [-179.0, 10.0], [-179.0, 11.0], [179.0, 11.0],
         [179.0, 10.0]]
    )
    exact = (
        EARTH_RADIUS_M ** 2
        * np.radians(2.0)
        * (np.sin(np.radians(11.0)) - np.sin(np.radians(10.0)))
    )
    assert abs(ring_area_m2(ring) - exact) / exact < 1e-6


# ---- hexgrid ----------------------------------------------------------

def test_hexgrid_stability_and_resolution():
    lon = np.array([10.757933, 10.757933, 10.76, 12.0])
    lat = np.array([59.911491, 59.911491, 59.9116, 60.0])
    c7 = hexgrid.cell_id(lon, lat, 7)
    assert c7[0] == c7[1]
    assert c7[0] != c7[3]
    # nearby points merge at coarse res, split at fine res
    c10 = hexgrid.cell_id(lon, lat, 10)
    assert c10[0] != c10[2]


def test_hexgrid_disk_and_parse():
    cells = hexgrid.grid_disk(5, -3, 1)
    assert len(cells) == 7 and (5, -3) in cells
    assert hexgrid.parse_cell("h7_5_-3") == (7, 5, -3)


def test_hexgrid_ring_equals_disk_difference():
    # grid_ring(k) must be exactly the k-th shell of grid_disk — the
    # incremental-expansion contract the pruned snap search relies on
    for k in range(0, 6):
        ring = hexgrid.grid_ring(7, -2, k)
        assert len(ring) == (1 if k == 0 else 6 * k)
        assert len(set(ring)) == len(ring)
        expect = set(hexgrid.grid_disk(7, -2, k)) - (
            set(hexgrid.grid_disk(7, -2, k - 1)) if k else set()
        )
        assert set(ring) == expect


def test_hexgrid_ring_center_distance_lower_bound():
    """The pruned snap bound rests on: centers of cells at hex
    distance g are >= 1.5*s*g apart in the projected plane. Verify
    numerically over rings 1..8 (lattice geometry — positions are
    x = s*sqrt3*(q + r/2), y = s*1.5*r)."""
    s = 1.0
    sq3 = np.sqrt(3.0)
    for g in range(1, 9):
        dmin = min(
            np.hypot(s * sq3 * (q + r / 2.0), s * 1.5 * r)
            for q, r in hexgrid.grid_ring(0, 0, g)
        )
        assert dmin >= 1.5 * s * g - 1e-9, (g, dmin)


def test_hexgrid_cover_contains_point_cell():
    q, r = hexgrid.cell_qr(np.array([10.5]), np.array([59.2]), 7)
    cover = hexgrid.cover_bbox(10.4, 59.1, 10.6, 59.3, 7)
    assert (int(q[0]), int(r[0])) in cover


@pytest.mark.parametrize("box,res", [
    ((150.0, -40.0, 151.0, 10.0), 7),
    ((170.0, -30.0, 179.0, 5.0), 3),
    ((-151.0, -10.0, -150.0, 40.0), 7),
])
def test_cover_bbox_contains_every_cell_far_from_lon0(box, res):
    """Past |lon| ≈ 33° q peaks inside the east/west edges, not at a
    corner: every cell of a point on or inside the bbox is covered."""
    min_lon, min_lat, max_lon, max_lat = box
    t = np.linspace(0.0, 1.0, 100_001)
    rng = np.random.default_rng(3)
    lon = np.concatenate([np.full_like(t, min_lon), np.full_like(t, max_lon),
                          rng.uniform(min_lon, max_lon, 100_000)])
    lat = np.concatenate([min_lat + t * (max_lat - min_lat)] * 2
                         + [rng.uniform(min_lat, max_lat, 100_000)])
    q, r = hexgrid.cell_qr(lon, lat, res)
    cover = set(hexgrid.cover_bbox(*box, res))
    assert set(zip(q.tolist(), r.tolist())) <= cover


def _loop_cover_bbox(min_lon, min_lat, max_lon, max_lat, res):
    """Scalar bbox cover (pad 1): the axial range of the four corners
    plus, on each east/west edge, the latitude where q peaks
    (sinφ* = −1/(√3·λ), when |λ| > 1/√3 rad and φ* lies on the edge)."""
    corners_lon = [min_lon, max_lon, min_lon, max_lon]
    corners_lat = [min_lat, min_lat, max_lat, max_lat]
    for lon in (min_lon, max_lon):
        lam = np.radians(lon)
        if abs(lam) > 1.0 / np.sqrt(3.0):
            lat = np.degrees(np.arcsin(-1.0 / (np.sqrt(3.0) * lam)))
            if min_lat < lat < max_lat:
                corners_lon.append(lon)
                corners_lat.append(lat)
    q, r = hexgrid.cell_qr(np.array(corners_lon), np.array(corners_lat), res)
    return [(qq, rr) for qq in range(int(q.min()) - 1, int(q.max()) + 2)
            for rr in range(int(r.min()) - 1, int(r.max()) + 2)]


def _loop_edge_cells(A, B, res):
    """The per-piece edge cover loop the vectorized one replaced:
    edge i → the set of cells its ~cell-size pieces' bboxes cover."""
    ax_m, ay_m = hexgrid._project(A[:, 0], A[:, 1])
    bx_m, by_m = hexgrid._project(B[:, 0], B[:, 1])
    n_sub = np.maximum(1, np.ceil(
        np.hypot(bx_m - ax_m, by_m - ay_m) / hexgrid.EDGE_M[res]
    ).astype(np.int64))
    out = []
    for i in range(len(A)):
        m = int(n_sub[i])
        ts = np.linspace(0.0, 1.0, m + 1)
        px = A[i, 0] + ts * (B[i, 0] - A[i, 0])
        py = A[i, 1] + ts * (B[i, 1] - A[i, 1])
        cells = set()
        for j in range(m):
            cells.update(_loop_cover_bbox(
                min(px[j], px[j + 1]), min(py[j], py[j + 1]),
                max(px[j], px[j + 1]), max(py[j], py[j + 1]), res,
            ))
        out.append(cells)
    return out


def _parity_edges(res):
    """Benchmark-shaped zone-grid ring edges (a slice of the zones, to
    bound the loop's cost), random equator-crossing edges, zero-length
    edges and edges longer than 100 cells."""
    from asag_spark.datagen import generate_dense_zone_grid

    class _Rows:
        def createDataFrame(self, rows, schema):
            return rows

    rows = generate_dense_zone_grid(_Rows(), nx=25, ny=25)
    rings = [parse_polygon(w) for *_, w in rows[::4 if res == 3 else 40]]
    A = [np.concatenate([v[:-1] for v in rings])]
    B = [np.concatenate([v[1:] for v in rings])]
    rng = np.random.default_rng(res)
    deg = np.degrees(hexgrid.EDGE_M[res] / hexgrid.EARTH_RADIUS_M)
    a = np.column_stack([rng.uniform(-20, 20, 40), rng.uniform(-8, 0, 40) * deg])
    A.append(a)
    B.append(a + np.column_stack([rng.uniform(-6, 6, 40),
                                  rng.uniform(8, 16, 40)]) * deg)
    z = np.array([[10.0, 60.0], [-0.3, 0.0], [179.9, -45.0]])
    A.append(z)
    B.append(z)
    L = np.array([[5.0, 58.0], [-3.0, -2.0], [100.0, 30.0]])
    A.append(L)
    B.append(L + np.array([[0.0, 110.0], [120.0, 60.0], [-130.0, 0.0]]) * deg)
    return np.concatenate(A), np.concatenate(B)


@pytest.mark.parametrize("res", [7, 3])
def test_edge_cells_matches_per_piece_loop(res):
    """The vectorized snap edge index equals the per-piece loop: the
    pruned cell → ascending-edge-list map, and the dilate=1 (cell, edge)
    set the distributed strategy joins on."""
    from asag_spark.operators.pip import _edge_cells

    A, B = _parity_edges(res)
    # the bbox cover alone: random boxes, and (at res 3, where they
    # stay small) two equator-spanning boxes near ±180° whose q extreme
    # is an east/west-edge pseudo-corner
    rng = np.random.default_rng(7)
    lo = np.column_stack([rng.uniform(-180, 170, 30), rng.uniform(-30, 5, 30)])
    hi = lo + rng.uniform(0.0, 0.25 if res == 7 else 25.0, (30, 2))
    if res == 3:
        lo = np.vstack([lo, [[-180.0, -5.0], [160.0, -40.0]]])
        hi = np.vstack([hi, [[-170.0, 40.0], [179.0, 3.0]]])
    ref_boxes = [_loop_cover_bbox(*a, *b, res) for a, b in zip(lo, hi)]
    assert [hexgrid.cover_bbox(*a, *b, res) for a, b in zip(lo, hi)] \
        == ref_boxes
    box, q, r = hexgrid._cover_bboxes(lo[:, 0], lo[:, 1], hi[:, 0], hi[:, 1],
                                      res)
    assert list(zip(box.tolist(), q.tolist(), r.tolist())) == [
        (i, *c) for i, cells in enumerate(ref_boxes) for c in cells]
    ref = _loop_edge_cells(A, B, res)
    ref_map = {}
    for i, cells in enumerate(ref):
        for c in cells:
            ref_map.setdefault(c, []).append(i)
    edge, q, r = _edge_cells(A[:, 0], A[:, 1], B[:, 0], B[:, 1], res)
    got_map = {}
    for i, qq, rr in zip(edge.tolist(), q.tolist(), r.tolist()):
        got_map.setdefault((qq, rr), []).append(i)
    assert got_map == ref_map
    offs = hexgrid.grid_disk(0, 0, 1)
    ref_dil = {(cq + dq, cr + dr, i) for i, cells in enumerate(ref)
               for cq, cr in cells for dq, dr in offs}
    edge, q, r = _edge_cells(A[:, 0], A[:, 1], B[:, 0], B[:, 1], res,
                             dilate=1)
    got_dil = list(zip(q.tolist(), r.tolist(), edge.tolist()))
    assert len(got_dil) == len(set(got_dil))
    assert set(got_dil) == ref_dil


# ---- WKT / ray cast ---------------------------------------------------

BOX = "POLYGON((10.95 58.97, 10.97 58.97, 10.97 58.99, 10.95 58.99, 10.95 58.97))"


def test_ray_cast():
    ring = parse_polygon(BOX)
    lon = np.array([10.957167, 10.5, 10.9699, 10.9501])
    lat = np.array([58.981227, 59.2, 58.9899, 58.9701])
    inside = points_in_ring(lon, lat, ring)
    assert inside.tolist() == [True, False, True, True]
    assert ring_bbox(ring) == (10.95, 58.97, 10.97, 58.99)
    cx, cy = ring_centroid(ring)
    assert cx == pytest.approx(10.96, abs=1e-6)
    assert cy == pytest.approx(58.98, abs=1e-6)


def test_haversine():
    # Oslo S -> Drangedal ~ 120 km
    d = haversine_m(np.array([10.7522]), np.array([59.9139]),
                    np.array([9.0646]), np.array([59.0962]))
    assert 90_000 < d[0] < 150_000
    assert haversine_m(np.array([10.0]), np.array([59.0]),
                       np.array([10.0]), np.array([59.0]))[0] == 0.0
