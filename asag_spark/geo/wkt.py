"""Vectorized WKT geometry helpers (numpy; used inside Arrow pandas UDFs).

shapely is not available in this container, so the polygon WKT the
reference produces (exterior ring only — ZoneToGeoJsonFeatureMapper
.java:76-112; interior rings intentionally unsupported, matching the
reference's no-holes semantics) is parsed here; POINT WKT is parsed
JVM-side (enrich.point_lon / point_lat). Parsing happens only inside
Arrow-batched UDFs — never per-row Python at the DataFrame layer.
"""

from __future__ import annotations

import numpy as np


def parse_polygon(wkt: str) -> np.ndarray:
    """'POLYGON((lon lat, ...))' → (N,2) array of the exterior ring.

    Only the first (exterior) ring is read — hole semantics match the
    reference (ZoneToGeoJsonFeatureMapper.java:104-112).
    """
    inner = wkt[wkt.index("((") + 2:]
    inner = inner[: inner.index(")")]
    pairs = [p.strip().split() for p in inner.split(",")]
    return np.array([[float(a), float(b)] for a, b in pairs], dtype=np.float64)


def parse_linestring(wkt: str) -> np.ndarray:
    """'LINESTRING(lon lat, ...)' → (N,2) vertex array of the OPEN
    polyline (no closing vertex — a route geometry, not a ring)."""
    inner = wkt[wkt.index("(") + 1:]
    inner = inner[: inner.index(")")]
    pairs = [p.strip().split() for p in inner.split(",")]
    if len(pairs) < 2:
        raise ValueError(f"LINESTRING needs >= 2 vertices: {wkt!r}")
    return np.array([[float(a), float(b)] for a, b in pairs], dtype=np.float64)


def ring_bbox(ring: np.ndarray) -> tuple[float, float, float, float]:
    return (
        float(ring[:, 0].min()), float(ring[:, 1].min()),
        float(ring[:, 0].max()), float(ring[:, 1].max()),
    )


def points_in_ring(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast: which of N points fall inside one
    exterior ring. O(N_points × N_edges) with numpy broadcasting —
    rings here are small (10s of vertices); candidate sets are already
    cell-pruned before this refine step.
    Boundary behavior: half-open (points exactly on a horizontal edge
    may go either way) — standard crossing-number semantics.
    """
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    # edges straddling the point's latitude
    lat_c = lat[:, None]
    lon_c = lon[:, None]
    straddle = (y1[None, :] > lat_c) != (y2[None, :] > lat_c)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_int = x1[None, :] + (lat_c - y1[None, :]) / (y2[None, :] - y1[None, :]) * (
            x2[None, :] - x1[None, :]
        )
    crossings = np.sum(straddle & (lon_c < x_int), axis=1)
    return (crossings % 2).astype(bool)


def rings_centroids(wkts) -> tuple[np.ndarray, np.ndarray]:
    """Bulk shoelace centroids for a sequence of 'POLYGON((...))' WKTs.

    Fully vectorized: one float parse over the concatenated coordinate
    blob, then segmented shoelace sums via ``np.add.reduceat`` — no
    per-vertex Python. Semantics identical to ring_centroid (exterior
    ring only; degenerate ring → vertex mean)."""
    inners = [w[w.index("((") + 2:] for w in wkts]
    inners = [s[: s.index(")")] for s in inners]
    counts = np.array([s.count(",") + 1 for s in inners], dtype=np.int64)
    blob = ",".join(inners).replace(",", " ")
    vals = np.array(blob.split(), dtype=np.float64)
    x, y = vals[0::2], vals[1::2]
    total = counts.sum()
    ends = np.cumsum(counts)
    starts = ends - counts
    # consecutive-pair terms, zeroed at ring boundaries
    cr = np.zeros(total, dtype=np.float64)
    tx = np.zeros(total, dtype=np.float64)
    ty = np.zeros(total, dtype=np.float64)
    cr[:-1] = x[:-1] * y[1:] - x[1:] * y[:-1]
    tx[:-1] = (x[:-1] + x[1:]) * cr[:-1]
    ty[:-1] = (y[:-1] + y[1:]) * cr[:-1]
    last = ends - 1
    cr[last] = 0.0
    tx[last] = 0.0
    ty[last] = 0.0
    area2 = np.add.reduceat(cr, starts)
    cxa = np.add.reduceat(tx, starts)
    cya = np.add.reduceat(ty, starts)
    with np.errstate(divide="ignore", invalid="ignore"):
        cx = cxa / (3.0 * area2)
        cy = cya / (3.0 * area2)
    tiny = np.abs(area2) < 2e-18
    if tiny.any():
        mx = np.add.reduceat(x, starts) / counts
        my = np.add.reduceat(y, starts) / counts
        cx = np.where(tiny, mx, cx)
        cy = np.where(tiny, my, cy)
    return cx, cy


def ring_centroid(ring: np.ndarray) -> tuple[float, float]:
    """Area-weighted centroid of the exterior ring (shoelace)."""
    x, y = ring[:-1, 0], ring[:-1, 1]
    xn, yn = ring[1:, 0], ring[1:, 1]
    cross = x * yn - xn * y
    a = cross.sum() / 2.0
    if abs(a) < 1e-18:
        return float(ring[:, 0].mean()), float(ring[:, 1].mean())
    cx = ((x + xn) * cross).sum() / (6.0 * a)
    cy = ((y + yn) * cross).sum() / (6.0 * a)
    return float(cx), float(cy)


EARTH_RADIUS_M = 6_371_008.8


def haversine_m(lon1: np.ndarray, lat1: np.ndarray,
                lon2: np.ndarray, lat2: np.ndarray) -> np.ndarray:
    """Vectorized great-circle distance in meters."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dp / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))
