"""Deterministic synthetic docs/zones tables (FIXTURES.md).

Two producers:

* ``fixture_docs`` — the reference XML fixtures (publication-delivery.xml,
  adjacent_sites_netex.xml, composite-frame-delivery.xml) encoded into the
  ``input_hint`` docs shape. Literals mirror FIXTURES.md §1.1-1.3, which
  mirror /root/reference/src/test/resources/*.xml.
* ``generate_docs`` — scale generator: pure function of (seed, n_docs),
  identical at every parallelism level (FIXTURES.md §3). Randomness is a
  counter-based splitmix64 stream keyed on the doc index — no RNG state
  crosses partition boundaries, so the table is bit-identical at
  local[8] and local[32]. Zipf-weighted urban clusters make the H3-cell
  occupancy heavily skewed (exercises the salted-repartition path).

Generation runs distributed (``spark.range(n) → mapInPandas``); the
driver never materializes rows.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .schema import DOCS, ZONES

# Pinned "now" for the validity filter (FIXTURES.md §1.1) — replaces the
# reference's wall-clock LocalDateTime.now() (ValidityFilter.java:41).
# Must postdate every fixture validFrom (the latest is
# adjacent_sites_netex.xml's 2018-11-30T09:44:04 on NSR:StopPlace:59883;
# the reference's tests ran with a later wall clock and include it).
AS_OF = "2019-01-01T00:00:00"

# FIXTURES.md §1 span-encoding prop-key order — canonical list lives in
# schema.ENTITY_PROP_KEYS (the extract kernel and the generator must
# agree on the key set).
from .schema import ENTITY_PROP_KEYS

PROP_KEY_ORDER = list(ENTITY_PROP_KEYS)

BOLAERENE_WKT = (
    "POLYGON((10.47906867027 59.19325200734, 10.47434798241 59.18555854825, "
    "10.4628582 59.1552823, 10.4883382988 59.14873791493, "
    "10.54670316696 59.15252299004, 10.60695631027 59.16686726457, "
    "10.61759931564 59.19993296444, 10.55768949509 59.23683024321, "
    "10.50550443649 59.24130791157, 10.49983961105 59.24034218969, "
    "10.49468976974 59.21654167617, 10.47906867027 59.19325200734))"
)


def _doc(doc_id: str, entity_type: str, version: str = "1",
         props: dict[str, str] | None = None, geom_wkt: str | None = None,
         media: list[str] | None = None) -> tuple[str, list]:
    """Assemble one doc row in the FIXTURES.md span encoding.

    Span order: meta, prop* (PROP_KEY_ORDER), geom?, media*; ``offset`` is
    the running char offset of ``text`` within the doc.
    """
    spans: list[tuple[str, str, str, int]] = []
    off = 0

    def push(kind: str, text: str, media_ref: str = "") -> None:
        nonlocal off
        spans.append((kind, text, media_ref, off))
        off += len(text)

    push("meta", f"entity_type={entity_type};id={doc_id};version={version}")
    for k in PROP_KEY_ORDER:
        if props and k in props and props[k] is not None:
            push("prop", f"{k}={props[k]}")
    if geom_wkt:
        push("geom", geom_wkt)
    for m in media or []:
        push("media", "", m)
    return (doc_id, spans)


# --------------------------------------------------------------------------
# Fixtures (FIXTURES.md §1.1-1.3)
# --------------------------------------------------------------------------

def fixture_docs_rows() -> list[tuple[str, list]]:
    rows = [
        # F-PD — publication-delivery.xml (9 docs)
        _doc("NSR:StopPlace:1", "StopPlace", version="2",
             props={"name": "Drangedal stasjon", "nameLang": "nor",
                    "stopPlaceType": "railStation",
                    "validFrom": "2017-08-09T12:11:42"},
             geom_wkt="POINT(10.758136 59.911868)"),
        _doc("NSR:StopPlace:22", "StopPlace",
             props={"name": "Outdated stop", "nameLang": "nor",
                    "stopPlaceType": "onstreetBus",
                    "validFrom": "2017-06-19T19:12:31.003",
                    "validTo": "2017-06-20T19:12:31.003"},  # expired → excluded
             geom_wkt="POINT(5.741593 58.956267)"),
        _doc("NSR:StopPlace:10", "StopPlace",
             props={"name": "Paradis", "nameLang": "nor",
                    "stopPlaceType": "onstreetBus",
                    "validFrom": "2017-06-19T19:12:31.003"},
             geom_wkt="POINT(5.741593 58.956267)"),
        _doc("NSR:Quay:8", "Quay", version="2",
             props={"description": "", "descriptionLang": "nor",
                    "privateCode": "2", "publicCode": "2",
                    "keyList": ("grails-platformId:6684|uicCode:7602103|"
                                "imported-id:NSB:Quay:0076021032|tpsiId:760210302"),
                    "parentDocId": "NSR:StopPlace:10"},
             geom_wkt="POINT(9.064469 59.096179)"),
        _doc("NSR:Parking:99", "Parking", version="4",
             props={"name": "Parkeringen", "nameLang": "nor"},
             geom_wkt="POINT(10.794161 63.411566)"),
        _doc("VKT:TariffZone:729", "TariffZone",
             props={"name": "Bolærene", "nameLang": "nor"},
             geom_wkt=BOLAERENE_WKT),
        _doc("VKT:TariffZone:788", "TariffZone",
             props={"name": "No geometry found here", "nameLang": "nor"}),
        _doc("VKT:TariffZone:730", "TariffZone",
             props={"name": "Bolærene", "nameLang": "nor"},
             geom_wkt=BOLAERENE_WKT),
        # F-ADJ — adjacent_sites_netex.xml (4 docs)
        _doc("NSR:StopPlace:59881", "StopPlace", version="7",
             props={"name": "Test Bravo", "nameLang": "nor",
                    "description": "", "descriptionLang": "nor",
                    "stopPlaceType": "railStation",
                    "adjacentSites": "NSR:StopPlace:59879,NSR:StopPlace:59880",
                    "parentSiteRef": "NSR:StopPlace:59883",
                    "keyList": "IS_PARENT_STOP_PLACE:false",
                    "weighting": "interchangeAllowed"},
             geom_wkt="POINT(10.957167 58.981227)"),
        _doc("NSR:StopPlace:59883", "StopPlace", version="6",
             props={"name": "Triangle", "nameLang": "nor",
                    "description": "", "descriptionLang": "nor",
                    "airSubmode": "unknown",
                    "keyList": ("CHANGED_BY:johan.wiklund-test|"
                                "IS_PARENT_STOP_PLACE:true"),
                    "weighting": "interchangeAllowed",
                    "validFrom": "2018-11-30T09:44:04"},
             geom_wkt="POINT(10.957344 58.981500)"),
        _doc("NSR:StopPlace:59879", "StopPlace", version="7",
             props={"name": "Test Charlie", "nameLang": "nor",
                    "description": "", "descriptionLang": "nor",
                    "stopPlaceType": "ferryStop",
                    "adjacentSites": "NSR:StopPlace:59881",
                    "parentSiteRef": "NSR:StopPlace:59883",
                    "keyList": "IS_PARENT_STOP_PLACE:false",
                    "weighting": "interchangeAllowed"},
             geom_wkt="POINT(10.957891 58.981594)"),
        _doc("NSR:StopPlace:59880", "StopPlace", version="8",
             props={"name": "Test Alpha", "nameLang": "nor",
                    "description": "", "descriptionLang": "nor",
                    "stopPlaceType": "onstreetBus",
                    "adjacentSites": "NSR:StopPlace:59881",
                    "parentSiteRef": "NSR:StopPlace:59883",
                    "keyList": "IS_PARENT_STOP_PLACE:false",
                    "weighting": "interchangeAllowed"},
             geom_wkt="POINT(10.956947 58.981708)"),
        # F-CF — composite-frame-delivery.xml (2 docs)
        _doc("NSR:StopPlace:999", "StopPlace",
             props={"name": "CompositeFrame Stop", "nameLang": "nor",
                    "stopPlaceType": "busStation"},
             geom_wkt="POINT(10.758136 59.911868)"),
        _doc("NSR:StopPlace:1000", "StopPlace",
             props={"name": "Another CompositeFrame Stop", "nameLang": "nor",
                    "stopPlaceType": "railStation"},
             geom_wkt="POINT(5.741593 58.956267)"),
    ]
    return rows


def fixture_docs(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(fixture_docs_rows(), schema=DOCS)


def fixture_zones(spark: SparkSession) -> DataFrame:
    """Polygon side for PIP joins (FIXTURES.md §2).

    MUNI:ADJ is a square containing all four F-ADJ stops
    (lon≈10.957, lat≈58.981); the Bolærene tariff zones contain none of
    the fixture points — so pip_golden is exactly enumerable.
    """
    rows = [
        ("VKT:TariffZone:729", "tariffZone", "Bolærene", BOLAERENE_WKT),
        ("VKT:TariffZone:730", "tariffZone", "Bolærene", BOLAERENE_WKT),
        ("MUNI:ADJ", "municipality", "AdjBox",
         "POLYGON((10.95 58.97, 10.97 58.97, 10.97 58.99, 10.95 58.99, 10.95 58.97))"),
        ("MUNI:0301", "municipality", "OsloBox",
         "POLYGON((10.6 59.8, 10.9 59.8, 10.9 60.0, 10.6 60.0, 10.6 59.8))"),
    ]
    return spark.createDataFrame(rows, schema=ZONES)


def fixture_lines(spark: SparkSession) -> DataFrame:
    """LINESTRING route geometries for the stop-to-route map-matching
    fixture (snap_to_lines): a north-south trunk through the Oslo box,
    an east-west line past the AdjBox stops, and a two-segment
    diagonal — deterministic literals so the line-snap golden is
    exactly enumerable the way pip_golden is."""
    rows = [
        ("RUT:Line:NS1", "LINESTRING(10.75 59.5, 10.75 60.1)"),
        ("RUT:Line:EW1", "LINESTRING(10.90 58.98, 11.00 58.98)"),
        ("RUT:Line:DIAG", "LINESTRING(10.40 59.10, 10.60 59.40, 10.95 59.60)"),
    ]
    return spark.createDataFrame(rows, "line_id string, geom_wkt string")


# --------------------------------------------------------------------------
# Scale generator (FIXTURES.md §3) — counter-based, parallelism-invariant
# --------------------------------------------------------------------------

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain PRNG construction)."""
    z = (x + _GOLDEN).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _uniform(idx: np.ndarray, stream: int, seed: int) -> np.ndarray:
    """U[0,1) for each doc index on an independent stream."""
    key = idx.astype(np.uint64) * np.uint64(0x100000001B3) + np.uint64(
        stream * 2654435761 + seed * 97531
    )
    return (_splitmix64(key) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _cluster_centers(seed: int, n_clusters: int = 50) -> np.ndarray:
    """~50 'urban' cluster centers in the Norway bbox (4.5-31.0 E, 57.9-71.2 N)."""
    rng = np.random.default_rng(seed)
    lon = rng.uniform(4.5, 31.0, n_clusters)
    lat = rng.uniform(57.9, 71.2, n_clusters)
    return np.stack([lon, lat], axis=1)


def _zipf_cdf(n_clusters: int, alpha: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n_clusters + 1) ** alpha
    return np.cumsum(w / w.sum())


def generate_docs(spark: SparkSession, n_docs: int, seed: int = 42,
                  partitions: int | None = None) -> DataFrame:
    """Scale docs table: skewed stop-place points + tariff-zone polygons.

    Mix per FIXTURES.md §3: 1/20 TariffZone (convex polygon), else
    StopPlace; 1/50 expired (validTo < AS_OF); 1/8 carry 1-3 media
    spans; 1/25 of stops reference the previous doc as an adjacent site.
    """
    centers = _cluster_centers(seed)
    cdf = _zipf_cdf(len(centers))
    stop_types = np.array(
        ["onstreetBus", "railStation", "ferryStop", "busStation", "metroStation"]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            idx = pdf["id"].to_numpy(dtype=np.int64)
            n = len(idx)
            u_cluster = _uniform(idx, 0, seed)
            u_lon = _uniform(idx, 1, seed)
            u_lat = _uniform(idx, 2, seed)
            u_kind = _uniform(idx, 3, seed)
            u_media = _uniform(idx, 4, seed)
            u_exp = _uniform(idx, 5, seed)
            u_adj = _uniform(idx, 6, seed)
            u_type = _uniform(idx, 7, seed)
            u_poly = _uniform(idx, 8, seed)

            ci = np.searchsorted(cdf, u_cluster)
            # Box-Muller gaussian scatter ~0.05° around the cluster center
            r = np.sqrt(-2.0 * np.log(np.clip(u_lon, 1e-12, None))) * 0.05
            th = 2.0 * math.pi * u_lat
            lon = centers[ci, 0] + r * np.cos(th)
            lat = np.clip(centers[ci, 1] + r * np.sin(th), -89.9, 89.9)

            is_zone = u_kind < 0.05
            has_media = u_media < 0.125
            n_media = 1 + (np.floor(u_media * 24).astype(int) % 3)
            expired = (~is_zone) & (u_exp < 0.02)
            has_adj = (~is_zone) & (u_adj < 0.04) & (idx > 0)
            st = stop_types[np.floor(u_type * len(stop_types)).astype(int) % len(stop_types)]

            out_ids, out_spans = [], []
            for j in range(n):
                i = int(idx[j])
                if is_zone[j]:
                    doc_id = f"GEN:TariffZone:{i}"
                    nv = 5 + int(u_poly[j] * 7)  # 5..11-gon
                    rad = 0.01 + 0.04 * u_poly[j]
                    ang = 2.0 * math.pi * np.arange(nv) / nv
                    vx = lon[j] + rad * np.cos(ang)
                    vy = lat[j] + rad * np.sin(ang)
                    ring = ", ".join(f"{x:.7f} {y:.7f}" for x, y in zip(vx, vy))
                    first = f"{vx[0]:.7f} {vy[0]:.7f}"
                    wkt = f"POLYGON(({ring}, {first}))"
                    props = {"name": f"Zone {i}", "nameLang": "nor"}
                else:
                    doc_id = f"GEN:StopPlace:{i}"
                    wkt = f"POINT({lon[j]:.7f} {lat[j]:.7f})"
                    props = {"name": f"Stop {i}", "nameLang": "nor",
                             "stopPlaceType": str(st[j]),
                             "validFrom": "2017-01-01T00:00:00"}
                    if expired[j]:
                        props["validTo"] = "2017-06-01T00:00:00"
                    if has_adj[j]:
                        props["adjacentSites"] = f"GEN:StopPlace:{i - 1}"
                media = (
                    [f"img://{doc_id}_{m}.jpg" for m in range(n_media[j])]
                    if has_media[j] else None
                )
                did, spans = _doc(doc_id,
                                  "TariffZone" if is_zone[j] else "StopPlace",
                                  props=props, geom_wkt=wkt, media=media)
                out_ids.append(did)
                out_spans.append(spans)
            yield pd.DataFrame({"doc_id": out_ids, "spans": out_spans})

    parts = partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n_docs, numPartitions=parts)
    return base.mapInPandas(gen, schema=DOCS)


def generate_zones(spark: SparkSession, seed: int = 42) -> DataFrame:
    """One hex 'municipality' polygon around each cluster center (radius
    0.3°) — the broadcastable polygon side for scale PIP joins."""
    centers = _cluster_centers(seed)
    rows = []
    for i, (clon, clat) in enumerate(centers):
        ang = 2.0 * math.pi * np.arange(6) / 6
        vx = clon + 0.3 * np.cos(ang)
        vy = clat + 0.3 * np.sin(ang)
        ring = ", ".join(f"{x:.7f} {y:.7f}" for x, y in zip(vx, vy))
        wkt = f"POLYGON(({ring}, {vx[0]:.7f} {vy[0]:.7f}))"
        rows.append((f"MUNI:{i:04d}", "municipality", f"Muni {i}", wkt))
    return spark.createDataFrame(rows, schema=ZONES)


def generate_dense_zone_grid(spark: SparkSession, nx: int = 50,
                             ny: int = 50) -> DataFrame:
    """A dense regular cloud of small square zones tiling the Norway
    bbox — nx*ny zones / 4*nx*ny edges. The continent-scale-cadastre
    SHAPE for snap/PIP benchmarks: enough edges that any dense
    (points x edges) kernel is off the table and a cell-pruned plan is
    mandatory. Deterministic pure function of (nx, ny)."""
    lon0, lon1, lat0, lat1 = 4.5, 31.0, 57.9, 71.2
    dx = (lon1 - lon0) / nx
    dy = (lat1 - lat0) / ny
    rows = []
    for gy in range(ny):
        for gx in range(nx):
            x0 = lon0 + gx * dx
            y0 = lat0 + gy * dy
            # 70% fill: gaps between zones so snaps cross cell borders
            x1, y1 = x0 + 0.7 * dx, y0 + 0.7 * dy
            wkt = (f"POLYGON(({x0:.7f} {y0:.7f}, {x1:.7f} {y0:.7f}, "
                   f"{x1:.7f} {y1:.7f}, {x0:.7f} {y1:.7f}, "
                   f"{x0:.7f} {y0:.7f}))")
            rows.append((f"CAD:{gy:03d}:{gx:03d}", "cadastre",
                         f"Cell {gy}/{gx}", wkt))
    return spark.createDataFrame(rows, schema=ZONES)


def generate_embeddings(spark: SparkSession, n_vecs: int, dim: int = 64,
                        n_clusters: int = 64, seed: int = 42,
                        partitions: int | None = None) -> DataFrame:
    """Deterministic clustered embedding corpus for ANN benchmarks:
    vec i = unit-normalized (center[c_i] + 0.6·(u−0.5) per-dim noise),
    c_i Zipf-skewed like the geo generator. Clustered (not uniform)
    because locality indexes are meaningless on uniform random vectors;
    counter-based splitmix64 streams make every vector a pure function
    of (vec_id, seed) — same rows at any partitioning (TESTDATA-style:
    synthesized at small scale, no external data)."""
    centers = np.random.default_rng(seed).standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cdf = _zipf_cdf(n_clusters)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            idx = pdf["id"].to_numpy(dtype=np.int64)
            ci = np.searchsorted(cdf, _uniform(idx, 100, seed))
            noise = np.stack(
                [_uniform(idx, 101 + d, seed) - 0.5 for d in range(dim)],
                axis=1,
            )
            V = centers[ci] + 0.6 * noise
            V /= np.linalg.norm(V, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "vec_id": idx,
                    "embedding": [row.astype(np.float32) for row in V],
                }
            )

    parts = partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n_vecs, numPartitions=parts)
    return base.mapInPandas(gen, schema="vec_id long, embedding array<float>")
