"""End-to-end feature-pipeline parity tests.

Reproduces every assertion of the reference's
DeliveryPublicationStreamToGeoJsonTest.java:60-195 and
StopPlaceToGeoJsonFeatureMapperTest.java:60-146 on the docs-table
encoding of the same fixtures (FIXTURES.md §1).
"""

import pytest
from pyspark.sql import functions as F

from asag_spark.datagen import AS_OF, fixture_docs
from asag_spark.operators.enrich import build_features


@pytest.fixture(scope="module")
def features(spark):
    rows = build_features(fixture_docs(spark), as_of=AS_OF).collect()
    return {r["feature_id"]: r for r in rows}


def test_membership(features):
    # DeliveryPublicationStreamToGeoJsonTest.java:60-92 (present ids) and
    # :159-195 (exclusions: no-geometry zone, expired stop)
    present = {
        "NSR:StopPlace:1", "NSR:StopPlace:10", "NSR:Quay:8",
        "NSR:Parking:99", "VKT:TariffZone:729", "VKT:TariffZone:730",
    }
    assert present <= set(features)
    assert "VKT:TariffZone:788" not in features   # no geometry
    assert "NSR:StopPlace:22" not in features     # expired vs AS_OF


def test_geometries_nonnull(features):
    for r in features.values():
        assert r["geometry_wkt"] is not None


def test_zone_base_properties(features):
    sp1 = features["NSR:StopPlace:1"]
    assert sp1["properties"]["name"] == "Drangedal stasjon"
    assert sp1["properties"]["nameLang"] == "nor"
    assert sp1["properties"]["codeSpace"] == "NSR"
    assert sp1["properties"]["entityType"] == "StopPlace"
    assert sp1["properties"]["finalStopPlaceType"] == "railStation"
    assert sp1["properties"]["stopPlaceType"] == "railStation"
    assert sp1["lon"] == pytest.approx(10.758136)
    assert sp1["lat"] == pytest.approx(59.911868)
    tz = features["VKT:TariffZone:729"]
    assert tz["properties"]["codeSpace"] == "VKT"
    assert tz["section"] == 2
    assert tz["geometry_wkt"].startswith("POLYGON((10.47906867027 59.19325200734")


def test_quay(features):
    q = features["NSR:Quay:8"]
    assert q["properties"]["entityType"] == "Quay"
    assert q["properties"]["publicCode"] == "2"
    assert q["properties"]["privateCode"] == "2"
    # description is an empty MultilingualString → property set to ""
    # (MapperHelper.mapMultilingualString sets unconditionally)
    assert q["properties"]["description"] == ""
    assert q["properties"]["descriptionLang"] == "nor"


def test_parking(features):
    p = features["NSR:Parking:99"]
    assert p["section"] == 1
    assert p["properties"]["entityType"] == "Parking"
    assert p["properties"]["hasParentSiteRef"] == "false"


def test_adjacency(features):
    # StopPlaceToGeoJsonFeatureMapperTest.java:60-101 via F-ADJ fixture
    s = features["NSR:StopPlace:59881"]
    assert s["adjacent_sites"] == ["NSR:StopPlace:59879", "NSR:StopPlace:59880"]
    assert s["properties"]["isPrimaryAdjacentSite"] == "true"
    assert s["properties"]["hasParentSiteRef"] == "true"
    assert s["properties"]["isParentStopPlace"] == "false"
    assert s["properties"]["finalStopPlaceType"] == "ferryStop_onstreetBus_railStation"
    assert s["properties"]["stopPlaceType"] == "railStation"

    # non-primary adjacent sites keep their own type
    s79 = features["NSR:StopPlace:59879"]
    assert s79["properties"]["isPrimaryAdjacentSite"] == "false"
    assert s79["properties"]["finalStopPlaceType"] == "ferryStop"

    # airSubmode=unknown must not produce submode / finalStopPlaceType
    s83 = features["NSR:StopPlace:59883"]
    # properties is a fixed struct: null field == property absent
    assert s83["properties"]["submode"] is None
    assert s83["properties"]["finalStopPlaceType"] is None
    assert s83["properties"]["isParentStopPlace"] == "true"


def test_composite_frame_docs(features):
    # PublicationDeliveryHelperTest.java:55-72 via F-CF
    assert features["NSR:StopPlace:999"]["properties"]["finalStopPlaceType"] == "busStation"
    assert features["NSR:StopPlace:1000"]["properties"]["finalStopPlaceType"] == "railStation"


def test_span_sequence_preserved(spark):
    """Per-row invariant (input_hint): (kind, text, media_ref, order) of
    every doc's spans survive extraction/enrichment unchanged."""
    docs = fixture_docs(spark)
    feats = build_features(docs, as_of=AS_OF)
    out = feats.join(docs, feats["doc_id"] == docs["doc_id"], "inner")
    orig = {r["doc_id"]: r["spans"] for r in docs.collect()}
    # re-extract spans carried on the entity frame
    from asag_spark.extract import extract_entities
    carried = {r["doc_id"]: r["spans"] for r in extract_entities(docs).collect()}
    for k, v in carried.items():
        assert [(s["kind"], s["text"], s["media_ref"]) for s in v] == [
            (s["kind"], s["text"], s["media_ref"]) for s in orig[k]
        ]
    assert out.count() > 0


def test_adjacency_strategy_parity(spark):
    """broadcast_prune (registry-scale) and scatter_gather (web-scale)
    are physical strategies of the same J1/A3 operator — identical
    output on the fixtures AND on a generated slice with duplicate and
    unknown refs, and the same exact finalStopPlaceType on multi-version
    stops: a stop id's types are the set of its valid versions' types,
    on both sides of the edge."""
    from asag_spark.datagen import DOCS, _doc, generate_docs
    from asag_spark.operators.enrich import build_features

    def stop(n, version, stop_type, adjacent):
        _, spans = _doc(f"NSR:StopPlace:{n}", "StopPlace", version=version,
                        props={"stopPlaceType": stop_type,
                               "adjacentSites": f"NSR:StopPlace:{adjacent}"},
                        geom_wkt="POINT(10.75 59.91)")
        return (f"d{n}v{version}", spans)

    for docs in (fixture_docs(spark), generate_docs(spark, 2000)):
        bp = build_features(docs, as_of=AS_OF, adjacency="broadcast_prune")
        sg = build_features(docs, as_of=AS_OF, adjacency="scatter_gather")
        cols = [
            "feature_id",
            F.to_json(F.struct("section", "entity_type", "geometry_wkt",
                               "properties", "adjacent_sites")).alias("j"),
        ]
        a, b = bp.select(*cols), sg.select(*cols)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0

    # doc_id → finalStopPlaceType. Stops 2 and 12 are the primary
    # adjacent sites; stop 2's ref (stop 1) has two versions, and the
    # mirrored pair has them on the primary side (stop 12).
    docs = spark.createDataFrame([
        stop(2, "1", "onstreetBus", 1), stop(1, "1", "onstreetTram", 2),
        stop(1, "2", "railStation", 2),
        stop(11, "1", "onstreetTram", 12), stop(12, "1", "onstreetBus", 11),
        stop(12, "2", "railStation", 11),
    ], schema=DOCS)
    all_three = "onstreetBus_onstreetTram_railStation"
    want = {"d2v1": all_three, "d1v1": "onstreetTram", "d1v2": "railStation",
            "d11v1": "onstreetTram", "d12v1": all_three, "d12v2": all_three}
    got = [
        build_features(docs, as_of=AS_OF, adjacency=strategy).select(
            F.lit(strategy).alias("strategy"), "doc_id",
            F.col("properties.finalStopPlaceType").alias("t"))
        for strategy in ("broadcast_prune", "scatter_gather")
    ]
    rows = got[0].unionByName(got[1]).collect()
    for strategy in ("broadcast_prune", "scatter_gather"):
        assert {r["doc_id"]: r["t"] for r in rows
                if r["strategy"] == strategy} == want


def test_point_scientific_notation_round_trips(spark):
    """ADVICE/VERDICT r02 #5: POINT coordinates in scientific notation
    (legal WKT, producible by float formatting — e.g. 1e-05) must parse
    to the same lon/lat (and therefore the same tile cells) as their
    plain-decimal spelling, not silently null out of PIP/kNN/tiles."""
    from asag_spark.datagen import DOCS, _doc
    from asag_spark.functions import assign_tiles

    base = {"name": "SciNot", "nameLang": "nor",
            "stopPlaceType": "onstreetBus",
            "validFrom": "2017-06-19T19:12:31"}
    rows = [
        _doc("NSR:StopPlace:901", "StopPlace", props=base,
             geom_wkt="POINT(1e-05 5.9911868e+01)"),
        _doc("NSR:StopPlace:902", "StopPlace", props=base,
             geom_wkt="POINT(0.00001 59.911868)"),
        _doc("NSR:StopPlace:903", "StopPlace", props=base,
             geom_wkt="POINT(-1.075E+01 59.911868)"),
        _doc("NSR:StopPlace:904", "StopPlace", props=base,
             geom_wkt="POINT(-10.75 59.911868)"),
    ]
    docs = spark.createDataFrame(rows, schema=DOCS)
    feats = assign_tiles(build_features(docs, as_of=AS_OF))
    got = {r["feature_id"]: r for r in feats.collect()}
    assert got["NSR:StopPlace:901"]["lon"] == pytest.approx(1e-05)
    assert got["NSR:StopPlace:901"]["lat"] == pytest.approx(59.911868)
    for a, b in (("901", "902"), ("903", "904")):
        ra, rb = got[f"NSR:StopPlace:{a}"], got[f"NSR:StopPlace:{b}"]
        assert ra["lon"] == rb["lon"] and ra["lat"] == rb["lat"]
        assert ra["h3_r7"] == rb["h3_r7"] and ra["s2_cell"] == rb["s2_cell"]


def test_streamed_feature_collection_sink(spark, tmp_path):
    """write_feature_collection streams 100k+ features through
    toLocalIterator (no driver-side list of the whole collection) and
    produces a valid FeatureCollection with the reference framing."""
    import json

    from pyspark.sql import functions as F

    from asag_spark.geojson import write_feature_collection
    from asag_spark.schema import PROP_FIELDS

    props = F.struct(*[
        (F.concat(F.lit("n"), F.col("id")) if k == "name"
         else F.lit(None).cast("string")).alias(k)
        for k in PROP_FIELDS
    ])
    feats = spark.range(100_000).select(
        F.concat(F.lit("F:"), F.col("id")).alias("feature_id"),
        F.lit(0).alias("section"),
        F.concat(F.lit("POINT(10.0 59."),
                 F.pmod(F.col("id"), F.lit(1000)).cast("string"),
                 F.lit(")")).alias("geometry_wkt"),
        F.lit(10.0).alias("lon"),
        (F.lit(59.0) + F.pmod(F.col("id"), F.lit(1000)) / 1e6).alias("lat"),
        props.alias("properties"),
        F.lit(None).cast("array<string>").alias("adjacent_sites"),
    )
    path = str(tmp_path / "out.geojson")
    n = write_feature_collection(feats, path, order_by=("feature_id",))
    assert n == 100_000
    with open(path, encoding="utf-8") as f:
        fc = json.load(f)
    assert fc["type"] == "FeatureCollection"
    assert len(fc["features"]) == 100_000
    assert fc["features"][0]["id"] == "F:0"
    assert fc["features"][0]["properties"]["name"] == "n0"


def test_streamed_sink_matches_driver_framing(spark, tmp_path):
    """Fixture-scale parity: the streamed sink's bytes equal the
    driver-list framing of the same ordered feature_json values."""
    from asag_spark.datagen import AS_OF, fixture_docs
    from asag_spark.geojson import feature_collection, feature_json, write_feature_collection
    from asag_spark.operators.enrich import build_features

    feats = build_features(fixture_docs(spark), as_of=AS_OF)
    path = str(tmp_path / "fx.geojson")
    write_feature_collection(feats, path)
    ordered = [r[0] for r in feature_json(feats)
               .orderBy("section", "feature_id").select("feature_json").collect()]
    assert open(path, encoding="utf-8").read() == feature_collection(ordered)
