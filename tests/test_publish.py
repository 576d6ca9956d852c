"""Publish state machine — scenario parity with the reference's
`MapBoxUpdateRouteBuilderTest.java`: success → finished, error status
→ error, never-complete → timeout, missing blob fails loudly, archive
without XML fails loudly; plus the loop quirks the Camel route encodes
(initiate response inspected before any fetch; bare message exits with
no terminal state; timeout after max_retries+1 fetches).
"""

import json
import os
import zipfile

import pytest

from asag_spark.plans.publish import (
    STATE_ERROR, STATE_FINISHED, STATE_TIMEOUT,
    LocalTransport, Reporter, UploadStatus,
    poll_upload, publish_netex_zip, publish_tileset,
)

REF = "/root/reference/src/test/resources"

NOT_COMPLETE = UploadStatus(id="someId", name="tiamat.geojson",
                            tileset="tilesetname", progress=0)
COMPLETE = UploadStatus(id="someId", name="tiamat.geojson", complete=True,
                        tileset="tilesetname", progress=1)
ERROR = UploadStatus(id="someId", name="tiamat.geojson", error="Failure!",
                     tileset="tilesetname", message="message")


def _geojson(tmp_path):
    p = tmp_path / "tiamat.geojson"
    p.write_text('{"features": [], "type": "FeatureCollection"}')
    return str(p)


def test_success_reaches_finished(tmp_path):
    t = LocalTransport(str(tmp_path / "s3"), status_script=[COMPLETE])
    r = publish_tileset(_geojson(tmp_path), t, tileset="tilesetname",
                        max_retries=3)
    assert r.state == STATE_FINISHED
    assert r.status.complete
    # staged object landed where the credentials pointed
    staged = tmp_path / "s3" / "staging" / "tiles" / "upload.geojson"
    assert staged.read_bytes() == open(_geojson(tmp_path), "rb").read()
    assert any("successfully" in m for m in r.messages)
    assert r.messages[0].startswith("Started mapbox update")


def test_error_status_reaches_error(tmp_path):
    t = LocalTransport(str(tmp_path / "s3"),
                       status_script=[NOT_COMPLETE, ERROR])
    r = publish_tileset(_geojson(tmp_path), t, tileset="tilesetname",
                        max_retries=3)
    assert r.state == STATE_ERROR
    assert r.status.error == "Failure!"
    assert any("*error*" in m for m in r.messages)


def test_error_on_initiate_needs_no_fetch(tmp_path):
    # the loop inspects the initiate response before any status fetch
    # (MapBoxUpdateRouteBuilder.java:136-138)
    t = LocalTransport(str(tmp_path / "s3"), initiate_status=ERROR)
    r = publish_tileset(_geojson(tmp_path), t, tileset="tilesetname",
                        max_retries=3)
    assert r.state == STATE_ERROR
    assert t.fetches == 0


def test_never_complete_times_out(tmp_path):
    t = LocalTransport(str(tmp_path / "s3"), status_script=[NOT_COMPLETE])
    r = publish_tileset(_geojson(tmp_path), t, tileset="tilesetname",
                        max_retries=3)
    assert r.state == STATE_TIMEOUT
    # counter 1..4 each fetch once; the 4th fetch is never inspected
    assert t.fetches == 4
    assert any("*timeout*" in m for m in r.messages)


def test_bare_message_exits_without_state():
    # "Got message, Exiting" (:146-149) — stop, but no terminal state
    msg_only = UploadStatus(id="someId", message="queued elsewhere")
    rep = Reporter()
    state, last = poll_upload(msg_only, lambda _id: COMPLETE,
                              max_retries=3, reporter=rep)
    assert state is None
    assert last is msg_only
    # reporter prefix omitted when state is None (reference :61)
    assert rep.messages and not rep.messages[0].startswith("*")


def test_complete_on_initiate_finishes_immediately(tmp_path):
    t = LocalTransport(str(tmp_path / "s3"), initiate_status=COMPLETE)
    r = publish_tileset(_geojson(tmp_path), t, tileset="tilesetname")
    assert r.state == STATE_FINISHED
    assert t.fetches == 0


def test_missing_geojson_fails_loudly(tmp_path):
    t = LocalTransport(str(tmp_path / "s3"), status_script=[COMPLETE])
    with pytest.raises(FileNotFoundError):
        publish_tileset(str(tmp_path / "absent.geojson"), t, tileset="x")


def test_missing_zip_fails_loudly(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        publish_netex_zip(spark, str(tmp_path / "absent.zip"),
                          str(tmp_path / "wd"),
                          LocalTransport(str(tmp_path / "s3")))


def test_zip_without_xml_fails_loudly(spark, tmp_path):
    # reference: findFirstXmlFileRecursive → NoSuchElementException
    z = tmp_path / "empty.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("readme.txt", "no deliveries here")
    with pytest.raises(ValueError, match="no XML"):
        publish_netex_zip(spark, str(z), str(tmp_path / "wd"),
                          LocalTransport(str(tmp_path / "s3")))


@pytest.mark.skipif(not os.path.isdir(REF),
                    reason="reference test resources not present")
def test_end_to_end_stops_zip(spark, tmp_path):
    """The reference route end-to-end on its own stops.zip: parse →
    feature build → streamed single-file sink → staged PUT → poll →
    finished; the staged object is a valid FeatureCollection."""
    t = LocalTransport(str(tmp_path / "s3"),
                       status_script=[NOT_COMPLETE, COMPLETE])
    r = publish_netex_zip(spark, f"{REF}/stops.zip", str(tmp_path / "wd"),
                          t, tileset="tiamat", max_retries=5)
    assert r.state == STATE_FINISHED
    assert t.initiated and t.initiated[0].tileset == "tiamat"
    staged = tmp_path / "s3" / "staging" / "tiles" / "upload.geojson"
    fc = json.loads(staged.read_text())
    assert fc["type"] == "FeatureCollection"
    assert len(fc["features"]) > 0
    assert r.staged_bytes == staged.stat().st_size


def test_end_to_end_inline_zip(spark, tmp_path):
    """The route end-to-end on a small inline delivery (one StopPlace
    with a centroid, one Quay, one TariffZone polygon), so the success
    path runs without the reference resources: the staged
    FeatureCollection holds exactly build_features' rows over the same
    parsed docs, in (section, feature_id) order."""
    from asag_spark.geojson import feature_json
    from asag_spark.netex import parse_netex_zip
    from asag_spark.operators.enrich import build_features
    from asag_spark.schema import DOCS

    ns = "http://www.netex.org.uk/netex"
    gml = "http://www.opengis.net/gml/3.2"
    delivery = (
        f'<PublicationDelivery xmlns="{ns}" xmlns:gml="{gml}">'
        "<dataObjects><SiteFrame>"
        "<stopPlaces><StopPlace id='NSR:StopPlace:1' version='2'>"
        "<Name lang='nor'>Drangedal stasjon</Name>"
        "<Centroid><Location><Longitude>9.071</Longitude>"
        "<Latitude>59.097</Latitude></Location></Centroid>"
        "<StopPlaceType>railStation</StopPlaceType>"
        "<quays><Quay id='NSR:Quay:8' version='1'>"
        "<Centroid><Location><Longitude>9.0712</Longitude>"
        "<Latitude>59.0971</Latitude></Location></Centroid>"
        "<PublicCode>1</PublicCode></Quay></quays>"
        "</StopPlace></stopPlaces>"
        "<tariffZones><TariffZone id='VKT:TariffZone:729' version='1'>"
        "<Name>Drangedal</Name>"
        "<gml:Polygon><gml:exterior><gml:LinearRing>"
        "<gml:posList>59.0 9.0 59.2 9.0 59.2 9.2 59.0 9.0</gml:posList>"
        "</gml:LinearRing></gml:exterior></gml:Polygon>"
        "</TariffZone></tariffZones>"
        "</SiteFrame></dataObjects></PublicationDelivery>"
    )
    z = tmp_path / "stops.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("tiamat-export.xml", delivery)

    t = LocalTransport(str(tmp_path / "s3"),
                       status_script=[NOT_COMPLETE, COMPLETE])
    jsc = spark.sparkContext._jsc
    cached_before = set(jsc.getPersistentRDDs().keySet().toArray())
    r = publish_netex_zip(spark, str(z), str(tmp_path / "wd"), t,
                          max_retries=5)
    assert r.state == STATE_FINISHED
    # the feature build's entity cache is released after the write
    assert set(jsc.getPersistentRDDs().keySet().toArray()) - cached_before \
        == set()
    staged = tmp_path / "s3" / "staging" / "tiles" / "upload.geojson"
    got = [(f["id"], f["properties"])
           for f in json.loads(staged.read_text())["features"]]

    docs = spark.createDataFrame(parse_netex_zip(str(z)), schema=DOCS)
    want = [json.loads(fj) for _, _, fj in sorted(
        feature_json(build_features(docs))
        .select("section", "feature_id", "feature_json").collect())]
    assert got == [(f["id"], f["properties"]) for f in want]
    assert [i for i, _ in got] == [
        "NSR:Quay:8", "NSR:StopPlace:1", "VKT:TariffZone:729"]
