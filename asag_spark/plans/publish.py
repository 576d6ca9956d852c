"""Publish control plane — the driver-side half of the reference's
upload state machine.

The reference ships its GeoJSON to Mapbox through four Camel routes:
credentials GET, S3 PUT with those temp credentials, upload initiate
POST, and a bounded poll/retry loop that lands in exactly one of three
terminal states (finished | error | timeout), each reported to Slack
(`MapBoxUpdateRouteBuilder.java:100-174`,
`UploadStatusHubotReporter.java:48-72`).  The checkpoint machinery in
``plans/checkpoint.py`` covers the *compute* half of that state machine
(stage resume); this module covers the *publish* half.

The sandbox has no network, so the HTTP/S3 legs sit behind a small
``Transport`` protocol; ``LocalTransport`` is a deterministic
filesystem fake used by tests.  The state machine itself — including
the reference's quirks (initiate response is inspected before the
first status fetch; a non-error "message" exits the loop with no
terminal state; the final fetch of a timed-out poll is never
inspected) — is real, and test-pinned against the scenarios of
`MapBoxUpdateRouteBuilderTest.java` (success → finished, error status
→ error, never-complete → timeout, missing blob → loud failure,
archive without XML → loud failure).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Callable, Protocol

# terminal states — MapBoxUpdateRouteBuilder.java:48-50
STATE_FINISHED = "finished"
STATE_ERROR = "error"
STATE_TIMEOUT = "timeout"


@dataclass
class UploadStatus:
    """Mirror of the upload-status payload
    (`mapbox/model/MapBoxUploadStatus.java`): ``error`` is an opaque
    object tested for presence, not a string; ``message`` may appear
    with or without ``error``."""

    id: str | None = None
    name: str | None = None
    complete: bool = False
    error: object | None = None
    created: str | None = None
    modified: str | None = None
    tileset: str | None = None
    owner: str | None = None
    progress: int | None = None
    message: str | None = None


@dataclass
class Credentials:
    """`mapbox/model/MapBoxAwsCredentials.java` — temp session creds
    returned by the credentials GET (S9)."""

    bucket: str
    key: str
    access_key_id: str = ""
    secret_access_key: str = ""
    session_token: str = ""
    url: str = ""


@dataclass
class UploadRequest:
    """`mapbox/model/MapboxUploadRequest.java` — initiate POST body
    (tileset name, staged-object URL, display name)."""

    tileset: str
    url: str
    name: str


class Reporter:
    """Status reporter — analog of the Slack/Hubot notifier
    (`UploadStatusHubotReporter.java:48-72`); collects the messages it
    would post so tests and the metrics table can assert on them."""

    def __init__(self, hostname: str = "asag-spark") -> None:
        self.hostname = hostname
        self.messages: list[str] = []

    def post_started(self) -> None:
        self.messages.append(f"Started mapbox update {self.hostname}")

    def post_upload_status(self, status: UploadStatus,
                           state: str | None) -> None:
        # success message keys on status.complete, not on the state
        # property, exactly like the reference reporter (:56-66)
        if status.complete:
            msg = (f"Tileset `{status.tileset}` uploaded to mapbox "
                   f"successfully.")
        else:
            prefix = f"*{state}*: " if state else ""
            msg = (f"{prefix}Upload `{status.id}`, name: `{status.name}`,"
                   f" tileset: `{status.tileset}`,"
                   f" message: `{status.message}`, error: {status.error}")
        self.messages.append(f"{msg} {self.hostname}")


class Transport(Protocol):
    """The four network legs the sandbox cannot perform."""

    def get_credentials(self) -> Credentials: ...

    def put_object(self, creds: Credentials, filename: str,
                   data: bytes) -> None: ...

    def initiate_upload(self, request: UploadRequest) -> UploadStatus: ...

    def fetch_status(self, upload_id: str) -> UploadStatus: ...


class LocalTransport:
    """Filesystem fake: PUT writes the staged object under
    ``staging_dir/<bucket>/<key>``; ``fetch_status`` replays a scripted
    status sequence (repeating the last entry — a server whose state
    has stopped changing), which lets tests walk the machine through
    every terminal state deterministically."""

    def __init__(self, staging_dir: str,
                 status_script: list[UploadStatus] | None = None,
                 initiate_status: UploadStatus | None = None) -> None:
        self.staging_dir = staging_dir
        self.status_script = list(status_script or [])
        self.initiate_status = initiate_status
        self.fetches = 0
        self.initiated: list[UploadRequest] = []

    def get_credentials(self) -> Credentials:
        return Credentials(bucket="staging", key="tiles/upload.geojson",
                           url="local://staging/tiles/upload.geojson")

    def put_object(self, creds: Credentials, filename: str,
                   data: bytes) -> None:
        dest = os.path.join(self.staging_dir, creds.bucket, creds.key)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        with open(dest, "wb") as out:
            out.write(data)

    def initiate_upload(self, request: UploadRequest) -> UploadStatus:
        self.initiated.append(request)
        if self.initiate_status is not None:
            return self.initiate_status
        return UploadStatus(id="upload-1", name=request.name,
                            tileset=request.tileset, progress=0)

    def fetch_status(self, upload_id: str) -> UploadStatus:
        if not self.status_script:
            raise RuntimeError(f"no scripted status for {upload_id!r}")
        i = min(self.fetches, len(self.status_script) - 1)
        self.fetches += 1
        return self.status_script[i]


def poll_upload(status: UploadStatus,
                fetch_status: Callable[[str], UploadStatus],
                *,
                max_retries: int,
                poll_delay_s: float = 0.0,
                reporter: Reporter | None = None,
                sleep: Callable[[float], None] = time.sleep,
                ) -> tuple[str | None, UploadStatus]:
    """The poll/retry loop, control-flow-equivalent to the Camel route
    (`MapBoxUpdateRouteBuilder.java:132-174`):

    * loop guard ``counter <= max_retries`` with the counter
      incremented at the top of the body, so ``max_retries`` fetches
      follow the initiate response plus one final fetch that only the
      timeout branch sees;
    * the *current* status (initiate response on the first pass) is
      inspected in order error → complete → message; an error is
      terminal ``error``, completion terminal ``finished``, and a
      bare message exits with NO terminal state (:146-149 logs
      "Got message, Exiting" and stops without setting the property);
    * otherwise sleep ``poll_delay_s`` and fetch a fresh status;
      once the counter passes ``max_retries`` the machine gives up as
      terminal ``timeout`` (:157-162) without inspecting that final
      fetch — the next iteration that would have examined it never
      runs.

    Returns ``(state, last_status)`` where ``state`` is one of the
    STATE_* constants or ``None`` for the bare-message exit.
    """
    counter = 0
    while counter <= max_retries:
        counter += 1
        if status.error is not None:  # endIfMapboxUploadError (:167-174)
            if reporter:
                reporter.post_upload_status(status, STATE_ERROR)
            return STATE_ERROR, status
        if status.complete:  # :139-144
            if reporter:
                reporter.post_upload_status(status, STATE_FINISHED)
            return STATE_FINISHED, status
        if status.message:  # :146-149 — exit, no terminal state
            if reporter:
                reporter.post_upload_status(status, None)
            return None, status
        if poll_delay_s:
            sleep(poll_delay_s)
        status = fetch_status(status.id)  # :176-184
        if counter > max_retries:  # :157-162
            if reporter:
                reporter.post_upload_status(status, STATE_TIMEOUT)
            return STATE_TIMEOUT, status
    # unreachable for max_retries >= 0: the in-loop timeout check
    # fires on the iteration entered at counter == max_retries
    raise AssertionError("poll loop exited without a terminal state")


@dataclass
class PublishResult:
    state: str | None
    status: UploadStatus
    staged_bytes: int
    messages: list[str] = field(default_factory=list)


def publish_tileset(geojson_path: str,
                    transport: Transport,
                    *,
                    tileset: str,
                    max_retries: int = 20,
                    poll_delay_s: float = 0.0,
                    reporter: Reporter | None = None,
                    sleep: Callable[[float], None] = time.sleep,
                    ) -> PublishResult:
    """Full publish leg: credentials → staged PUT → initiate → poll
    (the `mapbox-convert-upload-tiamat-data` route tail,
    `MapBoxUpdateRouteBuilder.java:100-107`).  The GeoJSON is read
    from ``geojson_path`` (the streamed single-file sink's output);
    a missing file fails loudly — the reference's null-blob route
    failure, not silent empty output."""
    reporter = reporter or Reporter()
    reporter.post_started()
    if not os.path.exists(geojson_path):
        raise FileNotFoundError(
            f"publish input missing: {geojson_path!r} — refusing to "
            "publish an empty tileset")
    with open(geojson_path, "rb") as f:
        data = f.read()
    creds = transport.get_credentials()
    filename = os.path.basename(geojson_path)
    transport.put_object(creds, filename, data)
    initial = transport.initiate_upload(
        UploadRequest(tileset=tileset, url=creds.url, name=filename))
    if poll_delay_s:  # route-level delay before the first poll (:105)
        sleep(poll_delay_s)
    state, last = poll_upload(
        initial, transport.fetch_status, max_retries=max_retries,
        poll_delay_s=poll_delay_s, reporter=reporter, sleep=sleep)
    return PublishResult(state=state, status=last, staged_bytes=len(data),
                         messages=reporter.messages)


def publish_netex_zip(spark, zip_path: str, workdir: str,
                      transport: Transport,
                      *,
                      tileset: str = "tiamat",
                      max_retries: int = 20,
                      poll_delay_s: float = 0.0,
                      reporter: Reporter | None = None,
                      sleep: Callable[[float], None] = time.sleep,
                      ) -> PublishResult:
    """End-to-end analog of `direct:uploadTiamatToMapboxAsGeoJson`:
    NeTEx zip → docs rows → feature build → streamed single-file
    GeoJSON → publish state machine.  Failure modes mirror the
    reference tests: a missing archive raises (null blob →
    FileNotFoundException there), and an archive holding no XML raises
    (Optional.get() → NoSuchElementException there) instead of
    publishing an empty FeatureCollection."""
    from ..geojson import feature_json, write_feature_collection
    from ..netex import parse_netex_zip
    from ..operators.enrich import build_features
    from ..schema import DOCS
    from ..session import release_caches

    if not os.path.exists(zip_path):
        raise FileNotFoundError(
            f"NeTEx export missing: {zip_path!r} (reference: null blob "
            "fails the route, MapBoxUpdateRouteBuilderTest null-blob case)")
    rows = parse_netex_zip(zip_path)
    if not rows:
        raise ValueError(
            f"no XML deliveries inside {zip_path!r} (reference: "
            "findFirstXmlFileRecursive raises NoSuchElementException)")
    docs = spark.createDataFrame(rows, schema=DOCS)
    os.makedirs(workdir, exist_ok=True)
    out_path = os.path.join(workdir, f"{tileset}.geojson")
    with release_caches():
        n = write_feature_collection(feature_json(build_features(docs)),
                                     out_path)
    if n == 0:
        raise ValueError(f"feature build produced 0 features from {zip_path!r}")
    return publish_tileset(out_path, transport, tileset=tileset,
                           max_retries=max_retries,
                           poll_delay_s=poll_delay_s, reporter=reporter,
                           sleep=sleep)
