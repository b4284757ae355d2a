"""S7/S8/S12 publish-path contracts against a local HTTP test double:
the dynamicDataDb auth flow (login → bearer token), exposure POSTs with
date stamping, connect-retry ×3, ≥400 → ValueError, the filesystem
blob adapter, and the mock-event replay through the whole path."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from ibf_typhoon_data_pipeline_spark.sinks.publish import (
    EXPOSURE_INDICATORS,
    NO_EVENT_INDICATORS,
    TRIGGER_SCENARIO,
    IbfApiClient,
    mock_scenario,
    process_events,
    publish_exposure_frames,
    replay_mock_event,
    upload_to_blob,
)

SF = "/root/testdata/sf0.01"


class _StubIbf(BaseHTTPRequestHandler):
    """Minimal IBF-portal double: /user/login issues a token; every
    other POST requires it and is recorded."""

    def do_POST(self):  # noqa: N802
        srv = self.server
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if self.path == "/user/login":
            srv.logins.append(body.decode())
            payload = json.dumps({"user": {"token": "tok-123"}}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(payload)
            return
        if self.headers.get("Authorization") != "Bearer tok-123":
            self.send_response(401)
            self.end_headers()
            return
        if srv.fail_next > 0:
            srv.fail_next -= 1
            self.send_response(500)
            self.end_headers()
            return
        srv.posts.append((self.path, json.loads(body)))
        if srv.stall_posts > 0:
            srv.stall_posts -= 1
            import time as _time

            _time.sleep(srv.stall_s)  # force a client read timeout
        self.send_response(201)
        self.end_headers()

    def log_message(self, *a):  # silence
        pass


@pytest.fixture()
def stub_server():
    srv = HTTPServer(("127.0.0.1", 0), _StubIbf)
    srv.posts, srv.logins, srv.fail_next = [], [], 0
    srv.stall_posts, srv.stall_s = 0, 0.0
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()


def _client(srv) -> IbfApiClient:
    return IbfApiClient(
        base_url=f"http://127.0.0.1:{srv.server_address[1]}/",
        email="admin@example.org",
        password="pw",
        backoff_factor=0.0,  # no sleeps in tests
        timeout=5.0,
    )


def test_auth_then_post_with_bearer(stub_server):
    c = _client(stub_server)
    c.post("admin-area-dynamic-data/exposure", {"x": 1})
    assert stub_server.logins  # login happened first
    assert "email=admin%40example.org" in stub_server.logins[0]
    assert stub_server.posts == [("/admin-area-dynamic-data/exposure", {"x": 1})]


def test_http_error_maps_to_value_error(stub_server):
    stub_server.fail_next = 99
    with pytest.raises(ValueError):
        _client(stub_server).post("admin-area-dynamic-data/exposure", {})


def test_connect_retry_then_raise():
    # nothing listens on this port: all attempts are connect failures
    c = IbfApiClient(
        base_url="http://127.0.0.1:9/", email="e", password="p",
        backoff_factor=0.0, timeout=0.5,
    )
    with pytest.raises(OSError):
        c.authenticate()


def test_read_timeout_not_resent(stub_server):
    # a stalled response after the POST was received must surface as
    # TimeoutError after exactly ONE delivery — resending would
    # duplicate a non-idempotent exposure upload the server already
    # processed (urllib3.Retry(connect=3) retries connects only)
    stub_server.stall_posts, stub_server.stall_s = 1, 1.2
    c = IbfApiClient(
        base_url=f"http://127.0.0.1:{stub_server.server_address[1]}/",
        email="e", password="p", backoff_factor=0.0, timeout=0.4,
    )
    with pytest.raises(TimeoutError):
        c.post("admin-area-dynamic-data/exposure", {"x": 1})
    assert len(stub_server.posts) == 1  # delivered once, never resent


def test_publish_exposure_frames_stamps_date(spark, stub_server):
    from ibf_typhoon_data_pipeline_spark.plans import QUERIES

    payloads = QUERIES["pipeline_publish"].fn(spark, SF)
    posted = publish_exposure_frames(
        payloads.collect(), _client(stub_server), upload_time="2024-06-01T00:00:00Z"
    )
    assert sorted(posted) == sorted(
        layer for layer in EXPOSURE_INDICATORS if layer != "rainfall"
    )
    for path, body in stub_server.posts:
        assert path == "/admin-area-dynamic-data/exposure"
        assert body["date"] == "2024-06-01T00:00:00Z"
        assert body["countryCodeISO3"] == "PHL"
        assert body["disasterType"] == "typhoon"
        assert body["adminLevel"] == 3
        assert body["exposurePlaceCodes"], "entries must be non-empty"
        entry = body["exposurePlaceCodes"][0]
        assert set(entry) == {"placeCode", "amount"}


@pytest.mark.parametrize("bad", [
    None,
    '{"countryCodeISO3":"PHL","exposurePlaceCodes":[',
    '{"countryCodeISO3":"PHL"}',
    '[]',
])
def test_malformed_body_posts_nothing(stub_server, bad):
    # every body is checked before the first POST: the earlier, valid
    # indicators must not reach the portal either
    rows = mock_scenario()[:2] + [
        {"dynamicIndicator": "forecast_trigger", "body_json": bad}
    ]
    with pytest.raises(ValueError, match="forecast_trigger"):
        publish_exposure_frames(rows, _client(stub_server), "t0")
    assert stub_server.posts == []
    assert stub_server.logins == []


def test_trigger_scenario_is_pipeline_publish(spark):
    from ibf_typhoon_data_pipeline_spark.plans import QUERIES

    want = [
        {"dynamicIndicator": r.dynamicIndicator, "body_json": r.body_json}
        for r in QUERIES["pipeline_publish"].fn(spark, SF).collect()
    ]
    assert mock_scenario() == want, (
        f"{TRIGGER_SCENARIO} is stale; regenerate it with: python -c "
        "\"from ibf_typhoon_data_pipeline_spark.session import get_spark; "
        "from ibf_typhoon_data_pipeline_spark.sinks.publish import "
        "write_trigger_scenario; write_trigger_scenario(get_spark('mock'))\""
    )


def test_process_events_notify_flag(stub_server):
    process_events(_client(stub_server), "t0", notify_email=False)
    path, body = stub_server.posts[0]
    assert path == "/events/process?noNotifications=true"
    assert body == {
        "countryCodeISO3": "PHL", "disasterType": "typhoon", "date": "t0",
    }


def test_mock_event_replay_trigger_and_nontrigger(spark, stub_server):
    # the replay posts the canned scenario and starts no Spark job
    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup())
    c = _client(stub_server)
    posted = replay_mock_event(spark, SF, c, "t1", trigger=True)
    assert len(posted) == 7  # full indicator set (rainfall layer n/a here)
    assert stub_server.posts[-1][0].startswith("/events/process")
    assert [body for _, body in stub_server.posts[:-1]] == [
        {**json.loads(row["body_json"]), "date": "t1"} for row in mock_scenario()
    ]

    stub_server.posts.clear()
    posted = replay_mock_event(spark, SF, c, "t2", trigger=False)
    assert sorted(posted) == sorted(NO_EVENT_INDICATORS)
    for path, body in stub_server.posts[:-1]:
        assert body["exposurePlaceCodes"] == []
        assert body["eventName"] is None
    assert [body for _, body in stub_server.posts[:-1]] == [
        {**json.loads(row["body_json"]), "date": "t2"}
        for row in mock_scenario(trigger=False)
    ]
    assert set(tracker.getJobIdsForGroup()) == jobs


def test_blob_filesystem_adapter(tmp_path):
    src = tmp_path / "wind.csv"
    src.write_text("a,b\n1,2\n")
    dest = upload_to_blob(
        str(src), "ibftyphoonforecast", "output/wind.csv",
        local_root=str(tmp_path / "lake"),
    )
    assert open(dest).read() == "a,b\n1,2\n"
    with pytest.raises(ValueError):
        upload_to_blob(str(src), "c", "b")
