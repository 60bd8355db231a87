"""REST auth + rate-limit backoff contract tests against a local
http.server — the engine-side analogue of the reference's authed-source
and paginated-API E2Es (reference tests/test_syncs.py:83-124, 183-235).

The server requires a bearer token on /data pages, serves basic-auth on
/basic, api-key header on /keyed, and 429s the first two hits of
/flaky with Retry-After: 0 before succeeding.
"""

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from tap_airbyte_wrapper_spark.sources import SourceError, get_source
from tap_airbyte_wrapper_spark.sources.http import auth_headers, fetch_json

TOKEN = "sesame-42"
BASIC = "Basic dXNlcjpwdzE="          # user:pw1
APIKEY = "k-123"


class _Handler(BaseHTTPRequestHandler):
    flaky_hits = {}

    def log_message(self, *a):  # silence
        pass

    def _json(self, code, payload, headers=None):
        body = json.dumps(payload).encode()
        self.send_response(code)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        auth = self.headers.get("Authorization", "")
        if self.path.startswith("/data"):
            if auth != f"Bearer {TOKEN}":
                return self._json(401, {"error": "unauthorized"})
            page = int(self.path.rsplit("=", 1)[-1])
            return self._json(200, {"results": [
                {"id": page * 10 + i, "page": page} for i in range(3)]})
        if self.path == "/basic":
            if auth != BASIC:
                return self._json(401, {"error": "unauthorized"})
            return self._json(200, {"results": [{"id": 1, "page": 0}]})
        if self.path == "/keyed":
            if self.headers.get("X-API-Key") != APIKEY:
                return self._json(403, {"error": "forbidden"})
            return self._json(200, {"results": [{"id": 2, "page": 0}]})
        if self.path == "/flaky":
            n = _Handler.flaky_hits.get(self.path, 0) + 1
            _Handler.flaky_hits[self.path] = n
            if n <= 2:
                return self._json(429, {"error": "slow down"},
                                  {"Retry-After": "0"})
            return self._json(200, {"results": [{"id": 9, "page": 0}]})
        return self._json(404, {"error": "nope"})


@pytest.fixture(scope="module")
def server():
    httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()


def test_auth_headers_shapes():
    assert auth_headers({"type": "bearer", "token": "t"}) == {
        "Authorization": "Bearer t"}
    assert auth_headers({"type": "basic", "username": "user",
                         "password": "pw1"}) == {"Authorization": BASIC}
    assert auth_headers({"type": "header", "header": "X-API-Key",
                         "value": "k"}) == {"X-API-Key": "k"}
    assert auth_headers(None) == {}
    with pytest.raises(SourceError, match="unknown auth type"):
        auth_headers({"type": "oauth-dance"})


def test_fetch_retries_429_with_retry_after(server):
    _Handler.flaky_hits.clear()
    sleeps = []
    out = fetch_json(f"{server}/flaky", max_retries=3,
                     _sleep=sleeps.append)
    assert out == {"results": [{"id": 9, "page": 0}]}
    assert len(sleeps) == 2 and all(s == 0.0 for s in sleeps)  # Retry-After:0


def test_fetch_gives_up_after_max_retries(server):
    _Handler.flaky_hits.clear()
    with pytest.raises(SourceError, match="HTTP 429 after 2"):
        fetch_json(f"{server}/flaky", max_retries=1, _sleep=lambda s: None)


def test_4xx_fails_fast_no_retry(server):
    sleeps = []
    with pytest.raises(SourceError, match="HTTP 401 after 1"):
        fetch_json(f"{server}/data?page=0", _sleep=sleeps.append)
    assert sleeps == []                                   # no backoff on 401


def test_rest_source_bearer_paginated_e2e(spark, server):
    """Discovery (first page) and the distributed read (all pages via
    mapInPandas) must both send the bearer token."""
    src = get_source("rest", {
        "stream_name": "things",
        "base_url": f"{server}/data?page={{page}}",
        "pages": 3,
        "records_key": "results",
        "auth": {"type": "bearer", "token": TOKEN},
    })
    cat = src.discover(spark)
    entry = next(iter(cat))
    got = {(r.id, r.page) for r in src.read(spark, entry).collect()}
    assert got == {(p * 10 + i, p) for p in range(3) for i in range(3)}


def test_rest_source_basic_and_header_auth(spark, server):
    for auth, path in [
        ({"type": "basic", "username": "user", "password": "pw1"}, "basic"),
        ({"type": "header", "header": "X-API-Key", "value": APIKEY}, "keyed"),
    ]:
        src = get_source("rest", {
            "stream_name": "s", "urls": [f"{server}/{path}"],
            "records_key": "results", "auth": auth,
        })
        entry = next(iter(src.discover(spark)))
        assert src.read(spark, entry).count() == 1


def test_rest_source_wrong_creds_surface_as_source_error(spark, server):
    src = get_source("rest", {
        "stream_name": "s", "urls": [f"{server}/basic"],
        "records_key": "results",
        "auth": {"type": "basic", "username": "user", "password": "WRONG"},
    })
    with pytest.raises(SourceError, match="HTTP 401"):
        src.discover(spark)
