"""Shared HTTP plumbing for the REST-backed sources: auth + backoff.

The reference exercises authed HTTPS file sources and a paginated REST
API through connectors (reference tests/test_syncs.py:83-124, 183-235);
the connector handles credentials and rate limits.  Spark-native, the
fetches run executor-side (``rest.py`` mapInPandas), so this module is
deliberately dependency-free stdlib code that serializes cleanly into
tasks:

* auth schemes (Airbyte-style config)::

    {"type": "bearer", "token": "..."}
    {"type": "basic",  "username": "...", "password": "..."}
    {"type": "header", "header": "X-API-Key", "value": "..."}

* retry/backoff: HTTP 429/5xx and transient socket errors retry up to
  ``max_retries`` times with exponential backoff (``backoff_base *
  2^attempt`` seconds, capped), honoring a numeric ``Retry-After``
  response header when the server sends one.  4xx other than 429 fail
  fast — retrying a 401 hammers the API without hope.

Executor-side retries multiply: total attempts = spark task retries x
``max_retries``, so keep ``max_retries`` small (default 3) — the point
is riding out a rate-limit window, not masking a down API.
"""

from __future__ import annotations

import base64
import json
import time
from typing import Any, Mapping
from urllib.error import HTTPError, URLError
from urllib.request import Request, urlopen

from .base import SourceError

__all__ = ["auth_headers", "fetch_json"]

_RETRYABLE = {429, 500, 502, 503, 504}


def auth_headers(auth: Mapping[str, Any] | None) -> dict[str, str]:
    """Translate an auth config block into request headers."""
    if not auth:
        return {}
    kind = str(auth.get("type", "")).lower()
    if kind == "bearer":
        return {"Authorization": f"Bearer {auth['token']}"}
    if kind == "basic":
        userpass = f"{auth.get('username', '')}:{auth.get('password', '')}"
        tok = base64.b64encode(userpass.encode("utf-8")).decode("ascii")
        return {"Authorization": f"Basic {tok}"}
    if kind == "header":
        return {auth["header"]: auth["value"]}
    raise SourceError(f"unknown auth type {auth.get('type')!r} "
                      "(want bearer | basic | header)")


def _retry_after(err: HTTPError, fallback: float) -> float:
    try:
        return min(float(err.headers.get("Retry-After")), 60.0)
    except (TypeError, ValueError):
        return fallback


def fetch_json(
    url: str,
    timeout: float = 30.0,
    auth: Mapping[str, Any] | None = None,
    headers: Mapping[str, str] | None = None,
    max_retries: int = 3,
    backoff_base: float = 0.5,
    _sleep=time.sleep,
) -> Any:
    """GET ``url`` and parse JSON, with auth headers and bounded
    exponential backoff on rate limits / transient failures."""
    hdrs = {**auth_headers(auth), **(headers or {})}
    attempt = 0
    while True:
        try:
            req = Request(url, headers=hdrs)  # noqa: S310 - user source URL
            with urlopen(req, timeout=timeout) as resp:  # noqa: S310
                return json.loads(resp.read().decode("utf-8"))
        except HTTPError as err:
            if err.code not in _RETRYABLE or attempt >= max_retries:
                raise SourceError(
                    f"GET {url} failed with HTTP {err.code} "
                    f"after {attempt + 1} attempt(s)") from err
            delay = _retry_after(err, backoff_base * (2 ** attempt))
        except URLError as err:
            if attempt >= max_retries:
                raise SourceError(
                    f"GET {url} failed ({err.reason}) "
                    f"after {attempt + 1} attempt(s)") from err
            delay = backoff_base * (2 ** attempt)
        _sleep(delay)
        attempt += 1
