"""Spark 4 Python Data Source for HTTP/JSON pages: ``http_json``.

The idiomatic Spark-4 form of an API-backed Airbyte connector (the
reference runs e.g. ``source-pokeapi`` as a subprocess and pipes JSONL;
tests/test_syncs.py:83-89): a first-class ``spark.read.format(...)`` source
whose partitions ARE the page list, so fetches run executor-side — one
task per page, scheduled/retried/distributed by Spark itself, no driver
funnel and no subprocess.

    spark.dataSource.register(HttpJsonDataSource)
    df = (spark.read.format("http_json")
          .schema("id BIGINT, name STRING")
          .option("urls", "https://api/x?page=0,https://api/x?page=1")
          .option("records_key", "results")
          .load())

Options: ``urls`` (comma-separated; file:// works offline) or
``base_url`` + ``pages`` (``base_url.format(page=i)``); ``records_key``
dotted path; ``timeout`` seconds; auth via ``auth_type`` =
``bearer`` (+``auth_token``) / ``basic`` (+``auth_username``,
``auth_password``) / ``header`` (+``auth_header``, ``auth_value``);
``max_retries`` / ``backoff_base`` for 429/5xx backoff (all handled by
``sources/http.py``, per fetch task).  Schema must be pinned by the caller
(pair with ``RestSource.discover`` for inference) — a scan with a
user-supplied schema is exactly the discovery/read split the Airbyte
protocol prescribes.
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


def _auth_of(options) -> dict | None:
    kind = options.get("auth_type")
    if not kind:
        return None
    return {
        "type": kind,
        "token": options.get("auth_token"),
        "username": options.get("auth_username"),
        "password": options.get("auth_password"),
        "header": options.get("auth_header"),
        "value": options.get("auth_value"),
    }


def _records_of(payload: Any, records_key: str | None) -> list[dict]:
    if records_key:
        for part in records_key.split("."):
            payload = payload.get(part, []) if isinstance(payload, dict) else []
    if isinstance(payload, dict):
        return [payload]
    return [r for r in payload if isinstance(r, dict)]


class _PagePartition(InputPartition):
    def __init__(self, url: str):
        self.url = url


class HttpJsonReader(DataSourceReader):
    def __init__(self, schema, options):
        self.schema = schema
        self.options = options

    def _urls(self) -> list[str]:
        urls = self.options.get("urls")
        if urls:
            return [u for u in urls.split(",") if u]
        base = self.options.get("base_url")
        pages = self.options.get("pages")
        if base and pages:
            return [base.format(page=i) for i in range(int(pages))]
        raise ValueError("http_json needs 'urls' or 'base_url'+'pages'")

    def partitions(self) -> list[InputPartition]:
        # one partition per page: Spark schedules one fetch task per page,
        # so ingest parallelism == page count (capped by executor slots)
        return [_PagePartition(u) for u in self._urls()]

    def read(self, partition: _PagePartition) -> Iterator[tuple]:
        from .http import fetch_json

        records_key = self.options.get("records_key")
        fields = [f.name for f in self.schema.fields]
        payload = fetch_json(
            partition.url,
            timeout=float(self.options.get("timeout", 30)),
            auth=_auth_of(self.options),
            max_retries=int(self.options.get("max_retries", 3)),
            backoff_base=float(self.options.get("backoff_base", 0.5)),
        )
        for rec in _records_of(payload, records_key):
            yield tuple(rec.get(name) for name in fields)


class HttpJsonDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "http_json"

    def reader(self, schema) -> HttpJsonReader:
        return HttpJsonReader(schema, self.options)


def register_http_json(spark) -> None:
    """Register the format on a session (idempotent)."""
    spark.dataSource.register(HttpJsonDataSource)

