"""Singer message output: SCHEMA / RECORD / STATE JSONL.

The reference serializes every Singer message with orjson + sorted-keys
determinism and applies runtime type coercions in ``default()``
(tap_airbyte/tap.py:48-80, 956-959).  Here each message kind has one
serializer:

* **SCHEMA** and **STATE** — small driver-side documents, serialized by
  :func:`singer_message` (``json.dumps`` with sorted keys); every SCHEMA
  document is built by ``_schema_message``.
* **RECORD** — :func:`record_json_expr` only: ``to_json(struct(...))``
  evaluated on the executors.  Every sink takes its lines from it:
  :func:`write_singer_stdout` streams them to the driver through
  ``toLocalIterator`` (one partition resident at a time) for tap-parity
  CLI use, and :func:`write_singer_files` has each task write its own
  partition's lines through Spark's text committer, then writes the
  stream's SCHEMA line to ``_schema.singer`` beside the ``part-*``
  files.  The leading ``_`` hides it from Spark and Hadoop readers (as
  with ``_SUCCESS``); ``cat _schema.singer part-*`` is a complete Singer
  stream.
* **Bookmarks** — :func:`render_column` renders a cursor value by the
  rule that renders a top-level RECORD field, so a sink commits the
  string its RECORD lines carry.

RECORD rendering: top-level keys sorted (as ``sort_keys`` does; nested
struct fields and map entries stay in schema/map order); timestamps and
``timestamp_ntz`` at any depth -> ``yyyy-MM-ddTHH:mm:ss.ffffff`` in the
session time zone; dates -> ``yyyy-MM-dd``; top-level decimals -> double
(nested ones keep their scale, e.g. ``1.50``); binary -> base64
(deliberate divergence from the reference's lossy UTF-8 decode — media
payloads must round-trip); NaN / ±Infinity -> the strings ``"NaN"``,
``"Infinity"``, ``"-Infinity"`` (strict JSON; the reference's orjson
writes ``null``); null fields kept; non-ASCII written as UTF-8.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import enum
import json
import sys
import uuid
from typing import Any, IO

from pyspark.sql import Column, DataFrame, functions as F, types as T

from .fsutil import write_text
from .schema import struct_to_json_schema

__all__ = [
    "coerce_value",
    "singer_message",
    "render_column",
    "record_json_expr",
    "write_singer_stdout",
    "write_singer_files",
]

TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
DATE_FORMAT = "yyyy-MM-dd"
_JSON_OPTIONS = {
    "timestampFormat": TS_FORMAT,
    "timestampNTZFormat": TS_FORMAT,
    "dateFormat": DATE_FORMAT,
    # the reference's orjson output serializes null-valued fields;
    # to_json's default would drop them
    "ignoreNullFields": "false",
}


def coerce_value(obj: Any) -> Any:
    """Python-side coercions matching the reference serializer
    (tap.py:48-59)."""
    if isinstance(obj, (_dt.datetime, _dt.date)):
        return obj.isoformat()
    if isinstance(obj, decimal.Decimal):
        return float(obj)
    if isinstance(obj, uuid.UUID):
        return str(obj)
    if isinstance(obj, (bytes, bytearray)):
        # schema.py declares binary fields as base64 strings
        # (contentEncoding) — divergence from the reference's lossy
        # UTF-8 decode (tap.py:55-56), deliberate: media payloads from
        # the binary_files source must round-trip.
        import base64

        return base64.b64encode(bytes(obj)).decode("ascii")
    if isinstance(obj, enum.Enum):
        return obj.value
    if isinstance(obj, dict):
        return {k: coerce_value(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [coerce_value(v) for v in obj]
    if obj is None or isinstance(obj, (str, int, float, bool)):
        return obj
    return str(obj)


def singer_message(message: dict[str, Any]) -> str:
    """One Singer message as a deterministic JSON line (sorted keys, the
    reference's OPT_SORT_KEYS discipline, tests/test_syncs.py:42)."""
    return json.dumps(coerce_value(message), sort_keys=True, separators=(",", ":"))


def _schema_message(schema: T.StructType, stream: str,
                   key_properties: list[str] | None = None) -> dict[str, Any]:
    """The stream's Singer SCHEMA message."""
    return {
        "type": "SCHEMA", "stream": stream,
        "schema": struct_to_json_schema(schema),
        "key_properties": key_properties or [],
    }


def render_column(c: Column, dtype: T.DataType) -> Column:
    """Render ``c`` the way a top-level RECORD field carries it.  Bookmarks
    use the same rule: ``render_column(F.max(c), dtype)`` is the largest
    value the stream's RECORD lines carry.  Timestamps render in the
    session time zone."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.date_format(c, TS_FORMAT)
    if isinstance(dtype, T.DateType):
        return F.date_format(c, DATE_FORMAT)
    if isinstance(dtype, T.DecimalType):
        return c.cast("double")
    return c


def record_json_expr(df: DataFrame, stream: str) -> Column:
    """Column producing the full Singer RECORD envelope as one JSON string,
    computed executor-side (``to_json(struct(...))``)."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    rec = F.to_json(
        F.struct(*[render_column(F.col(f.name), f.dataType).alias(f.name)
                   for f in fields]),
        _JSON_OPTIONS,
    )
    return F.concat(
        F.lit('{"record":'),
        rec,
        F.lit(',"stream":' + json.dumps(stream) + ',"type":"RECORD"}'),
    ).alias("value")


def write_singer_stdout(
    df: DataFrame,
    stream: str,
    key_properties: list[str] | None = None,
    cursor: str | None = None,
    out: IO[str] | None = None,
) -> tuple[int, Any]:
    """Emit SCHEMA + RECORD lines for one stream to a text sink; returns
    ``(record count, largest rendered cursor or None)``.  STATE is the
    caller's to write.

    Lines stream through ``toLocalIterator``, so only one partition is
    resident on the driver.  Count and cursor maximum are taken in the
    same loop: an ``Observation`` never fires under ``toLocalIterator``.
    """
    out = out or sys.stdout
    out.write(singer_message(
        _schema_message(df.schema, stream, key_properties)) + "\n")
    cols = [record_json_expr(df, stream)]
    if cursor:
        cols.append(render_column(F.col(cursor), df.schema[cursor].dataType))
    n, cursor_max = 0, None
    for row in df.select(*cols).toLocalIterator():
        out.write(row[0] + "\n")
        n += 1
        if cursor and row[1] is not None and (
                cursor_max is None or row[1] > cursor_max):
            cursor_max = row[1]
    out.flush()
    return n, cursor_max


def write_singer_files(
    df: DataFrame,
    stream: str,
    path: str,
    mode: str = "append",
    key_properties: list[str] | None = None,
) -> None:
    """Distributed Singer sink: every task writes its own partition's
    RECORD lines as text (no driver funnel, no collect); once the job has
    committed, the driver writes the SCHEMA line to
    ``{path}/_schema.singer``.  A failed append leaves no new visible
    file; a failed overwrite leaves no ``part-*`` file."""
    df.select(record_json_expr(df, stream)).write.mode(mode).text(path)
    write_text(df.sparkSession, f"{path}/_schema.singer", singer_message(
        _schema_message(df.schema, stream, key_properties)) + "\n")
