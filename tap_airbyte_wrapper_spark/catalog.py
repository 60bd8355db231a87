"""Stream catalog: the registry of discoverable streams.

Mirrors the reference's catalog semantics (tap_airbyte/tap.py:707-774,
904-945) on top of Spark:

* a **Stream** entry = name + schema (StructType) + primary keys +
  replication (cursor) key + supported/selected sync modes;
* **selection** prunes deselected streams so the source is never read
  (stream-level pushdown, tap.py:749-774);
* **sync-mode negotiation** maps the requested replication method onto what
  the source supports, with the reference's fallback-to-first-supported rule
  (tap.py:98-105, 758-766).

Cursor/PK inference follows tap.py:914-943: explicit ``cursor_field`` wins,
else ``default_cursor_field`` when the source defines the cursor; explicit
``primary_key`` wins, else ``source_defined_primary_key``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import types as T

from .schema import json_schema_to_struct, struct_to_json_schema

__all__ = ["SyncMode", "StreamEntry", "Catalog", "REPLICATION_METHOD_MAP"]


class SyncMode:
    FULL_REFRESH = "full_refresh"
    INCREMENTAL = "incremental"


# Singer replication method -> engine sync mode (reference tap.py:98-105).
REPLICATION_METHOD_MAP = {
    "FULL_TABLE": SyncMode.FULL_REFRESH,
    "INCREMENTAL": SyncMode.INCREMENTAL,
    "LOG_BASED": SyncMode.INCREMENTAL,
}


@dataclass
class StreamEntry:
    """One discoverable stream and its sync metadata."""

    name: str
    schema: T.StructType
    primary_keys: list[str] = field(default_factory=list)
    replication_key: str | None = None
    supported_sync_modes: list[str] = field(
        default_factory=lambda: [SyncMode.FULL_REFRESH]
    )
    selected: bool = True
    sync_mode: str | None = None  # negotiated; None = not yet negotiated
    source: str | None = None     # source registry key that produces it
    options: dict[str, Any] = field(default_factory=dict)

    @classmethod
    def from_airbyte(cls, entry: dict[str, Any]) -> "StreamEntry":
        """Build from an Airbyte catalog entry (discover output shape).

        Inference rules per reference tap.py:914-943.
        """
        stream = entry.get("stream", entry)
        cursor = None
        if stream.get("cursor_field"):
            cursor = stream["cursor_field"][0]
        elif stream.get("source_defined_cursor") and stream.get("default_cursor_field"):
            cursor = stream["default_cursor_field"][0]
        pks: list[str] = []
        pk_raw = stream.get("primary_key") or stream.get("source_defined_primary_key")
        if pk_raw:
            # Airbyte encodes PKs as list-of-paths; reference takes path[0].
            pks = [p[0] if isinstance(p, list) else p for p in pk_raw]
        return cls(
            name=stream["name"],
            schema=json_schema_to_struct(stream.get("json_schema", {})),
            primary_keys=pks,
            replication_key=cursor,
            supported_sync_modes=stream.get(
                "supported_sync_modes", [SyncMode.FULL_REFRESH]
            ),
        )

    def negotiate(self, requested: str | None) -> str:
        """Pick the effective sync mode (reference tap.py:758-766).

        ``requested`` is a Singer replication method or None.  Falls back to
        the stream's first supported mode when the request is unsupported.
        """
        want = REPLICATION_METHOD_MAP.get(requested or "", None)
        if want and want in self.supported_sync_modes:
            self.sync_mode = want
        else:
            self.sync_mode = self.supported_sync_modes[0]
        return self.sync_mode

    def to_dict(self) -> dict[str, Any]:
        return {
            "name": self.name,
            "json_schema": struct_to_json_schema(self.schema),
            "primary_keys": self.primary_keys,
            "replication_key": self.replication_key,
            "supported_sync_modes": self.supported_sync_modes,
            "selected": self.selected,
            "sync_mode": self.sync_mode,
        }


class Catalog:
    """Ordered registry of StreamEntry, with selection pruning."""

    def __init__(self, streams: list[StreamEntry] | None = None):
        self._streams: dict[str, StreamEntry] = {}
        for s in streams or []:
            self.add(s)

    def add(self, stream: StreamEntry) -> None:
        self._streams[stream.name] = stream

    def get(self, name: str) -> StreamEntry:
        return self._streams[name]

    def __contains__(self, name: str) -> bool:
        return name in self._streams

    def __iter__(self):
        return iter(self._streams.values())

    def __len__(self) -> int:
        return len(self._streams)

    @property
    def streams(self) -> list[StreamEntry]:
        return list(self._streams.values())

    def select(self, names: list[str]) -> None:
        """Mark only ``names`` selected (stream-level pruning)."""
        keep = set(names)
        for s in self._streams.values():
            s.selected = s.name in keep

    def configured(self) -> "Catalog":
        """Selected subset with negotiated sync modes — the analogue of the
        reference's configured Airbyte catalog (tap.py:749-774).  Deselected
        streams are dropped entirely so the source is never scanned.
        """
        out = Catalog()
        for s in self._streams.values():
            if not s.selected:
                continue
            if s.sync_mode is None:
                s.negotiate(None)
            out.add(s)
        return out

    def to_dict(self) -> dict[str, Any]:
        return {"streams": [s.to_dict() for s in self._streams.values()]}
