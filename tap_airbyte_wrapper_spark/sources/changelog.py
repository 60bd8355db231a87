"""Changelog (CDC / LOG_BASED) source: op-typed change records.

The reference maps ``LOG_BASED -> INCREMENTAL`` and delegates the actual
CDC mechanics to the connector (reference tap.py:98-105) — e.g.
``source-postgres`` reads the WAL and emits an initial snapshot followed
by insert/update/delete records cursor'd on the log position.  This
source implements that contract over files, the way Debezium-style
pipelines land changelogs on object storage:

    {path}/base/{stream}.parquet          optional initial snapshot
    {path}/changes/{stream}/*.jsonl       op-typed change records
    {path}/changes/{stream}/*.parquet     (either format per stream)

A change record carries the payload columns plus:

* ``_op``     — ``insert`` / ``update`` / ``delete`` (Debezium's
  ``c``/``u``/``d`` are accepted and normalized)
* ``_cursor`` — strictly-positive monotonic log position (LSN/binlog
  offset analogue); the stream's replication key

``read()`` emits the snapshot AS inserts at ``_cursor = 0`` followed by
every change — so the first incremental sync delivers snapshot + history
and every later sync, via the committed ``_cursor`` bookmark, only the
new tail.  A ``_deleted`` boolean is derived from ``_op`` so sinks can
apply tombstones without parsing op strings (``operators/merge.py``
``merge_upsert``'s ``delete_col`` contract); the engine's ``merge`` sink
(sinks.py) closes the loop: changelog in, maintained snapshot out.

Scale shape: the changes directory is an ordinary distributed scan;
the cursor predicate of incremental reads is a pushed-down parquet/json
filter (min/max row-group pruning for parquet).  Nothing is collected
on the driver.
"""

from __future__ import annotations

import glob
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..casefold import lower
from ..catalog import Catalog, StreamEntry, SyncMode
from .base import Source, SourceError, register

__all__ = ["ChangelogSource", "normalize_changes"]

_OP_ALIASES = {"c": "insert", "u": "update", "d": "delete",
               "insert": "insert", "update": "update", "delete": "delete"}
_META_COLS = ("_op", "_cursor", "_deleted")


def normalize_changes(df: DataFrame, op_col: str = "_op",
                      cursor_col: str | None = "_cursor") -> DataFrame:
    """Change rows in canonical form: ``_op`` is ``op_col`` lower-cased
    with Debezium's ``c``/``u``/``d`` folded to ``insert``/``update``/
    ``delete`` (other values pass through lower-cased), ``_deleted`` is
    ``_op == "delete"``, and ``cursor_col`` (if given) is cast to long.
    The one op normalization of the batch source, the streaming CDC
    apply and the streaming index maintenance."""
    op = lower(F.col(op_col))
    norm = F.element_at(
        F.create_map(*[F.lit(x) for kv in _OP_ALIASES.items() for x in kv]),
        op)
    df = df.withColumn("_op", F.coalesce(norm, op))
    if cursor_col is not None:
        df = df.withColumn(cursor_col, F.col(cursor_col).cast("long"))
    return df.withColumn("_deleted", F.col("_op") == "delete")


@register
class ChangelogSource(Source):
    """File-based CDC source (see module docstring).

    Config::

        {"path": "...",                       # root with base/ + changes/
         "primary_keys": {"orders": ["o_orderkey"]},   # REQUIRED per stream
         "streams": ["orders", ...]}          # optional subset
    """

    name = "changelog"

    @classmethod
    def spec(cls) -> dict[str, Any]:
        return {
            "type": "object",
            "properties": {
                "path": {"type": "string",
                         "description": "root dir with base/ and changes/"},
                "primary_keys": {
                    "type": "object",
                    "description": "stream -> primary key columns"},
                "streams": {"type": ["array", "null"]},
            },
            "required": ["path", "primary_keys"],
        }

    # ------------------------------------------------------------- layout

    def _root(self) -> str:
        return self.config["path"]

    def _streams(self) -> list[str]:
        found = set()
        for d in glob.glob(os.path.join(self._root(), "changes", "*")):
            if os.path.isdir(d):
                found.add(os.path.basename(d))
        for p in glob.glob(os.path.join(self._root(), "base", "*.parquet")):
            found.add(os.path.basename(p).rsplit(".", 1)[0])
        wanted = self.config.get("streams")
        names = sorted(found & set(wanted) if wanted else found)
        if not names:
            raise SourceError(
                f"no changelog streams under {self._root()!r} "
                "(expected base/<s>.parquet or changes/<s>/)")
        return names

    def _base_path(self, stream: str) -> str | None:
        p = os.path.join(self._root(), "base", f"{stream}.parquet")
        return p if os.path.exists(p) else None

    def _changes_dir(self, stream: str) -> str | None:
        d = os.path.join(self._root(), "changes", stream)
        return d if os.path.isdir(d) else None

    # ------------------------------------------------------------ loading

    def _load_changes(self, spark: SparkSession, stream: str) -> DataFrame | None:
        d = self._changes_dir(stream)
        if d is None:
            return None
        pq = glob.glob(os.path.join(d, "*.parquet"))
        jl = (glob.glob(os.path.join(d, "*.jsonl"))
              + glob.glob(os.path.join(d, "*.json")))
        if pq and jl:
            raise SourceError(f"mixed parquet+json changelog in {d!r}")
        if pq:
            df = spark.read.parquet(*sorted(pq))
        elif jl:
            df = spark.read.json(sorted(jl))
        else:
            return None
        for col in ("_op", "_cursor"):
            if col not in df.columns:
                raise SourceError(f"changelog {d!r} missing {col!r}")
        return normalize_changes(df)

    def _load_base(self, spark: SparkSession, stream: str,
                   payload_cols: list[str] | None = None) -> DataFrame | None:
        p = self._base_path(stream)
        if p is None:
            return None
        base = spark.read.parquet(p)
        if payload_cols:
            missing = [c for c in payload_cols if c not in base.columns]
            for c in missing:
                base = base.withColumn(c, F.lit(None))
        return base.select(
            *(payload_cols or base.columns),
            F.lit("insert").alias("_op"),
            F.lit(0).cast("long").alias("_cursor"),
            F.lit(False).alias("_deleted"),
        )

    def _unified(self, spark: SparkSession, stream: str) -> DataFrame:
        changes = self._load_changes(spark, stream)
        payload = (
            [c for c in changes.columns if c not in _META_COLS]
            if changes is not None else None)
        base = self._load_base(spark, stream, payload)
        if base is None and changes is None:
            raise SourceError(f"stream {stream!r}: no base and no changes")
        if changes is None:
            return base
        changes = changes.select(*(payload or []), *_META_COLS)
        if base is None:
            return changes
        return base.unionByName(changes, allowMissingColumns=True)

    # ----------------------------------------------------- Source verbs

    def discover(self, spark: SparkSession) -> Catalog:
        pks = self.config.get("primary_keys") or {}
        cat = Catalog()
        for name in self._streams():
            df = self._unified(spark, name)
            if name not in pks:
                raise SourceError(
                    f"changelog stream {name!r} needs primary_keys config")
            cat.add(StreamEntry(
                name=name,
                schema=df.schema,
                primary_keys=list(pks[name]),
                replication_key="_cursor",
                supported_sync_modes=[SyncMode.INCREMENTAL,
                                      SyncMode.FULL_REFRESH],
                source=self.name,
            ))
        return cat

    def read(self, spark: SparkSession, stream: StreamEntry) -> DataFrame:
        return self._unified(spark, stream.name)

    # read_incremental: the base Source cursor predicate (_cursor >
    # bookmark) is exactly right — snapshot rows sit at _cursor 0, so a
    # resumed sync skips them and replays only the new log tail, with
    # the predicate pushed into the parquet/json scan.
