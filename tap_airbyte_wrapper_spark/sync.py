"""Sync orchestrator: discover -> select -> incremental -> transform -> sink.

The Spark-native replacement for the reference's ``sync_all``
(tap_airbyte/tap.py:781-902).  The reference's demux loop, per-stream
queues, and consumer threads (tap.py:789-813, 967-999) exist to parallelize
a single subprocess pipe — Spark's scheduler already parallelizes per
partition, so the orchestrator is a straight plan-per-stream loop:

catalog = source.discover()          # ONCE per sync (reference: lru_cache,
                                     # tap.py:705-746); also resolves the
                                     # ref_streams of foreign-key rules
for each selected stream:
    DataFrame  = source.read(stream)                # distributed scan
    += cursor predicate when incremental            # pushed into the scan
    += stream maps / flattening                     # Catalyst expressions
    sink write                                      # RECORD lines from
                                                    # record_json_expr
    bookmark = max(cursor) taken in the SAME pass,  # rendered as the
                                                    # RECORD lines carry it
    commit state only after the write succeeded     # at-least-once, §4.3

Planning (discovery and building each stream's DataFrame) starts no Spark
job for single-file parquet streams: their schemas come from the file
footers, read on the driver (``sources.files.load_parquet``).  Spark jobs
start only at the expectation checks and the sink writes.

Also preserved: per-stream metrics ("Synced N streams in X seconds",
tap.py:899-902) and fail-fast error propagation (tap.py:648-657).
"""

from __future__ import annotations

import logging
import sys
import time
from typing import Any, IO

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .catalog import Catalog, StreamEntry, SyncMode
from .confutil import MICROS_TIMESTAMPS, scoped_conf
from .maps import StreamMapper
from .singer_io import (render_column, singer_message, write_singer_files,
                        write_singer_stdout)
from .sources import get_source
from .state import BookmarkStore

logger = logging.getLogger("tap_airbyte_wrapper_spark")

__all__ = ["Engine", "SyncResult"]


class SyncResult:
    def __init__(self) -> None:
        self.stream_counts: dict[str, int] = {}
        self.wall_seconds: float = 0.0

    @property
    def total_records(self) -> int:
        return sum(self.stream_counts.values())


class Engine:
    """Top-level engine API: spec / check / discover / sync.

    ``config`` shape::

        {
          "source": "dataset_dir",          # registry key
          "source_config": {"path": ...},   # source-specific
          "streams": ["events", ...],       # selection; omit = all
          "replication_method": {"events": "INCREMENTAL"},
          "stream_maps": {...}, "stream_map_config": {...},
          "flattening_enabled": false, "flattening_max_depth": 10,
          "state_path": "state.json",
          "parallelism": 4,                 # concurrent stream jobs (file sinks)
          "sink": {"type": "stdout" | "files" | "parquet" | "json"
                           | "merge" | "jdbc",
                   "path": ..., "mode": "append"},
          # per-sink keys read by Engine._write (all optional unless noted):
          #   files:   RECORD lines in {path}/{stream}/part-*, the stream's
          #            SCHEMA line in {path}/{stream}/_schema.singer
          #   parquet: "sort_by" ("cursor" or [cols]), "partition_by"
          #   merge:   "order_col" (default: the cursor), "delete_col",
          #            "keep_versions" (2), "n_buckets"
          #   jdbc:    "url" (required; no "path"), "table_prefix",
          #            "driver", "user", "password", "batchsize",
          #            "isolationLevel"
          # declarative data-quality gate, evaluated BEFORE the write:
          "expectations": {"events": [
              {"column": "event_id", "kind": "not_null"},
              {"column": "event_id", "kind": "unique"},
              {"column": "user_id", "kind": "foreign_key",
               "ref_stream": "users", "ref_col": "user_id"}]},
          "expectations_mode": "warn"       # or "fail": violating batch
        }                                   # never reaches the sink

    Beyond-reference: the reference ships records downstream unexamined
    (quality = JSON-schema typing only); here the quality layer
    (``operators/quality.py``) plugs into the sync path as config.
    """

    def __init__(self, spark: SparkSession, config: dict[str, Any]):
        self.spark = spark
        self.config = config
        self.source = get_source(config["source"], config.get("source_config"))
        self.mapper = StreamMapper(
            config.get("stream_maps"),
            config.get("stream_map_config"),
            config.get("flattening_enabled", False),
            config.get("flattening_max_depth", 10),
        )
        self.state = BookmarkStore.load(config.get("state_path", ""))
        import threading

        self._state_lock = threading.Lock()

    # ------------------------------------------------------------ lifecycle

    def spec(self) -> dict[str, Any]:
        return type(self.source).spec()

    def check(self) -> bool:
        return self.source.check(self.spark)

    def discover(self) -> Catalog:
        cat = self.source.discover(self.spark)
        selection = self.config.get("streams")
        # [] is a real instruction ("select nothing" — e.g. a catalog
        # file that deselects every stream); only a missing/None key
        # means "all streams".
        if selection is not None:
            cat.select(selection)
        methods = self.config.get("replication_method") or {}
        for entry in cat:
            entry.negotiate(methods.get(entry.name))
        return cat

    # ---------------------------------------------------------- plan pieces

    def stream_df(self, entry: StreamEntry) -> DataFrame:
        """Scan one stream, incremental when negotiated — the reference's
        state handoff (tap.py:592-611) becomes a cursor predicate the
        source guarantees is pushed into the scan."""
        if entry.sync_mode == SyncMode.INCREMENTAL and entry.replication_key:
            bookmark = self.state.get_bookmark(entry.name, entry.replication_key)
            if bookmark is not None:
                return self.source.read_incremental(self.spark, entry, bookmark)
        return self.source.read(self.spark, entry)

    # ------------------------------------------------------------ backfill

    def backfill(
        self,
        stream: str,
        lo: Any,
        hi: Any,
        sink: dict[str, Any] | None = None,
    ) -> int:
        """Re-sync ONE historical cursor window ``[lo, hi)`` of a
        stream WITHOUT touching the forward bookmark — the ops move
        after a bad upstream day: patch the window, leave the
        continuously-running incremental sync's state alone.

        The range lands as a filter on the raw cursor column, so both
        bounds push into the scan (footer/row-group pruning on a
        cursor-sorted layout skips everything outside the window).
        Stream maps apply exactly as in a normal sync; with a key-less
        append sink the caller should expect the window's rows
        duplicated (route backfills at a merge sink — keyed upsert
        makes the patch idempotent).  Returns the record count.

        Beyond-reference: the reference can only replay from a doctored
        state file, which MOVES the real bookmark (tap.py:819-884).
        """
        catalog = self.discover()
        configured = catalog.configured()
        if stream not in configured:
            raise ValueError(
                f"stream {stream!r} not in the configured catalog "
                f"(selected: {[e.name for e in configured]})")
        entry = configured.get(stream)
        if not entry.replication_key:
            raise ValueError(
                f"stream {stream!r} has no cursor column to backfill by")
        cur = F.col(entry.replication_key)
        window = self.source.read(self.spark, entry).filter(
            (cur >= F.lit(lo)) & (cur < F.lit(hi)))
        sink = sink or self.config.get("sink") or {"type": "stdout"}
        total = 0
        self._expectations = self._build_expectations(catalog)
        self._check_expectations(entry.name, window)
        # no cursor: a backfill takes no bookmark and emits no STATE
        # (only _sync_entry sets bookmarks)
        for out_name, df in self.mapper.apply(entry.name, window):
            pks = (self.mapper.key_properties_override(entry.name)
                   or entry.primary_keys)
            n, _ = self._write(df, out_name, None, pks, sink, None)
            total += n
        logger.info("backfilled %d records of %s in [%s, %s)",
                    total, stream, lo, hi)
        return total

    # ---------------------------------------------------------------- sync

    def sync(self, out: IO[str] | None = None) -> SyncResult:
        started = time.perf_counter()
        result = SyncResult()
        catalog = self.discover()
        sink = self.config.get("sink") or {"type": "stdout"}
        entries = list(catalog.configured())
        self._expectations = self._build_expectations(catalog)

        # The reference runs one consumer thread per stream (tap.py:789-791)
        # to overlap I/O on a single pipe; here driver threads submit
        # CONCURRENT SPARK JOBS, which the scheduler interleaves across
        # executor slots.  stdout sinks stay serial — Singer output must be
        # one ordered message stream.
        workers = int(self.config.get("parallelism", 1))
        if workers > 1 and sink.get("type", "stdout") != "stdout":
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=workers) as pool:
                for counts in pool.map(
                    lambda e: self._sync_entry(e, sink, None), entries
                ):
                    for name, n in counts.items():
                        result.stream_counts[name] = (
                            result.stream_counts.get(name, 0) + n)
        else:
            for entry in entries:
                for name, n in self._sync_entry(entry, sink, out).items():
                    result.stream_counts[name] = (
                        result.stream_counts.get(name, 0) + n)

        result.wall_seconds = time.perf_counter() - started
        logger.info(
            "Synced %d streams in %.2f seconds", len(result.stream_counts), result.wall_seconds
        )
        return result

    def _sync_entry(
        self, entry: StreamEntry, sink: dict[str, Any], out: IO[str] | None
    ) -> dict[str, int]:
        """Sync one stream end-to-end; returns per-output record counts.
        State mutation + commit are serialized under a lock (bookmark
        upserts from concurrent streams must not interleave mid-commit)."""
        t0 = time.perf_counter()
        counts: dict[str, int] = {}
        cursor = (entry.replication_key
                  if entry.sync_mode == SyncMode.INCREMENTAL else None)
        base = self.stream_df(entry)
        # expectations speak SOURCE column names, so they gate the
        # pre-map frame (a stream map may rename/drop the column); one
        # evaluation per stream, not per mapped output
        self._check_expectations(entry.name, base)
        for out_name, df in self.mapper.apply(entry.name, base):
            pks = self.mapper.key_properties_override(entry.name) or entry.primary_keys
            n, cursor_max = self._write(df, out_name, cursor, pks, sink, out)
            counts[out_name] = counts.get(out_name, 0) + n
            # Commit ordering: bookmark only after the sink accepted the
            # batch (at-least-once; reference §4.3).
            with self._state_lock:
                if cursor_max is not None:
                    self.state.set_bookmark(entry.name, cursor, cursor_max)
            if sink.get("type", "stdout") == "stdout":
                stdout = out or sys.stdout
                stdout.write(singer_message(
                    {"type": "STATE", "value": self.state.to_dict()}) + "\n")
                stdout.flush()
        with self._state_lock:
            if self.config.get("state_path"):
                self.state.commit(self.config["state_path"])
        logger.info(
            "synced stream %s in %.2fs", entry.name, time.perf_counter() - t0
        )
        return counts

    def _build_expectations(self, catalog: Catalog) -> "dict[str, list]":
        """Compile config-declared quality rules per stream; a
        ``foreign_key`` rule's ``ref_stream`` resolves to a read of
        that stream from the same source (key columns only reach the
        join, so the gate's extra cost is key-projected scans).
        ``catalog`` is the sync's own discovery, taken before
        ``configured()`` so a deselected stream can still be a
        reference."""
        from .operators.quality import Expectation

        spec = self.config.get("expectations") or {}
        compiled: dict[str, list] = {}
        for stream, rules in spec.items():
            exps = []
            for rule in rules:
                kw = dict(rule)
                column = kw.pop("column")
                kind = kw.pop("kind")
                ref_stream = kw.pop("ref_stream", None)
                if ref_stream is not None:
                    if ref_stream not in catalog:
                        raise ValueError(
                            f"expectations[{stream!r}]: foreign_key "
                            f"ref_stream {ref_stream!r} is not a stream "
                            f"of this source (available: "
                            f"{sorted(e.name for e in catalog)})")
                    ref_entry = catalog.get(ref_stream)
                    kw["ref"] = self.source.read(self.spark, ref_entry)
                exps.append(Expectation(column, kind, **kw))
            compiled[stream] = exps
        return compiled

    def _check_expectations(self, stream: str, df: DataFrame) -> None:
        """Evaluate the stream's declared rules on the PRE-MAP frame
        (rules reference SOURCE column names) BEFORE any write — in
        ``fail`` mode a violating batch never reaches the sink (and the
        bookmark never advances, so the fixed source re-syncs cleanly);
        ``warn`` (default) logs and proceeds.  Cost, measured with
        ``statusTracker`` job ids: 2 Spark jobs per stream for row rules
        (the aggregate's scan and its final stage), and 6 for ``orders``'
        not_null + unique + foreign_key (the distinct count's shuffle
        and the anti-join add stages that AQE runs as jobs)."""
        from .operators.quality import validate_expectations
        from .sources import SourceError

        exps = getattr(self, "_expectations", {}).get(stream)
        if not exps:
            return
        rows = validate_expectations(df, exps).collect()
        bad = [r for r in rows if not r["passed"]]
        for r in bad:
            logger.warning(
                "expectation %s failed on stream %s: %d violations",
                r["expectation"], stream, r["n_violations"])
        if bad and self.config.get("expectations_mode", "warn") == "fail":
            raise SourceError(
                f"stream {stream!r} failed expectations: "
                + ", ".join(f"{r['expectation']}({r['n_violations']})"
                            for r in bad))

    def _write(
        self,
        df: DataFrame,
        stream_name: str,
        cursor: str | None,
        pks: list[str],
        sink: dict[str, Any],
        out: IO[str] | None,
    ) -> tuple[int, Any]:
        """Write one stream; returns ``(record_count, cursor_max)``, the
        largest ``cursor`` value rendered as the stream's RECORD lines
        carry it (``singer_io.render_column``), or None without a cursor.

        stdout streams SCHEMA and RECORD lines through
        ``write_singer_stdout``, which counts in its own loop; the caller
        writes STATE.  Every other sink takes the count and the rendered
        max(cursor) from an Observation on the SAME pass as the write —
        no second scan of the source.
        """
        kind = sink.get("type", "stdout")
        if kind == "stdout":
            return write_singer_stdout(df, stream_name, pks, cursor, out)

        path = sink.get("path")
        mode = sink.get("mode", "append")
        observed = [F.count(F.lit(1)).alias("n")]
        if cursor:
            observed.append(render_column(
                F.max(F.col(cursor)), df.schema[cursor].dataType
            ).alias("cursor_max"))
        sort_by = sink.get("sort_by") if kind == "parquet" else None
        if sort_by == "cursor":
            sort_by = [cursor] if cursor else None
        if sort_by:
            # cursor/range-sorted layout: disjoint row-group ranges so the
            # NEXT incremental read's bookmark predicate prunes files
            # instead of scanning them (sinks.py write_pruned_layout
            # rationale; INT96 timestamps carry no footer stats, hence
            # MICROS for the write).  The observation below attaches
            # ABOVE the range exchange: the partitioner's
            # boundary-sampling pass re-executes the subtree BELOW it,
            # and an observe placed there counts every row twice.
            n = df.sparkSession.sparkContext.defaultParallelism
            df = df.repartitionByRange(
                n, *[F.col(c) for c in sort_by]).sortWithinPartitions(*sort_by)
        obs = Observation()
        df = df.observe(obs, *observed)

        if kind == "merge":
            # CDC apply: upsert the batch onto a versioned parquet
            # snapshot (sinks.py).  Default recency = the stream cursor,
            # so replayed at-least-once batches stay idempotent.
            from .sinks import merge_snapshot_write

            merge_snapshot_write(
                df, stream_name, path, pks,
                order_col=sink.get("order_col", cursor),
                delete_col=sink.get("delete_col"),
                keep_versions=int(sink.get("keep_versions", 2)),
                n_buckets=sink.get("n_buckets"),
            )
        elif kind == "files":
            write_singer_files(df, stream_name, f"{path}/{stream_name}", mode,
                               pks)
        elif kind == "parquet":
            w = df.write.mode(mode)
            if sink.get("partition_by"):
                w = w.partitionBy(*sink["partition_by"])
            with scoped_conf(df.sparkSession,
                             MICROS_TIMESTAMPS if sort_by else {}):
                w.parquet(f"{path}/{stream_name}")
        elif kind == "json":
            df.write.mode(mode).json(f"{path}/{stream_name}")
        elif kind == "jdbc":
            # EL "load" parity: land the stream in a database through
            # Spark's JDBC writer (per-partition batched inserts —
            # distributed, no driver funnel).  Incremental syncs compose
            # naturally: the cursor predicate trims the batch BEFORE the
            # write, so mode="append" receives only new rows.
            w = (df.write.format("jdbc")
                 .option("url", sink["url"])
                 .option("dbtable",
                         f"{sink.get('table_prefix', '')}{stream_name}")
                 .mode(mode))
            if sink.get("driver"):
                w = w.option("driver", sink["driver"])
            for k in ("user", "password", "batchsize", "isolationLevel"):
                if sink.get(k) is not None:
                    w = w.option(k, str(sink[k]))
            w.save()
        else:
            raise ValueError(f"unknown sink type {kind!r}")
        got = obs.get
        return int(got["n"]), got.get("cursor_max")
