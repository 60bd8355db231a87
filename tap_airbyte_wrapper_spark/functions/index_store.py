"""The persisted-index store: one lifecycle for every index family.

Seven families keep a standing corpus searchable at O(delta) cost — BM25
postings (``retrieval``), MinHash-LSH postings + signatures, exact
fingerprints and SimHash segments (``dedup``), media-signature segments
(``multimodal``), novelty gram postings (``corpus``) and IVF vector
cells (``similarity``).  Each family module only says how its rows are
computed from documents and how its probe reads them; building,
appending, deleting, reading live rows and compacting happen here,
once.

**Tables.**  An index at ``path`` stores each table of its family's
:data:`LAYOUTS` row at ``{path}/<suffix>``, in one of two kinds:

* a bucketed catalog table ``<table_name>_<suffix>``, written
  ``bucketBy(n_buckets, key).sortBy(key)``: probes shuffle only the
  delta into the bucketing and scan the corpus side co-located;
* a cell-partitioned directory (IVF), repartitioned on its key and
  written ``partitionBy(key)``: a probe join prunes to the probed
  cells' files, and no catalog entry is involved.

``{path}/_index_meta.json`` records the family, the id column and its
type, the partition count (``n_buckets`` or ``n_clusters``) and every
parameter the family needs to compute delta rows exactly as the build
did.  A directory index also records ``built_rows``, the rows its build
wrote, which its staleness check compares appends against.

**Liveness.**  Every stored row carries ``__ver`` — the number of
times its id had been deleted when the row was written (0 at build).
:func:`index_delete` appends one parquet row per id under
``{path}/tombstones`` (O(delete batch), no data file touched).  A row
is LIVE iff ``__ver`` equals its id's tombstone count, so a delete
kills every stored generation of an id and a later append (stamped
with the bumped count) revives it.  A replace is :func:`index_delete`
of the ids followed by the family's append.  A build or a compaction
starts a new generation at its path: it removes that path's old
tombstone files.  The tombstones are delete-sized, so their per-id
count broadcasts and the liveness filter never disturbs the stored
layout.

**Appends.**  :func:`append` checks the caller's id column against the
meta, stamps ``__ver`` and adds the rows under the table's own layout —
O(delta), the corpus is never read.  Contract: appended ids must not be
live (dedup the delta against the index first; edited documents are
deleted, then appended).  Each append adds files per touched bucket or
cell.

**Replay.**  At-least-once streaming replays converge without
markers: a replayed replace bumps the tombstone count and re-appends at
the new count, so the live generation is the latest content; a replayed
delete adds a redundant tombstone to a dead id; a replayed append of
self-matching rows (the dedup and novelty gates) duplicates rows whose
presence no probe can observe.

**Compaction.**  :func:`index_compact` rewrites the live rows, at
``__ver = 0`` and with no tombstones, under the SAME layout into a NEW
path (and, for catalog tables, a NEW table name; callers swap by
probing the new one).  Exact duplicate rows, which only replayed
appends produce, fold into one; every family's rows are otherwise
distinct per live document.  A bucketed source is re-read with the
bucketed scan forced on (``autoBucketedScan`` off: the planner
otherwise reads file splits while still reporting the bucket
partitioning, which misaligns the write), so the rewrite is one task
and one file per bucket with zero shuffle; a directory is rewritten one
file per cell.  A flat parquet rewrite would drop the bucket metadata
or the cell directories, and with them the co-located probe the index
exists for.
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F

from ..confutil import scoped_conf
from ..fsutil import copy, count_parquet_files, read_text, write_text
from ._maint import (clear_tombstones, live_rows, record_tombstones,
                     stamp_version, tombstone_counts)

__all__ = ["LAYOUTS", "index_delete", "index_compact"]

META = "_index_meta.json"
ID = None  # a layout slot filled by the index's own id column


class Layout(NamedTuple):
    """One family's tables and tombstone key."""

    tables: dict  # table suffix -> bucket/sort key or partition column
    tomb_id: str | None  # the column tombstones count on (ID: id column)
    catalog: bool = True  # bucketed catalog tables, else directories
    copies: tuple = ()  # side files a compaction carries over as-is


LAYOUTS = {
    "bm25": Layout({"postings": "term", "doclen": ID}, ID),
    "minhash": Layout({"postings": "bkey", "sigs": ID}, ID),
    "fingerprint": Layout({"fps": "fp"}, "fid"),
    "simhash": Layout({"segs": "seg_key"}, "sid"),
    "media_sig": Layout({"segs": "seg_key"}, "mid"),
    "novelty": Layout({"grams": "gram_h"}, "owner"),
    "ivf": Layout({"vectors": "__cell"}, ID, catalog=False,
                  copies=("centroids",)),
}


def _tomb_id(meta: dict) -> str:
    return LAYOUTS[meta["family"]].tomb_id or meta["id_col"]


def _tombs(spark, path: str, meta: dict):
    return tombstone_counts(spark, path, _tomb_id(meta), meta["id_type"])


def read_meta(spark, path: str) -> dict:
    """The ``_index_meta.json`` of the index stored at ``path``."""
    return json.loads(read_text(spark, os.path.join(path, META)))


def locate(spark, table: str) -> str:
    """The path of the index owning catalog table ``table`` — for the
    calls whose signature carries no index path."""
    loc = next(r[1] for r in
               spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
               if r[0] == "Location")
    return loc.rstrip("/").rsplit("/", 1)[0]


def _stored(spark, layout: Layout, path: str, suffix: str,
            table_name: str | None) -> DataFrame:
    if layout.catalog:
        return spark.table(f"{table_name}_{suffix}")
    return spark.read.parquet(os.path.join(path, suffix))


def live(spark, path: str, meta: dict, suffix: str,
         table_name: str | None = None) -> DataFrame:
    """The live rows of the index's ``suffix`` table, ``__ver``
    dropped.  ``table_name`` names a catalog family's tables."""
    return live_rows(
        _stored(spark, LAYOUTS[meta["family"]], path, suffix, table_name),
        _tombs(spark, path, meta), _tomb_id(meta))


def _cells(rows: DataFrame, meta: dict, key: str):
    """The writer of a directory table: repartitioned on the key BEFORE
    ``partitionBy``, or every input task writes one file per cell it
    touches."""
    return rows.repartition(meta["n_clusters"], key).write.partitionBy(key)


def _write(rows: DataFrame, layout: Layout, meta: dict, path: str,
           suffix: str, table_name: str | None) -> None:
    key = layout.tables[suffix] or meta["id_col"]
    rows = rows.withColumn("__ver", F.lit(0).cast("long"))
    where = os.path.join(path, suffix)
    if layout.catalog:
        (rows.write.bucketBy(meta["n_buckets"], key).sortBy(key)
            .option("path", where)
            .mode("overwrite").saveAsTable(f"{table_name}_{suffix}"))
    else:
        _cells(rows, meta, key).mode("overwrite").parquet(where)


def _start(spark, layout: Layout, path: str,
           table_name: str | None) -> None:
    """Drop the catalog tables and start a new tombstone generation at
    ``path`` (the tables are external, so a DROP leaves their files)."""
    if layout.catalog:
        for suffix in layout.tables:
            spark.sql(f"DROP TABLE IF EXISTS {table_name}_{suffix}")
    clear_tombstones(spark, path)


def build(spark, family: str, path: str, tables: dict[str, DataFrame],
          meta: dict, table_name: str | None = None) -> dict:
    """Build an index from scratch at ``path`` (and, for a catalog
    family, under ``table_name``): drop what an earlier index left
    there, write each table at ``__ver = 0`` under its layout, and
    record ``meta`` (which must hold ``id_col`` and the partition
    count) plus the family and the id type.  Returns the recorded
    meta."""
    layout = LAYOUTS[family]
    meta = {"family": family, **meta}
    meta["id_type"] = (next(iter(tables.values()))
                       .schema[_tomb_id(meta)].dataType.simpleString())
    _start(spark, layout, path, table_name)
    for suffix, rows in tables.items():
        _write(rows, layout, meta, path, suffix, table_name)
    if not layout.catalog:
        meta["built_rows"] = sum(
            _stored(spark, layout, path, s, None).count()
            for s in layout.tables)
    write_text(spark, os.path.join(path, META), json.dumps(meta))
    return meta


def append(spark, path: str, meta: dict, id_col: str,
           tables: dict[str, DataFrame],
           table_name: str | None = None) -> None:
    """Append delta rows to an index's tables (see the module
    docstring's append contract): stamp each row with its id's current
    tombstone count and add it under the table's layout — by column
    name into a bucketed catalog table, by cell into a directory."""
    if meta["id_col"] != id_col:
        raise ValueError(
            f"index was built on id column {meta['id_col']!r}, "
            f"got {id_col!r}")
    layout = LAYOUTS[meta["family"]]
    tombs = _tombs(spark, path, meta)
    for suffix, rows in tables.items():
        rows = stamp_version(rows, tombs, _tomb_id(meta))
        if layout.catalog:
            target = f"{table_name}_{suffix}"
            (rows.select(*spark.table(target).columns)
                .write.mode("append").insertInto(target))
        else:
            _cells(rows, meta, layout.tables[suffix]).mode("append") \
                .parquet(os.path.join(path, suffix))


def index_delete(spark, path: str, ids: DataFrame) -> None:
    """Delete documents from any persisted index at O(delete batch):
    one tombstone row per id; every probe, search and compaction then
    ignores the id's stored rows, and a later append revives it.
    ``ids`` holds the ids in a column named as the index's id column
    (or its tombstone column), or in its only column.  Deleting an
    absent or already-dead id is a harmless extra tombstone."""
    meta = read_meta(spark, path)
    tid = _tomb_id(meta)
    if tid not in ids.columns and meta["id_col"] in ids.columns:
        ids = ids.select(F.col(meta["id_col"]).alias(tid))
    record_tombstones(spark, path, ids, tid, meta["id_type"])


def index_compact(spark, path: str, dst_path: str,
                  table_name: str | None = None,
                  dst_table: str | None = None) -> dict:
    """Layout-preserving compaction of any persisted index into a NEW
    path (see the module docstring): live rows only, versions reset, no
    tombstones, one file per bucket or cell per table.  A catalog
    family also names its tables (``table_name``) and the NEW name to
    write (``dst_table``).  The guards run before anything is dropped
    or read.  Returns ``{"files_in", "files_out"}`` (parquet files under
    each path)."""
    if os.path.abspath(path) == os.path.abspath(dst_path):
        raise ValueError("index_compact writes to a NEW path")
    if (table_name is not None and dst_table is not None
            and dst_table.casefold() == table_name.casefold()):
        # Spark SQL resolves table names case-insensitively: the DROPs
        # below would destroy the live index's catalog entries
        raise ValueError("index_compact writes to a NEW table name "
                         "(dst_table must differ from table_name)")
    meta = read_meta(spark, path)
    layout = LAYOUTS[meta["family"]]
    if layout.catalog and (table_name is None or dst_table is None):
        raise ValueError(f"a {meta['family']} index compacts from "
                         "table_name into dst_table")
    files_in = count_parquet_files(path, spark)
    _start(spark, layout, dst_path, dst_table)
    with scoped_conf(spark, {
            "spark.sql.sources.bucketing.autoBucketedScan.enabled":
            "false"}):
        for suffix in layout.tables:
            rows = live(spark, path, meta, suffix, table_name).distinct()
            _write(rows, layout, meta, dst_path, suffix, dst_table)
    for name in (*layout.copies, META):
        copy(spark, os.path.join(path, name), os.path.join(dst_path, name))
    return {"files_in": files_in,
            "files_out": count_parquet_files(dst_path, spark)}
