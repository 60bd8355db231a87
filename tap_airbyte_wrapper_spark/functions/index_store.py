"""The persisted-index store: one catalog-table lifecycle for every
bucketed index family.

Six families keep a standing corpus searchable at O(delta) cost — BM25
postings (``retrieval``), MinHash-LSH postings + signatures, exact
fingerprints and SimHash segments (``dedup``), media-signature segments
(``multimodal``) and novelty gram postings (``corpus``).  Each family
module only says how its rows are computed from documents and how its
probe reads them; building, appending, deleting, reading live rows and
compacting happen here, once.  (The IVF vector index keeps its own
cell-partitioned directory layout and shares only the ``__ver``
primitives of ``_maint``.)

**Tables.**  An index named ``t`` at ``path`` is one catalog table
``t_<suffix>`` per entry of its family's :data:`LAYOUTS` row, stored at
``{path}/<suffix>`` and written ``bucketBy(n_buckets, key)
.sortBy(key)``: probes shuffle only the delta into the bucketing and
scan the corpus side co-located.  ``{path}/_index_meta.json`` records
the family, the id column, ``n_buckets`` and every parameter the
family needs to compute delta rows exactly as the build did.

**Liveness.**  Every stored row carries ``__ver`` — the number of
times its id had been deleted when the row was written (0 at build).
A delete appends one row per id to ``t_tombstones`` (O(delete batch),
no data file touched).  A row is LIVE iff ``__ver`` equals its id's
tombstone count, so a delete kills every stored generation of an id
and a later append (stamped with the bumped count) revives it; a
replace is a delete followed by an append.  A build or a compaction
starts a new generation at its path and removes that path's old
tombstone files (dropping the external table leaves them).  The tombstone table is
delete-sized, so its per-id count broadcasts and the liveness filter
never disturbs the bucketed layout.

**Appends.**  :func:`append` checks the caller's id column against the
meta, stamps ``__ver`` and inserts into the existing bucketed tables —
O(delta), the corpus is never read.  Contract: appended ids must not be
live (dedup the delta against the index first; edited documents go
through the family's ``*_index_replace``).  Each append adds files per
touched bucket.

**Replay.**  At-least-once streaming replays converge without
markers: a replayed replace bumps the tombstone count and re-appends at
the new count, so the live generation is the latest content; a replayed
delete adds a redundant tombstone to a dead id; a replayed append of
self-matching rows (the dedup and novelty gates) duplicates rows whose
presence no probe can observe.

**Compaction.**  :func:`index_compact` rewrites the live rows, at
``__ver = 0`` and with no tombstone table, under the SAME bucket spec
into a NEW table name and path (callers swap by probing the new name).
Exact duplicate rows, which only replayed appends produce, fold into
one; every family's rows are otherwise distinct per live document.
The source is re-read with the bucketed scan forced on
(``autoBucketedScan`` off: the planner otherwise reads file splits
while still reporting the bucket partitioning, which misaligns the
write), so the rewrite is one task and one file per bucket with zero
shuffle.  A flat parquet rewrite would drop the bucket metadata and
bring back the corpus shuffle the index exists to avoid.
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F

from ..confutil import scoped_conf
from ..fsutil import (copy_text, count_parquet_files, read_text, remove,
                      write_text)
from ._maint import (live_rows, record_tombstones_table, stamp_version,
                     tombstone_counts_table)

__all__ = ["LAYOUTS", "index_delete", "index_compact"]

META = "_index_meta.json"
ID = None  # a layout slot filled by the index's own id column


class Layout(NamedTuple):
    """One family's catalog tables and tombstone key."""

    tables: dict  # table suffix -> bucket/sort key (ID: the id column)
    tomb_id: str | None  # the column tombstones count on (ID: id column)


LAYOUTS = {
    "bm25": Layout({"postings": "term", "doclen": ID}, ID),
    "minhash": Layout({"postings": "bkey", "sigs": ID}, ID),
    "fingerprint": Layout({"fps": "fp"}, "fid"),
    "simhash": Layout({"segs": "seg_key"}, "sid"),
    "media_sig": Layout({"segs": "seg_key"}, "mid"),
    "novelty": Layout({"grams": "gram_h"}, "owner"),
}


def _tomb_id(family: str, id_col: str | None) -> str:
    return LAYOUTS[family].tomb_id or id_col


def read_meta(spark, path: str) -> dict:
    """The ``_index_meta.json`` of the index stored at ``path``."""
    return json.loads(read_text(spark, os.path.join(path, META)))


def located_meta(spark, table: str) -> dict:
    """The meta of the index owning catalog table ``table`` — for the
    appends whose signature carries no index path."""
    loc = next(r[1] for r in
               spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
               if r[0] == "Location")
    return read_meta(spark, loc.rstrip("/").rsplit("/", 1)[0])


def live(spark, family: str, table_name: str, suffix: str,
         id_col: str | None = None) -> DataFrame:
    """The live rows of ``{table_name}_{suffix}``, ``__ver`` dropped.
    ``id_col`` is the index's id column (needed by the families whose
    tombstones count on it)."""
    tid = _tomb_id(family, id_col)
    return live_rows(spark.table(f"{table_name}_{suffix}"),
                     tombstone_counts_table(spark, table_name, tid), tid)


def _drop(spark, table_name: str, layout: Layout, path: str) -> None:
    """Drop the catalog tables and start a new tombstone generation at
    ``path``: the tables are external, so a DROP leaves their files,
    and the first delete's table creation refuses a non-empty
    ``{path}/tombstones``."""
    for suffix in (*layout.tables, "tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {table_name}_{suffix}")
    remove(spark, os.path.join(path, "tombstones"))


def _write(rows: DataFrame, layout: Layout, meta: dict, table_name: str,
           path: str, suffix: str) -> None:
    key = layout.tables[suffix] or meta["id_col"]
    (rows.withColumn("__ver", F.lit(0).cast("long"))
        .write.bucketBy(meta["n_buckets"], key).sortBy(key)
        .option("path", os.path.join(path, suffix))
        .mode("overwrite").saveAsTable(f"{table_name}_{suffix}"))


def build(spark, family: str, table_name: str, path: str,
          tables: dict[str, DataFrame], meta: dict) -> None:
    """Build an index from scratch: drop the family's tables and any
    tombstones (catalog entries and files), write each table at ``__ver = 0`` under its bucket
    spec, and record ``meta`` (which must hold ``id_col`` and
    ``n_buckets``) plus the family."""
    layout = LAYOUTS[family]
    meta = {"family": family, **meta}
    _drop(spark, table_name, layout, path)
    for suffix, rows in tables.items():
        _write(rows, layout, meta, table_name, path, suffix)
    write_text(spark, os.path.join(path, META), json.dumps(meta))


def append(spark, table_name: str, meta: dict, id_col: str,
           tables: dict[str, DataFrame]) -> None:
    """Append delta rows to an index's tables (see the module
    docstring's append contract): stamp each row with its id's current
    tombstone count and insert by column name into the existing
    bucketed table."""
    if meta["id_col"] != id_col:
        raise ValueError(
            f"index was built on id column {meta['id_col']!r}, "
            f"got {id_col!r}")
    tid = _tomb_id(meta["family"], id_col)
    tombs = tombstone_counts_table(spark, table_name, tid)
    for suffix, rows in tables.items():
        target = f"{table_name}_{suffix}"
        (stamp_version(rows, tombs, tid)
            .select(*spark.table(target).columns)
            .write.mode("append").insertInto(target))


def index_delete(spark, table_name: str, path: str, ids: DataFrame) -> None:
    """Delete documents from any persisted index at O(delete batch):
    one tombstone row per id; every probe, search and compaction then
    ignores the id's stored rows, and a later append revives it.
    ``ids`` holds the ids in a column named as the index's id column
    (or its tombstone column), or in its only column.  Deleting an
    absent or already-dead id is a harmless extra tombstone."""
    meta = read_meta(spark, path)
    tid = _tomb_id(meta["family"], meta["id_col"])
    if tid not in ids.columns and meta["id_col"] in ids.columns:
        ids = ids.select(F.col(meta["id_col"]).alias(tid))
    record_tombstones_table(spark, table_name, path, ids, tid)


def index_compact(spark, table_name: str, path: str, dst_table: str,
                  dst_path: str) -> dict:
    """Layout-preserving compaction of any persisted index into a NEW
    table name and path (see the module docstring): live rows only,
    versions reset, no tombstone table, one file per bucket per table,
    zero shuffle.  Both guards run before anything is dropped or read.
    Returns ``{"files_in", "files_out"}`` (parquet files under each
    path)."""
    if os.path.abspath(path) == os.path.abspath(dst_path):
        raise ValueError("index_compact writes to a NEW path")
    if dst_table.casefold() == table_name.casefold():
        # Spark SQL resolves table names case-insensitively: the DROPs
        # below would destroy the live index's catalog entries
        raise ValueError("index_compact writes to a NEW table name "
                         "(dst_table must differ from table_name)")
    meta = read_meta(spark, path)
    layout = LAYOUTS[meta["family"]]
    files_in = count_parquet_files(path, spark)
    _drop(spark, dst_table, layout, dst_path)
    with scoped_conf(spark, {
            "spark.sql.sources.bucketing.autoBucketedScan.enabled":
            "false"}):
        for suffix in layout.tables:
            rows = live(spark, meta["family"], table_name, suffix,
                        meta["id_col"]).distinct()
            _write(rows, layout, meta, dst_table, dst_path, suffix)
    copy_text(spark, os.path.join(path, META), os.path.join(dst_path, META))
    return {"files_in": files_in,
            "files_out": count_parquet_files(dst_path, spark)}
