"""Tombstone primitives of the persisted indexes: ``__ver`` stamping,
the live-row filter and the tombstone files.

The index contract they implement — a row is live iff its ``__ver``
equals its id's tombstone count — is stated once, in
:mod:`.index_store`, the only module that calls these helpers.  Every
family keeps its tombstones the same way: parquet rows of one id each
under ``{path}/tombstones``, read with the id type the index's meta
records, so no catalog entry and no schema inference is involved.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..fsutil import exists, remove


def _tomb_dir(path: str) -> str:
    return os.path.join(path, "tombstones")


def tombstone_counts(spark, path: str, id_col: str, id_type: str):
    """(id, __tombs) for the index at ``path``, or None when nothing
    was deleted since its build."""
    where = _tomb_dir(path)
    if not exists(spark, where):
        return None
    return (spark.read.schema(f"`{id_col}` {id_type}").parquet(where)
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("__tombs")))


def record_tombstones(spark, path: str, ids: DataFrame, id_col: str,
                      id_type: str) -> None:
    """Append one tombstone row per id, cast to the index's id type.
    ``ids`` holds them in a column named ``id_col`` or in its only
    column."""
    if id_col in ids.columns:
        src = id_col
    elif len(ids.columns) == 1:
        src = ids.columns[0]
    else:
        raise ValueError(
            f"ids frame has columns {ids.columns} but none is {id_col!r}; "
            "pass a single-column frame or include the id column by name")
    (ids.select(F.col(src).cast(id_type).alias(id_col)).distinct()
        .write.mode("append").parquet(_tomb_dir(path)))


def clear_tombstones(spark, path: str) -> None:
    """Start a new tombstone generation at ``path``."""
    remove(spark, _tomb_dir(path))


def stamp_version(rows: DataFrame, tombs, id_col: str) -> DataFrame:
    """Stamp ``__ver`` = the id's current tombstone count (0 with no
    tombstones) onto rows about to be appended."""
    if tombs is None:
        return rows.withColumn("__ver", F.lit(0).cast("long"))
    return (rows.join(F.broadcast(tombs), id_col, "left")
            .withColumn("__ver",
                        F.coalesce(F.col("__tombs"), F.lit(0))
                        .cast("long"))
            .drop("__tombs"))


def live_rows(t: DataFrame, tombs, id_col: str) -> DataFrame:
    """Filter an index table to live rows and drop the version column.
    The count table is broadcast, so the narrow scan layout survives."""
    if tombs is None:
        return t.drop("__ver")
    return (
        t.join(F.broadcast(tombs), id_col, "left")
        .filter(F.col("__ver") == F.coalesce(F.col("__tombs"), F.lit(0)))
        .drop("__ver", "__tombs")
    )
