"""Tombstone primitives of the persisted indexes: ``__ver`` stamping,
the live-row filter and the tombstone side table.

The index contract they implement — a row is live iff its ``__ver``
equals its id's tombstone count — is stated once, in
:mod:`.index_store`, which runs the catalog-table lifecycle of the six
bucketed index families on top of these helpers.  The IVF vector index
(``similarity``) uses ``stamp_version`` and ``live_rows`` directly over
its cell-partitioned directory layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def tombstone_counts_table(spark, table_name: str, id_col: str):
    """(id, __tombs) for a catalog-table-backed index, or None when
    nothing was ever deleted."""
    if not spark.catalog.tableExists(f"{table_name}_tombstones"):
        return None
    return (spark.table(f"{table_name}_tombstones")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("__tombs")))


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


def record_tombstones_table(spark, table_name: str, path: str,
                            ids: DataFrame, id_col: str) -> None:
    """Append one tombstone row per id for a catalog-table index,
    creating the side table on first delete."""
    import os as _os

    if id_col in ids.columns:
        src = id_col
    elif len(ids.columns) == 1:
        src = ids.columns[0]
    else:
        raise ValueError(
            f"ids frame has columns {ids.columns} but none is {id_col!r}; "
            "pass a single-column frame or include the id column by name")
    rows = ids.select(F.col(src).alias(id_col)).distinct()
    if spark.catalog.tableExists(f"{table_name}_tombstones"):
        rows.write.mode("append").insertInto(f"{table_name}_tombstones")
    else:
        (rows.write.option("path", _os.path.join(path, "tombstones"))
             .saveAsTable(f"{table_name}_tombstones"))
