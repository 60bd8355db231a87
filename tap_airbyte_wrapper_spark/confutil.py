"""Session-conf scoping shared by the sources, sinks and the engine:
Spark SQL confs that must hold for one read or write only (parquet
timestamp encodings, nanosecond handling) are set for a ``with`` block
and restored afterwards, so they never leak into the rest of the
session."""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

__all__ = ["MICROS_TIMESTAMPS", "scoped_conf"]

#: Parquet writes under this conf encode timestamps as INT64 micros.
#: Spark's default, INT96, carries no footer min/max statistics, so a
#: layout sorted on a timestamp would prune nothing on cursor reads.
MICROS_TIMESTAMPS = {
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}


@contextmanager
def scoped_conf(spark, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the body of the ``with`` block,
    then restore every key as it was — its earlier value, or unset if
    it had none — also when the body raises."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, was in prev.items():
            if was is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, was)
