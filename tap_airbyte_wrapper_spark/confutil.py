"""Session-conf scoping shared by the sources, sinks and the engine:
Spark SQL confs that must hold for one read or write only (parquet
timestamp encodings, nanosecond handling) are set for a ``with`` block
and restored afterwards, so they never leak into the rest of the
session.

Blocks may run on several threads at once (``Engine.sync`` with
``parallelism > 1``).  Blocks that set a key of one session to the same
value share it; a block that needs another value for a held key waits
until the key is free.  A block takes all of its keys at once, so two
blocks never deadlock, and the last block holding a key restores it."""

from __future__ import annotations

import threading
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

__all__ = ["MICROS_TIMESTAMPS", "scoped_conf"]

#: Parquet writes under this conf encode timestamps as INT64 micros.
#: Spark's default, INT96, carries no footer min/max statistics, so a
#: layout sorted on a timestamp would prune nothing on cursor reads.
MICROS_TIMESTAMPS = {
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}


@dataclass
class _Hold:
    value: str
    prior: str | None
    threads: list[int] = field(default_factory=list)


_lock = threading.Condition()
_held: dict[tuple[str, str], _Hold] = {}   # (session UUID, key) -> hold


@contextmanager
def scoped_conf(spark, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the body of the ``with`` block,
    then restore every key as it was — its earlier value, or unset if
    it had none — also when the body raises."""
    if not confs:
        yield
        return
    session = spark._jsparkSession.sessionUUID()
    me = threading.get_ident()

    def free() -> bool:
        clash = [h for k, v in confs.items()
                 if (h := _held.get((session, k))) is not None
                 and h.value != v]
        if any(me in h.threads for h in clash):
            raise RuntimeError(
                f"nested scoped_conf blocks set {sorted(confs)} to two "
                "values on one thread")
        return not clash

    taken: list[str] = []
    try:
        with _lock:
            _lock.wait_for(free)
            for k, v in confs.items():
                hold = _held.get((session, k))
                fresh = hold is None
                if fresh:
                    hold = _held[session, k] = _Hold(
                        v, spark.conf.get(k, None))
                hold.threads.append(me)
                taken.append(k)
                if fresh:
                    spark.conf.set(k, v)
        yield
    finally:
        with _lock:
            restore = []
            for k in taken:
                hold = _held[session, k]
                hold.threads.remove(me)
                if not hold.threads:
                    del _held[session, k]
                    restore.append((k, hold.prior))
            _lock.notify_all()   # waiters wake once the restores are done
            for k, prior in restore:
                if prior is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, prior)
