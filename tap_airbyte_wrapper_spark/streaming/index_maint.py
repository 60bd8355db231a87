"""Streaming CDC -> persisted-index maintenance: a changelog stream of
document inserts / updates / deletes keeps a BM25 or exact-fingerprint
index current at O(churn) per micro-batch.

A standing corpus is not append-only — re-crawls edit documents and
takedowns remove them — and the CDC source (``sources/changelog.py``)
already models that churn for SNAPSHOT sinks (``streaming/cdc.py``).
These gates run the same apply loop for the SEARCH indexes, so a
deployment keeps lookups fresh continuously instead of rebuilding
nightly.

Change rows follow the changelog source's conventions: an op column
(``insert``/``update``/``delete``, with ``c``/``u``/``d`` aliases) and
a monotone ``_cursor`` for intra-batch ordering.  Per micro-batch:

1. collapse to the LAST change per id (window over the batch only —
   batch-sized state);
2. deletes -> ``index_delete`` (O(batch) tombstone rows);
3. inserts + updates -> replace semantics (tombstone then re-append at
   the bumped version) — an insert of a brand-new id just writes one
   harmless tombstone, so one code path serves both.

Replay safety (at-least-once ``foreachBatch``) comes from the store's
tombstone liveness rule (``functions/index_store.py``): replays
CONVERGE without markers.  A crash BETWEEN the delete and the append of
a replace leaves the id dead until the replay completes the append —
never a double-counted generation.  Structured Streaming replays only
the in-flight batch (earlier batches are committed in the checkpoint),
so a replay can never clobber newer content.  A best-effort
``_maint_batch_<id>`` marker skips redundant re-applies; correctness
never depends on it.

Each drained batch appends a ``(batch_id, n_in, n_kept, n_dropped,
wall_seconds)`` row under ``{index_path}/_gate_stats`` (n_kept =
upserts applied, n_dropped = deletes applied).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Window, functions as F

from ..fsutil import exists as _fs_exists, write_text as _fs_write
from ..functions.index_store import index_delete
from ..sources.changelog import normalize_changes
from ._batch import start_foreach_batch
from .stats import append_gate_stats

__all__ = ["stream_bm25_index_maintenance",
           "stream_fingerprint_index_maintenance"]


def _latest_changes(batch: DataFrame, id_col: str, op_col: str,
                    order_col: str) -> DataFrame:
    """One row per id: the batch's LAST change under (order, raw op),
    normalized (``_op``, ``_deleted``).  Window state is batch-sized."""
    w = Window.partitionBy(id_col).orderBy(
        F.col(order_col).desc(), F.col(op_col))
    latest = (batch.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))
    return normalize_changes(latest, op_col, cursor_col=None)


def _maintain(stream, index_path, checkpoint, available_now, id_col,
              text_col, op_col, order_col, append):
    """Start a maintenance query: per micro-batch, collapse to the last
    change per id, ``index_delete`` every changed id (an update
    tombstones its own id first: a replace) and ``append`` the upserted
    ``(id, text)`` rows, behind the best-effort ``_maint_batch_<id>``
    marker."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        started = time.time()
        spark = batch.sparkSession
        marker = os.path.join(index_path, f"_maint_batch_{batch_id}")
        if _fs_exists(spark, marker):
            return
        latest = _latest_changes(batch, id_col, op_col, order_col).persist()
        try:
            dels = latest.filter(F.col("_deleted")).select(id_col)
            ups = latest.filter(~F.col("_deleted")).select(id_col, text_col)
            n_del = dels.count()
            n_up = ups.count()
            if n_del or n_up:
                index_delete(spark, index_path,
                             dels.unionByName(ups.select(id_col)))
            if n_up:
                append(ups)
            try:
                _fs_write(spark, marker, "done")
            except Exception:
                pass  # best-effort marker — replays converge anyway
            append_gate_stats(spark, index_path, batch_id,
                              n_del + n_up, n_up, started)
        finally:
            latest.unpersist()

    return start_foreach_batch(stream, apply_batch, checkpoint, available_now)


def stream_bm25_index_maintenance(
    stream: DataFrame,
    index_table: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    op_col: str = "_op",
    order_col: str = "_cursor",
    available_now: bool = True,
):
    """Keep a persisted BM25 index current from a changelog stream
    (see module docstring).  Requires a bootstrapped index
    (``bm25_index_write`` — an empty corpus frame is fine).  After any
    drained batch, ``bm25_index_search`` equals a from-scratch rebuild
    on the corpus-with-changes-applied (pinned by test)."""
    from ..functions.retrieval import bm25_index_append

    return _maintain(stream, index_path, checkpoint, available_now, id_col,
                     text_col, op_col, order_col,
                     lambda ups: bm25_index_append(ups, index_table, id_col,
                                                   text_col))


def stream_fingerprint_index_maintenance(
    stream: DataFrame,
    index_table: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    op_col: str = "_op",
    order_col: str = "_cursor",
    available_now: bool = True,
):
    """Keep a persisted exact-fingerprint index current from a
    changelog stream: deletes tombstone the doc's ``(fp, id)`` row (its
    content stops dropping future docs against a ghost), updates
    re-point the fingerprint (old content dies, new content registers
    at the bumped version).  Requires a bootstrapped index
    (``fingerprint_index_write``)."""
    from ..functions.dedup import fingerprint_index_append

    return _maintain(stream, index_path, checkpoint, available_now, id_col,
                     text_col, op_col, order_col,
                     lambda ups: fingerprint_index_append(
                         ups, index_table, id_col, text_col))
