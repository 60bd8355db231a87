"""The one place a ``foreachBatch`` query starts, and the per-batch
skeleton every streaming admission gate runs on.

A gate supplies only what differs between gates: ``select`` (batch ->
survivors) and, for the gates that grow an index, ``fold`` (survivors
-> index).  Everything else — caching, landing, the replay marker, the
stats row, releasing the caches — lives in :func:`run_gate`.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..fsutil import exists as _fs_exists, write_text as _fs_write
from .stats import append_gate_stats


def start_foreach_batch(stream: DataFrame,
                        fn: Callable[[DataFrame, int], None],
                        checkpoint: str,
                        available_now: bool) -> StreamingQuery:
    """Start ``fn(batch, batch_id)`` over ``stream`` with its progress
    checkpointed at ``checkpoint``; ``available_now=True`` drains the
    backlog then stops (tap semantics), ``False`` keeps watching."""
    writer = stream.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_gate(stream: DataFrame,
             out_path: str,
             checkpoint: str,
             available_now: bool,
             select: Callable[[DataFrame], DataFrame],
             fold: Callable[[DataFrame], None] | None = None,
             index_path: str | None = None) -> StreamingQuery:
    """Start an admission gate; returns the ``StreamingQuery``.

    Per micro-batch, in this order:

    1. persist the batch;
    2. ``clean = select(batch)``, persisted;
    3. overwrite ``{out_path}/batch=<id>`` with ``clean``;
    4. with a ``fold``: unless ``{index_path}/_batch_<id>`` exists, run
       ``fold(clean)``, then write that marker (best effort);
    5. append the ``(batch_id, n_in, n_kept, ...)`` stats row
       (:func:`~.stats.append_gate_stats`);
    6. release both caches, also when a step fails.

    Replay contract.  Structured Streaming's ``foreachBatch`` is
    at-least-once: a crashed batch re-runs with the same boundaries and
    the same id.  A gate is replay-safe when its survivor set is a pure
    function of (batch, index before the batch):

    * stateless gates (no fold) satisfy it trivially, so a re-run lands
      byte-identical output;
    * index gates satisfy it because every indexed row carries its
      doc's id and a doc never drops against ITSELF — a replayed
      survivor keeps, a replayed loser loses to the same winner again.

    Output then lands per batch with overwrite, so a re-run replaces its
    own directory instead of duplicating rows.  The marker only skips a
    redundant re-fold: a crash between fold and marker re-folds on
    replay, which duplicates index rows the probes ``distinct`` away
    (compact the index periodically); a failed marker write is swallowed
    for the same reason.  Batch ids repeat in the stats table on replay;
    :func:`~.stats.read_gate_stats` keeps the last row per id.
    """

    def gate(batch: DataFrame, batch_id: int) -> None:
        started = time.time()
        spark = batch.sparkSession
        batch = batch.persist()
        try:
            clean = select(batch).persist()
            try:
                clean.write.mode("overwrite").parquet(
                    os.path.join(out_path, f"batch={batch_id}"))
                if fold is not None:
                    marker = os.path.join(index_path, f"_batch_{batch_id}")
                    if not _fs_exists(spark, marker):
                        fold(clean)
                        try:
                            _fs_write(spark, marker, "done")
                        except Exception:
                            pass  # best-effort marker, see docstring
                append_gate_stats(spark, out_path, batch_id,
                                  batch.count(), clean.count(), started)
            finally:
                clean.unpersist()
        finally:
            batch.unpersist()

    return start_foreach_batch(stream, gate, checkpoint, available_now)


def drop_duplicates(batch: DataFrame, dupes: DataFrame,
                    id_col: str) -> DataFrame:
    """``batch`` minus the drop set of a ``*_dedup_delta`` pair frame
    (``kind``, ``id_a``, ``id_b``): corpus hits name the batch doc in
    ``id_a`` and drop it unless the hit is the doc itself (``id_a ==
    id_b`` is a replayed doc meeting its own index rows); within-batch
    pairs have ``id_a < id_b`` and drop ``id_b``, keeping the min id."""
    drop = (
        dupes.filter((F.col("kind") == "corpus")
                     & (F.col("id_a") != F.col("id_b")))
        .select(F.col("id_a").alias(id_col))
        .unionByName(dupes.filter(F.col("kind") == "delta")
                     .select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    return batch.join(drop, id_col, "left_anti")
