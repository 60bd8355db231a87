"""Streaming CDC apply: changelog directory -> maintained snapshot.

Batch mode pairs ``sources/changelog.py`` with the ``merge`` sink — each
``Engine.sync`` call drains the change tail once.  This module is the
continuous form: a Structured Streaming file source watches the changes
directory and every micro-batch is applied onto the versioned snapshot
through the SAME ``merge_snapshot_write`` path (``foreachBatch``), so
batch and streaming CDC share one merge implementation and one on-disk
layout (reference parity note: the reference's LOG_BASED streams are
still batch taps re-run on a schedule, tap.py:98-105 — continuous apply
is engine-added capability).

Delivery semantics: the streaming checkpoint gives at-least-once
``foreachBatch`` invocations; ``merge_snapshot_write`` is keyed +
cursor-recency idempotent, so replayed batches converge to the same
snapshot (the same argument as the batch sink's crash story, and it
holds across restarts with the same checkpoint dir).

Scale shape: per micro-batch, one pk shuffle over the BATCH (small) +
a bucket-pruned rewrite when ``n_buckets`` is set — the steady-state
cost of continuous CDC is proportional to churn, never snapshot size.
``maxFilesPerTrigger`` bounds batch size; watermarks are unnecessary
(no event-time aggregation — merge recency is cursor-based).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..sinks import merge_snapshot_write
from ..sources.changelog import normalize_changes
from ._batch import start_foreach_batch

__all__ = ["stream_changelog_apply"]


def stream_changelog_apply(
    spark: SparkSession,
    changes_dir: str,
    schema,
    stream: str,
    sink_path: str,
    checkpoint_path: str,
    pks: Sequence[str],
    fmt: str = "json",
    order_col: str = "_cursor",
    n_buckets: int | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuously apply op-typed change files onto the merge-sink
    snapshot.  ``schema`` is the change-record schema (payload +
    ``_op`` string + ``_cursor`` long), pinned batch-side — e.g. from
    ``ChangelogSource.discover`` — because streaming readers don't
    infer.  ``available_now=True`` drains the backlog then stops (tap
    semantics); ``False`` keeps watching the directory.
    """
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    changes = normalize_changes(reader.load(changes_dir))

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_snapshot_write(
            batch, stream, sink_path, pks,
            order_col=order_col, delete_col="_deleted",
            n_buckets=n_buckets)

    return start_foreach_batch(changes, apply_batch, checkpoint_path,
                               available_now)
