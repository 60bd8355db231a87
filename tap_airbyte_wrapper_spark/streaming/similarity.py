"""Streaming embedding near-duplicate gate: every arriving micro-batch
of vectors dedups against EVERYTHING seen so far at O(batch) cost — the
ANN mirror of :mod:`.dedup`'s MinHash gate, closing the round-5 gap
(the embedding side could build/probe a persisted IVF index but not
fold survivors back in).

Loop per batch: probe the batch against the persisted IVF index
(:func:`~..functions.similarity.embedding_dedup_delta` — the probe join
touches ~n_probe/n_clusters of the corpus FILES, __cell is the
partition column), drop corpus-duplicates and within-batch losers, land
the survivors, then :func:`~..functions.similarity.ivf_append` them so
the next batch dedups against them too.

Replay safety (:func:`._batch.run_gate` states the contract): a
replayed vector is already in the index and matches ITSELF, and the
probe's top-k plan (``knn_topk``) drops ``id == query_id`` pairs, so
corpus hits only ever name OTHER vectors; batch-mates that lost the
within-batch tie on the first run were never appended, so on replay
they lose again via a corpus hit against the appended winner.  A re-append only duplicates
index rows; compact the index periodically with ``index_compact`` —
layout-preserving, unlike the flat ``compact_parquet``.  Each batch
probes the index's LIVE rows (``index_store``), so a vector removed
with ``index_delete`` — or the dead generation of a replaced one — no
longer blocks new documents.

Centroid staleness: the quantizer is NEVER retrained inside the stream
(moving cell boundaries would strand the already-assigned corpus — see
``ivf_append``).  Each append checks :func:`ivf_staleness` and logs a
warning once appended rows exceed ``retrain_factor`` x the training
corpus; the operator then rebuilds offline with ``ivf_build`` over
``spark.read.parquet(out_path)`` and swaps the index path.

Cost per batch: O(batch) cell assignments + a probe join pruned to the
probed cells + an O(batch) append.  The stream never pays O(corpus).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

from ..functions import index_store as store
from ..functions.similarity import IvfIndex, embedding_dedup_delta, \
    ivf_append, ivf_load, ivf_staleness
from ._batch import drop_duplicates, run_gate

__all__ = ["stream_embedding_gate"]

logger = logging.getLogger(__name__)


def stream_embedding_gate(
    stream: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.9,
    n_probe: int = 4,
    k: int = 20,
    retrain_factor: float = 1.0,
    available_now: bool = True,
):
    """Start the gate on a streaming DataFrame; returns the query.

    Requires the index to exist (bootstrap with ``ivf_build(path=...)``
    over an initial corpus — the quantizer needs training vectors, so
    unlike the MinHash gate an EMPTY bootstrap is not possible; train
    on the first batch if there is no backfill corpus).  Survivor rows
    land under ``{out_path}/batch=<id>/``; read the clean corpus back
    with ``spark.read.parquet(out_path)``.
    """

    # The quantizer is never retrained inside the stream (see module
    # docstring), so centroids and the meta are IMMUTABLE for the life
    # of the query: load them on the first batch and reuse — only the
    # live vectors (appended every batch) must be read fresh.
    cached: dict = {}

    def select(batch: DataFrame) -> DataFrame:
        spark = batch.sparkSession
        if "cent" not in cached:
            cached["cent"] = ivf_load(
                spark, index_path, id_col, vec_col).centroids
            cached["meta"] = store.read_meta(spark, index_path)
        index = IvfIndex(
            cached["cent"],
            store.live(spark, index_path, cached["meta"], "vectors"),
            id_col, vec_col)
        return drop_duplicates(batch, embedding_dedup_delta(
            index, batch, threshold=threshold, n_probe=n_probe, k=k),
            id_col)

    def fold(clean: DataFrame) -> None:
        spark = clean.sparkSession
        ivf_append(spark, index_path, clean, id_col, vec_col,
                   centroids=cached["cent"])
        stale = ivf_staleness(spark, index_path, retrain_factor,
                              built_rows=cached["meta"]["built_rows"])
        if stale["needs_retrain"]:
            logger.warning(
                "IVF index at %s has grown %.1fx past its training "
                "corpus (%d appended vs %d built) — rebuild the "
                "quantizer offline with ivf_build over the landed "
                "corpus", index_path, stale["append_ratio"],
                stale["appended_rows"], stale["built_rows"])

    return run_gate(stream, out_path, checkpoint, available_now, select,
                    fold, index_path)
