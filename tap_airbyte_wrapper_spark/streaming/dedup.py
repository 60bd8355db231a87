"""Streaming near-duplicate gate: every arriving micro-batch dedups
against EVERYTHING seen so far at O(batch) cost.

The batch-side machinery already exists — a persisted bucketed
MinHash-LSH index (``functions.dedup.minhash_index_write``) and the
delta prober (``minhash_dedup_delta``).  This module closes the loop
for continuous arrival: ``foreachBatch`` probes the batch against the
index, keeps the survivors, lands them, and folds them INTO the index
(``minhash_index_append``), so the next batch dedups against them too.

Replay safety follows the gate skeleton's contract
(:func:`._batch.run_gate`): a replayed doc is already in the index and
matches ITSELF, so corpus hits with ``id_a == id_b`` are excluded from
the drop set and the replay keeps exactly the docs the first run kept.
A re-append after a crash between append and marker duplicates
postings/signatures, which never change the gate's output (candidate
pairs and the drop set are ``distinct``-ed); run
``functions.index_compact`` on the index periodically anyway — the
flat ``compact_parquet`` would drop the bucket metadata.

Cost per batch: O(batch) signatures + a bucket-co-located join against
the index (zero corpus shuffle, same plan the batch delta-dedup tests
assert) + an O(batch) append.  The stream never pays O(corpus).

Each drained batch appends a ``(batch_id, n_in, n_kept, n_dropped,
wall_seconds)`` row under ``{out}/_gate_stats`` (best-effort, see
:mod:`.stats`) — the drop-rate audit trail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.dedup import minhash_dedup_delta, minhash_index_append
from ._batch import drop_duplicates, run_gate

__all__ = ["stream_near_dup_gate", "stream_exact_dedup_gate",
           "stream_simhash_gate"]


def stream_near_dup_gate(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    index_table: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    available_now: bool = True,
):
    """Start the gate on a streaming DataFrame; returns the query.

    Requires the index to exist (bootstrap with
    ``minhash_index_write`` — on an empty corpus DataFrame is fine).
    Survivor rows land under ``{out_path}/batch=<id>/``; read the
    clean corpus back with ``spark.read.parquet(out_path)``.
    """

    def select(batch: DataFrame) -> DataFrame:
        return drop_duplicates(batch, minhash_dedup_delta(
            batch, index_table, index_path, id_col, text_col,
            threshold=threshold), id_col)

    def fold(clean: DataFrame) -> None:
        minhash_index_append(clean, index_table, index_path, id_col,
                             text_col)

    return run_gate(stream, out_path, checkpoint, available_now, select,
                    fold, index_path)


def stream_exact_dedup_gate(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    index_table: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Streaming EXACT-dedup gate: every micro-batch drops docs whose
    normalized text was already seen (in the corpus index or earlier in
    the same batch), lands the survivors, and folds their ``(fp, id)``
    rows into the persisted index — the exact-match counterpart of
    :func:`stream_near_dup_gate`, and the cheaper gate to run FIRST
    (a re-crawl corpus is mostly byte-identical repeats; the near-dup
    gate then only pays signatures for texts that are genuinely new).

    Replay safety mirrors the near-dup gate exactly: the index stores
    the survivor's id with each fingerprint, so a replayed survivor
    matches ITSELF and is kept (the drop test is "same fp, DIFFERENT
    id"), a replayed loser loses to the same min-id winner again, and
    a doc the first run dropped via the corpus index still hits that
    other-id row — the survivor set is a pure function of (batch,
    index-before-batch); the rest of the replay contract is
    :func:`._batch.run_gate`'s.  Requires a bootstrapped index
    (``fingerprint_index_write`` — an empty corpus frame is fine).
    """
    from ..functions.dedup import (
        fingerprint_dedup_delta,
        fingerprint_index_append,
    )

    def select(batch: DataFrame) -> DataFrame:
        return fingerprint_dedup_delta(batch, index_table, id_col, text_col)

    def fold(clean: DataFrame) -> None:
        fingerprint_index_append(clean, index_table, id_col, text_col)

    return run_gate(stream, out_path, checkpoint, available_now, select,
                    fold, index_path)


def stream_simhash_gate(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    index_table: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    max_hamming: int | None = None,
    available_now: bool = True,
):
    """Streaming HAMMING near-dup gate over the persisted SimHash index
    (:func:`~..functions.dedup.simhash_index_write`) — the small-edit
    counterpart of :func:`stream_near_dup_gate`: MinHash catches
    shingle-set overlap, SimHash catches token-distribution twins whose
    shingles differ (reorderings, boilerplate-wrapped bodies).  Every
    micro-batch probes at O(batch) (corpus scan bucket-co-located),
    drops docs within ``max_hamming`` of a DIFFERENT live corpus doc or
    losing a within-batch min-id contest, lands survivors, folds their
    segments into the index.

    Replay safety mirrors the other index gates: the segment rows carry
    ids, so a replayed survivor matches ITSELF (id_a == id_b corpus
    pair, not a drop), a replayed loser loses to the same winner again
    (replay contract: :func:`._batch.run_gate`).  Bootstrap with
    ``simhash_index_write`` (an empty corpus frame is fine)."""
    from ..functions.dedup import simhash_dedup_delta, simhash_index_append

    def select(batch: DataFrame) -> DataFrame:
        return drop_duplicates(batch, simhash_dedup_delta(
            batch, index_table, index_path, id_col, text_col,
            max_hamming=max_hamming), id_col)

    def fold(clean: DataFrame) -> None:
        simhash_index_append(clean, index_table, index_path, id_col,
                             text_col)

    return run_gate(stream, out_path, checkpoint, available_now, select,
                    fold, index_path)


def stream_media_dedup_gate(
    stream: DataFrame,
    id_col: str,
    media_col: str,
    index_table: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    max_hamming: int | None = None,
    available_now: bool = True,
):
    """Streaming CONTAINER-LEVEL media near-dup gate over the persisted
    media-signature index
    (:func:`~..functions.multimodal.media_sig_index_write`) — the
    decode-free asset twin of :func:`stream_simhash_gate`: every
    micro-batch of binary assets probes at O(batch) (one probe +
    byte-window-signature Arrow pass; corpus scan bucket-co-located),
    drops assets within ``max_hamming`` of a DIFFERENT live corpus
    asset (remuxed re-uploads, tail-trimmed copies) or losing a
    within-batch min-id contest, lands survivors, folds their segments
    into the index.  Assets no probe recognizes pass through — this
    gate only speaks container formats; unknown bytes are someone
    else's policy decision.

    Replay safety mirrors the other index gates: a replayed survivor
    matches ITSELF (id_a == id_b corpus pair, not a drop; replay
    contract: :func:`._batch.run_gate`).  Bootstrap with
    ``media_sig_index_write`` (an empty corpus frame is fine)."""
    from ..functions.multimodal import (media_dedup_delta,
                                        media_sig_index_append)

    def select(batch: DataFrame) -> DataFrame:
        return drop_duplicates(batch, media_dedup_delta(
            batch, index_table, index_path, id_col, media_col,
            max_hamming=max_hamming), id_col)

    def fold(clean: DataFrame) -> None:
        media_sig_index_append(clean, index_table, index_path, id_col,
                               media_col)

    return run_gate(stream, out_path, checkpoint, available_now, select,
                    fold, index_path)
