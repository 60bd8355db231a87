"""Streaming DSIR selection gate: score every arriving micro-batch
against a PERSISTED importance model (:func:`~..functions.dsir.dsir_fit`
+ :func:`~..functions.dsir.save_dsir`, fit offline on a trusted target
corpus vs a pool snapshot) and land only documents whose importance
log-weight clears ``min_logw`` — the "does this look like the data we
want more of?" admission control an ingest pipeline runs next to the
dedup gates.

Unlike the dedup gates this one is STATELESS: the model is fixed, so a
batch's survivor set is a pure function of the batch (scores are
engine- and partitioning-deterministic — see ``functions/dsir.py``),
so replays land byte-identical output (the replay contract is
:func:`._batch.run_gate`'s).  No index grows; refresh the
model offline (refit + ``save_dsir`` to a new path) when the pool
drifts — the same never-retrain-in-stream policy as the IVF gate's
centroids.

Cost per batch: O(batch) — one gram scan of the batch with the
≤ ``buckets``-row log-ratio table broadcast.  The model loads once per
query (driver-side, two metadata-sized parquet reads) and is reused
across batches via the closure cache.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..functions.dsir import dsir_score, load_dsir
from ._batch import run_gate, start_foreach_batch
from .stats import append_gate_stats

__all__ = ["stream_dsir_gate", "stream_reservoir_sample",
           "stream_quality_gate", "stream_media_gate", "stream_blocklist_gate",
           "media_admission_condition", "read_reservoir",
           "stream_novelty_gate"]


def stream_novelty_gate(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    index_table: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    min_novelty: float = 0.5,
    available_now: bool = True,
):
    """Span-level admission gate: every micro-batch scores its n-gram
    novelty against the persisted reference-gram index
    (``functions.corpus.novelty_probe`` — O(batch), bucket-co-located
    probe), docs with ``novelty >= min_novelty`` land (carrying
    ``n_grams/n_seen/novelty``), and the survivors' grams fold into the
    index so the next batch measures against them too — the streaming
    form of "drop documents mostly stitched from text we already have"
    that exact/near-dup gates don't catch (a doc can be 80% re-pasted
    spans without any single fingerprint or MinHash band matching).

    Replay safety: the gram index records every (gram, contributor)
    posting pair, and the probe counts a gram as seen only when some
    contributor OUTSIDE the probing batch holds it — so a replayed
    batch (its grams already folded in) scores exactly what the first
    run scored; re-folding may duplicate posting rows, which probes
    are insensitive to (distinct on the bucket key) and
    ``functions.index_compact`` folds away (replay contract:
    :func:`._batch.run_gate`).  The guarantee is scoped to Structured
    Streaming's actual at-least-once contract — the IN-FLIGHT batch
    re-runs with the same boundaries; a fresh-checkpoint full re-drain
    can merge batches, and merged boundaries change which docs count as
    "outside the batch" (novelty is measured against the corpus, not
    within a batch, by design).  Bootstrap with ``novelty_index_write`` (an
    empty corpus frame is fine).
    """
    from ..functions.corpus import novelty_index_append, novelty_probe

    def select(batch: DataFrame) -> DataFrame:
        scored = novelty_probe(batch, index_table, index_path, id_col,
                               text_col)
        return batch.join(
            scored.filter(F.col("novelty") >= min_novelty)
            .select(id_col, "n_grams", "n_seen", "novelty"), id_col)

    def fold(clean: DataFrame) -> None:
        novelty_index_append(clean, index_table, index_path, id_col,
                             text_col)

    return run_gate(stream, out_path, checkpoint, available_now, select,
                    fold, index_path)


def stream_dsir_gate(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    model_path: str,
    min_logw: float,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Start the gate; returns the ``StreamingQuery``.  Survivor rows
    keep all input columns plus their ``logw`` score (downstream
    mixture weighting reuses it — no rescore)."""
    cached: dict = {}

    def select(batch: DataFrame) -> DataFrame:
        if "model" not in cached:
            cached["model"] = load_dsir(batch.sparkSession, model_path)
        scored = dsir_score(batch, cached["model"], id_col, text_col)
        return batch.join(
            scored.filter(F.col("logw") >= min_logw).select(id_col, "logw"),
            id_col)

    return run_gate(stream, out_path, checkpoint, available_now, select)


def stream_reservoir_sample(
    stream: DataFrame,
    id_col: str,
    k: int,
    out_path: str,
    checkpoint: str,
    salt: str = "",
    available_now: bool = True,
):
    """Maintain a uniform ``k``-row sample of EVERYTHING the stream has
    delivered so far — the streaming holdout carve-out ("keep 10k
    random docs for eval as the corpus grows") — at O(batch + k) per
    micro-batch, never O(corpus).

    Mechanism: bottom-k by the 48-bit md5 priority (the KMV/bottom-k
    sketch; :func:`~..functions.sampling.bottomk_sample` is the batch
    twin).  Bottom-k is a MERGEABLE summary — bottom-k(A ∪ B) =
    bottom-k(bottom-k(A) ∪ B) — so each batch folds into the persisted
    sample with one union + ``TakeOrderedAndProject`` over
    ``|batch| + k`` rows.  After any prefix of batches the snapshot
    equals ``bottomk_sample`` over the union of those batches
    (equality pinned in tests), so the stream inherits the batch
    sampler's guarantees: membership is a pure function of (id, salt),
    restart-stable, SQL-recomputable.

    Replay safety (at-least-once ``foreachBatch``): folding is
    idempotent — the priority is content-independent and bottom-k over
    a SET ignores re-delivered rows (duplicate ids share one priority
    and collapse in the id-dedup before the cut), so a replayed batch
    rewrites the same snapshot.  Snapshots land versioned under
    ``{out}/sample_v=<batch_id>/`` (a replay overwrites its own
    version); the reader follows the ``_latest`` Hadoop-FS marker,
    written AFTER the snapshot — a crash between the two replays into
    a rewrite of the same version.  Rows are assumed id-unique across
    the stream (the same contract as the dedup gates).

    Returns the ``StreamingQuery``; read the current sample with
    :func:`read_reservoir`.
    """
    from ..functions.sampling import _hash_long
    from ..fsutil import exists as _fs_exists, read_text as _fs_read, \
        write_text as _fs_write

    def fold(batch: DataFrame, batch_id: int) -> None:
        import time as _time

        started = _time.time()
        spark = batch.sparkSession
        pri = _hash_long(F.col(id_col), salt)
        cand = batch.withColumn("__pri", pri)
        latest_marker = os.path.join(out_path, "_latest")
        if _fs_exists(spark, latest_marker):
            prev = int(_fs_read(spark, latest_marker).strip())
            cand = cand.unionByName(
                spark.read.parquet(
                    os.path.join(out_path, f"sample_v={prev}")))
        n_in = batch.count()
        merged = (
            cand.dropDuplicates([id_col])
            .orderBy(F.col("__pri").asc(), F.col(id_col))
            .limit(k)
            # eager checkpoint (<= k rows): a REPLAYED batch reads the
            # snapshot version it is about to overwrite — cutting the
            # lineage here keeps the overwrite legal and the fold
            # idempotent (duplicate ids share a priority, so re-folded
            # rows land on the identical bottom-k)
            .localCheckpoint(eager=True)
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(out_path, f"sample_v={batch_id}"))
        _fs_write(spark, latest_marker, str(batch_id))
        kept = spark.read.parquet(
            os.path.join(out_path, f"sample_v={batch_id}")).count()
        append_gate_stats(spark, out_path, batch_id, n_in, kept, started)

    return start_foreach_batch(stream, fold, checkpoint, available_now)


#: threshold keys accepted per modality by :func:`stream_media_gate`
_MEDIA_RULES = {
    "min_width": ("width", ">="), "min_height": ("height", ">="),
    "max_width": ("width", "<="), "max_height": ("height", "<="),
    "min_duration_s": ("duration_s", ">="),
    "max_duration_s": ("duration_s", "<="),
    "min_sample_rate": ("sample_rate", ">="),
    "min_channels": ("channels", ">="),
    "max_channels": ("channels", "<="),
}


def media_admission_condition(meta: F.Column, image: dict | None = None,
                              video: dict | None = None,
                              audio: dict | None = None) -> F.Column:
    """Boolean Catalyst predicate over a :func:`probe_media_meta` map:
    the asset's MODALITY is classified from the probe's own keys
    (``video_codec``/``n_video_tracks`` -> video; ``sample_rate`` ->
    audio; bare ``width``/``height`` -> image), then that modality's
    threshold dict applies — keys per :data:`_MEDIA_RULES` (e.g.
    ``video={"min_width": 1280, "max_duration_s": 600}``).  A modality
    with no dict passes unconditionally; a threshold whose field the
    probe didn't fill FAILS (a video with no parseable dimensions
    cannot prove it meets a resolution floor).  Unrecognized containers
    (empty map) always fail."""
    def checks(rules: dict | None):
        if not rules:
            return F.lit(True)
        cond = F.lit(True)
        for key, bound in rules.items():
            if key not in _MEDIA_RULES:
                raise ValueError(
                    f"unknown media rule {key!r}; valid: "
                    f"{sorted(_MEDIA_RULES)}")
            field, op = _MEDIA_RULES[key]
            val = F.element_at(meta, field).cast("double")
            ok = (val >= bound) if op == ">=" else (val <= bound)
            cond = cond & F.coalesce(ok, F.lit(False))
        return cond

    is_video = F.element_at(meta, "n_video_tracks").isNotNull()
    is_audio = (~is_video) & F.element_at(meta, "sample_rate").isNotNull()
    is_image = (~is_video) & (~is_audio) \
        & F.element_at(meta, "width").isNotNull()
    return (
        F.when(is_video, checks(video))
        .when(is_audio, checks(audio))
        .when(is_image, checks(image))
        .otherwise(F.lit(False))      # unprobeable: drop
    )


def stream_media_gate(
    stream: DataFrame,
    id_col: str,
    media_col: str,
    out_path: str,
    checkpoint: str,
    image: dict | None = None,
    video: dict | None = None,
    audio: dict | None = None,
    available_now: bool = True,
):
    """Stateless multimodal admission gate: probe each micro-batch
    asset's binary payload HEADER-ONLY
    (:func:`~..functions.multimodal.probe_media_meta` — image dims,
    video container metadata, audio container metadata; no pixel/
    frame/sample decode) and land only assets meeting their
    MODALITY'S thresholds (``image=``/``video=``/``audio=`` dicts, see
    :func:`media_admission_condition` — one gate serves a mixed
    ingest stream with per-modality floors, e.g. 720p video next to
    64px thumbnails).  Unrecognized containers are DROPPED — at
    ingest time an unprobeable asset is an unusable asset.

    Stateless replay contract (:func:`._batch.run_gate`): survivors
    are a pure function of the batch.  Survivor rows keep
    all input columns plus the probe's ``media_meta`` map — the audit
    trail rides along instead of needing a re-probe."""
    from ..functions.multimodal import probe_media_meta

    def select(batch: DataFrame) -> DataFrame:
        probed = batch.withColumn(
            "media_meta", probe_media_meta(F.col(media_col)))
        return probed.filter(media_admission_condition(
            F.col("media_meta"), image, video, audio))

    return run_gate(stream, out_path, checkpoint, available_now, select)


def stream_blocklist_gate(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    phrases,
    out_path: str,
    checkpoint: str,
    fold_homoglyphs: bool = True,
    available_now: bool = True,
):
    """Stateless banned-phrase admission gate: one Aho-Corasick pass
    per micro-batch row (:func:`~..functions.text.phrase_hits` — O(text)
    regardless of blocklist size; the automaton builds once driver-side
    and rides the closure across batches), docs matching NO phrase
    land.  ``fold_homoglyphs=True`` (default) folds Cyrillic/Greek
    look-alikes first, so the classic "chеаp" evasion doesn't slip the
    gate.  Survivors keep all input columns; stateless replay contract
    (:func:`._batch.run_gate`: a pure function of the batch)."""
    from ..functions.text import fold_confusables, phrase_hits

    plist = list(phrases)

    def select(batch: DataFrame) -> DataFrame:
        txt = F.col(text_col)
        if fold_homoglyphs:
            txt = fold_confusables(txt)
        return batch.filter(F.size(phrase_hits(txt, plist)) == 0)

    return run_gate(stream, out_path, checkpoint, available_now, select)


def stream_quality_gate(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Stateless Gopher-rule admission gate: land only micro-batch rows
    whose text passes all hard quality rules
    (:func:`~..functions.text.gopher_rules`) — the cheapest gate in the
    streaming family, typically run FIRST (pure per-row Catalyst
    expressions, zero state, zero index; the survivors then pay the
    exact-dedup, near-dup and DSIR gates).

    Stateless replay contract (:func:`._batch.run_gate`): the survivor
    set is a pure function of the batch.
    Survivor rows keep all input columns plus the full ``gopher``
    rule struct (per-rule booleans — the drop-reason audit rides along
    for free instead of needing a rescore).
    """
    from ..functions.text import gopher_rules

    def select(batch: DataFrame) -> DataFrame:
        return batch.withColumn(
            "gopher", gopher_rules(F.col(text_col))
        ).filter(F.col("gopher.pass"))

    return run_gate(stream, out_path, checkpoint, available_now, select)


def read_reservoir(spark, out_path: str) -> DataFrame:
    """The current sample (follows the ``_latest`` marker); ``__pri``
    is retained so an offline job can keep folding with
    ``bottomk_sample`` semantics."""
    from ..fsutil import exists as _fs_exists, read_text as _fs_read

    marker = os.path.join(out_path, "_latest")
    if not _fs_exists(spark, marker):
        raise FileNotFoundError(
            f"read_reservoir: no _latest marker under {out_path!r} — "
            "the stream has not drained any batch yet (or out_path is "
            "wrong)")
    v = int(_fs_read(spark, marker).strip())
    return spark.read.parquet(os.path.join(out_path, f"sample_v={v}"))
