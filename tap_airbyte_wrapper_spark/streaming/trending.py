"""Streaming heavy hitters: a Misra-Gries token sketch folded per
micro-batch into a persisted summary — the "trending terms over
everything seen so far" monitor an ingest pipeline runs next to the
drift detector (a sudden new heavy token is boilerplate injection, a
spam campaign, or a template change upstream).

Mechanism: each batch reduces to per-task MG partials (the same
batch-merge formulation :func:`~..functions.corpus.heavy_hitters`
uses, Agarwal et al. "Mergeable summaries"), merges them with the
persisted sketch by plain count addition, and — when the merged table
exceeds ``capacity`` — subtracts the (capacity+1)-th largest count
from everything and drops the non-positives.  Merged MG keeps the
global guarantee: for every token, ``sketch <= true <= sketch +
floor(N / capacity)`` over the WHOLE stream (N = total tokens seen),
so any token with true count above ``N/capacity`` is in the sketch.
Unlike the batch operator there is no exact-recount second pass (the
stream cannot rescan history), so readers get explicit ``[cnt_min,
cnt_max]`` bounds instead of exact counts.

Cost per batch: O(batch) tokenization + a merge over
``<= capacity + tasks * capacity`` summary rows; the stream never
pays O(corpus).  Driver materializations are capacity-bounded (the
eviction threshold is a ``TakeOrderedAndProject`` of ``capacity + 1``
rows).

Replay safety: a sketch fold is NOT naturally idempotent (re-adding a
batch doubles its counts), so snapshots are versioned by batch id
with an explicit PREDECESSOR pointer: processing batch ``b`` reads
the snapshot recorded in ``_prev_b`` when ``b`` was seen before
(crash replay or a fresh-checkpoint re-drain with the same batch
boundaries), else the current ``_latest`` — either way the fold
recomputes ``v=b`` from the same input and overwrites it, byte-stable.
A fresh checkpoint that re-batches the source DIFFERENTLY voids the
contract (same caveat as any at-least-once sketch); the dedup gates
don't share it only because set-union is idempotent under any
re-batching.  Marker IO goes through the Hadoop FS API (``fsutil``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from ._batch import start_foreach_batch
from .stats import append_gate_stats

__all__ = ["stream_heavy_hitters", "read_heavy_hitters"]


def _snap(out_path: str, v: int) -> str:
    return os.path.join(out_path, f"sketch_v={v}")


def stream_heavy_hitters(
    stream: DataFrame,
    text_col: str,
    out_path: str,
    checkpoint: str,
    capacity: int = 4096,
    available_now: bool = True,
):
    """Start the fold; returns the ``StreamingQuery``.  Read the
    current sketch with :func:`read_heavy_hitters`."""
    from ..fsutil import exists as _fs_exists, read_text as _fs_read, \
        write_text as _fs_write
    from ..functions.corpus import _mg_summary, words

    def fold(batch: DataFrame, batch_id: int) -> None:
        import time as _time

        started = _time.time()
        spark = batch.sparkSession
        toks = batch.select(
            F.explode(words(F.col(text_col))).alias("word"))
        partials = toks.mapInPandas(
            _mg_summary("word", capacity), "word string, n long"
        ).persist()
        try:
            batch_total = (partials.filter(F.col("word").isNull())
                           .agg(F.coalesce(F.sum("n"), F.lit(0)))
                           .collect()[0][0])
            # predecessor resolution (module docstring): a re-seen batch
            # folds from the SAME snapshot it folded from the first time
            latest_m = os.path.join(out_path, "_latest")
            prev = -1
            if _fs_exists(spark, latest_m):
                latest = int(_fs_read(spark, latest_m).strip())
                pm = os.path.join(out_path, f"_prev_{batch_id}")
                if batch_id <= latest and _fs_exists(spark, pm):
                    prev = int(_fs_read(spark, pm).strip())
                else:
                    prev = latest
            merged = partials.filter(F.col("word").isNotNull()) \
                .select("word", F.col("n").alias("cnt"))
            prev_total = 0
            if prev >= 0:
                prev_df = spark.read.parquet(_snap(out_path, prev))
                prev_total = (prev_df.filter(F.col("word").isNull())
                              .agg(F.coalesce(F.sum("cnt"), F.lit(0)))
                              .collect()[0][0])
                merged = merged.unionByName(
                    prev_df.filter(F.col("word").isNotNull()))
            merged = (merged.groupBy("word")
                      .agg(F.sum("cnt").alias("cnt")))
            # capacity eviction: subtract the (capacity+1)-th largest
            # count, drop non-positives — the standard MG batch merge.
            # TakeOrderedAndProject of capacity+1 rows: bounded driver.
            top = merged.orderBy(F.desc("cnt"), F.asc("word")) \
                .limit(capacity + 1).collect()
            if len(top) > capacity:
                sub = top[-1]["cnt"]
                merged = merged.withColumn(
                    "cnt", F.col("cnt") - F.lit(sub)
                ).filter(F.col("cnt") > 0)
            total_row = merged.sparkSession.range(1).select(
                F.lit(None).cast("string").alias("word"),
                F.lit(int(prev_total + batch_total)).cast("long")
                .alias("cnt"))
            snap = merged.select(
                "word", F.col("cnt").cast("long")).unionByName(total_row) \
                .coalesce(1).localCheckpoint(eager=True)
            snap.write.mode("overwrite").parquet(_snap(out_path, batch_id))
            _fs_write(spark, os.path.join(out_path, "_hh_meta.json"),
                      json.dumps({"capacity": capacity}))
            _fs_write(spark, os.path.join(out_path, f"_prev_{batch_id}"),
                      str(prev))
            _fs_write(spark, latest_m, str(batch_id))
            append_gate_stats(spark, out_path, batch_id,
                              int(batch_total), int(snap.count() - 1),
                              started)
        finally:
            partials.unpersist()

    return start_foreach_batch(stream, fold, checkpoint,
                               available_now)


def read_heavy_hitters(
    spark,
    out_path: str,
    min_count: int = 1,
    min_fraction: float = 0.0,
) -> DataFrame:
    """Tokens whose TRUE stream count may reach ``max(min_count,
    ceil(min_fraction * N))``: returns ``(word, cnt_min, cnt_max)``
    where ``true ∈ [cnt_min, cnt_max]`` (MG undercount bound) — a
    SUPERSET of the true heavy hitters (filter is on ``cnt_max``), the
    honest contract when no exact recount pass exists.  Raises when
    the threshold sits at or below the noise floor ``N/capacity``
    (everything would qualify and completeness means nothing), same
    guard as the batch operator."""
    import math

    from ..fsutil import exists as _fs_exists, read_text as _fs_read

    marker = os.path.join(out_path, "_latest")
    if not _fs_exists(spark, marker):
        raise FileNotFoundError(
            f"read_heavy_hitters: no _latest marker under {out_path!r} "
            "— the stream has not drained any batch yet (or out_path "
            "is wrong)")
    v = int(_fs_read(spark, marker).strip())
    meta = json.loads(
        _fs_read(spark, os.path.join(out_path, "_hh_meta.json")))
    capacity = int(meta["capacity"])
    df = spark.read.parquet(_snap(out_path, v))
    n = (df.filter(F.col("word").isNull())
         .agg(F.coalesce(F.sum("cnt"), F.lit(0))).collect()[0][0])
    thresh = max(min_count, math.ceil(min_fraction * n))
    if thresh * capacity <= n:
        raise ValueError(
            f"read_heavy_hitters: threshold {thresh} <= N/capacity "
            f"({n}/{capacity}) — raise min_count/min_fraction above "
            f"{n // capacity} or rebuild with capacity > {n // thresh}")
    err = n // capacity
    return (
        df.filter(F.col("word").isNotNull())
        .select("word", F.col("cnt").alias("cnt_min"),
                (F.col("cnt") + F.lit(int(err))).alias("cnt_max"))
        .filter(F.col("cnt_max") >= thresh)
    )
