"""Streaming distribution-drift monitor: score every arriving
micro-batch's PSI against a FROZEN reference profile, appending one
audit row per (batch, column) — the continuous twin of
:func:`~..operators.quality.distribution_drift`, for the failure mode
batch monitoring catches too late: a feed that silently changes units
mid-stream passes every per-row expectation while its histogram walks
away.

The reference is profiled ONCE at stream start (bounds + bin
proportions, a driver-side dict of ``bins`` floats per column —
metadata-scale) and rides the closure; each micro-batch then pays one
conditional-aggregate pass (no shuffle beyond the batch's own
aggregation, no reference re-scan ever).  Rows land under
``{out_path}/_drift`` via the same best-effort JVM-literal append as
the gate stats; ``alert_threshold`` marks rows and logs a warning —
the caller wires real paging.

Replay safety: scoring is read-only over the batch and the frozen
profile, so a replayed batch appends an identical row; readers take
the last row per (batch_id, column) like :func:`read_gate_stats`.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame, functions as F

from ._batch import start_foreach_batch

__all__ = ["reference_profile", "stream_drift_monitor",
           "embedding_reference_mean", "stream_embedding_drift",
           "drift_reference_write", "stream_drift_gate",
           "read_drift_gate_report"]

logger = logging.getLogger(__name__)


def reference_profile(ref: DataFrame, cols: list[str],
                      bins: int = 10) -> dict:
    """Freeze a reference's per-column bounds + bin proportions.

    Two scans (bounds, then counts), both all-columns-at-once; the
    result is a plain dict — json-serializable, broadcastable, tiny:
    ``{col: {"lo": .., "width": .., "p": [bins floats], "n": int}}``.
    """
    doubles = {c: F.col(c).cast("double") for c in cols}
    b = ref.agg(*[f for c in cols for f in
                  (F.min(doubles[c]).alias(f"__lo_{c}"),
                   F.max(doubles[c]).alias(f"__hi_{c}"))]).first()
    prof: dict = {}
    aggs = []
    for c in cols:
        lo, hi = b[f"__lo_{c}"], b[f"__hi_{c}"]
        lo = float(lo) if lo is not None else 0.0
        hi = float(hi) if hi is not None else lo + 1.0
        if hi <= lo:
            hi = lo + 1.0
        width = (hi - lo) / bins
        prof[c] = {"lo": lo, "width": width}
        bucket = F.least(
            F.greatest(F.floor((doubles[c] - F.lit(lo)) / F.lit(width))
                       .cast("int"), F.lit(0)), F.lit(bins - 1))
        for i in range(bins):
            aggs.append(F.count(F.when(bucket == i, 1))
                        .alias(f"__c_{c}_{i}"))
    got = ref.agg(*aggs).first()
    for c in cols:
        counts = [got[f"__c_{c}_{i}"] for i in range(bins)]
        total = sum(counts)
        prof[c]["n"] = total
        prof[c]["p"] = [(n / total if total else 0.0) for n in counts]
    return prof


def stream_drift_monitor(
    stream: DataFrame,
    profile: dict,
    out_path: str,
    checkpoint: str,
    eps: float = 1e-6,
    alert_threshold: float = 0.25,
    available_now: bool = True,
):
    """Start the monitor; returns the streaming query.

    ``profile`` comes from :func:`reference_profile`.  Appends one
    ``(batch_id, column, psi, n_batch, alert)`` row per column per
    micro-batch under ``{out_path}/_drift``.
    """
    cols = list(profile)
    bins = len(next(iter(profile.values()))["p"])

    def monitor(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        aggs = []
        for c in cols:
            lo, width = profile[c]["lo"], profile[c]["width"]
            v = F.col(c).cast("double")
            bucket = F.least(
                F.greatest(F.floor((v - F.lit(lo)) / F.lit(width))
                           .cast("int"), F.lit(0)), F.lit(bins - 1))
            for i in range(bins):
                aggs.append(F.count(F.when(bucket == i, 1))
                            .alias(f"__c_{c}_{i}"))
        got = batch.agg(*aggs).first()
        rows = []
        for c in cols:
            counts = [got[f"__c_{c}_{i}"] for i in range(bins)]
            total = sum(counts)
            psi = 0.0
            for i in range(bins):
                p = max(profile[c]["p"][i], eps)
                q = max((counts[i] / total if total else 0.0), eps)
                psi += (p - q) * math.log(p / q)
            alert = psi > alert_threshold
            if alert:
                logger.warning(
                    "drift alert: column %s PSI %.4f > %.2f in batch %d",
                    c, psi, alert_threshold, batch_id)
            rows.append((c, round(psi, 6), total, alert))
        try:
            frames = [
                spark.range(1).select(
                    F.lit(int(batch_id)).cast("long").alias("batch_id"),
                    F.lit(c).alias("column"),
                    F.lit(psi).alias("psi"),
                    F.lit(int(total)).cast("long").alias("n_batch"),
                    F.lit(bool(alert)).alias("alert"))
                for c, psi, total, alert in rows
            ]
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f)
            out.coalesce(1).write.mode("append").parquet(
                f"{out_path}/_drift")
        except Exception:
            logger.warning("drift stats append failed for batch %d "
                           "(stream continues)", batch_id, exc_info=True)

    return start_foreach_batch(stream, monitor, checkpoint,
                               available_now)


def embedding_reference_mean(ref: DataFrame,
                             vec_col: str = "embedding") -> list:
    """Per-dimension mean of a reference embedding corpus — the frozen
    profile :func:`stream_embedding_drift` scores against.  One
    posexplode + dim-bounded aggregate; the returned list is
    dimension-sized (driver metadata, same contract as
    :func:`reference_profile`'s bin dict)."""
    rows = (ref.select(F.posexplode(F.col(vec_col)).alias("i", "x"))
            .groupBy("i").agg(F.avg("x").alias("m"))
            .orderBy("i").collect())
    return [r["m"] for r in rows]


def stream_embedding_drift(
    stream: DataFrame,
    vec_col: str,
    ref_means: list,
    out_path: str,
    checkpoint: str,
    alert_threshold: float | None = None,
    available_now: bool = True,
):
    """Embedding-space drift monitor: per micro-batch, the linear-kernel
    ``MMD^2`` between the batch's mean vector and a FROZEN reference
    mean (:func:`embedding_reference_mean`) — the representation-drift
    alarm next to the numeric-column PSI monitor ("same schema, same
    stats, but the encoder changed / the upstream started sending
    different content").  The batch twin is
    :func:`~..functions.similarity.embedding_mmd`.

    Appends one ``(batch_id, n_batch, dim, mmd2, alert)`` row per
    micro-batch under ``{out_path}/_emb_drift``.  Stateless (frozen
    reference), so a replayed batch appends an identical row; readers
    take the last row per batch_id, same as the PSI monitor.

    Cost per batch: one posexplode + dim-bounded aggregate; the
    reference rides the closure as ``dim`` floats.
    """
    ref = [float(v) for v in ref_means]
    dim = len(ref)

    def monitor(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        rows = (batch.select(
            F.posexplode(F.col(vec_col)).alias("i", "x"))
            .groupBy("i").agg(F.avg("x").alias("m"),
                              F.count(F.lit(1)).alias("n"))
            .collect())
        got = {r["i"]: r for r in rows}
        n_batch = max((r["n"] for r in rows), default=0)
        mmd2 = sum(
            (float(got[i]["m"]) - ref[i]) ** 2 if i in got else ref[i] ** 2
            for i in range(dim))
        alert = alert_threshold is not None and mmd2 > alert_threshold
        if alert:
            logger.warning(
                "embedding drift alert: MMD^2 %.6f > %.4f in batch %d",
                mmd2, alert_threshold, batch_id)
        try:
            (spark.range(1).select(
                F.lit(int(batch_id)).cast("long").alias("batch_id"),
                F.lit(int(n_batch)).cast("long").alias("n_batch"),
                F.lit(dim).cast("int").alias("dim"),
                F.lit(round(mmd2, 6)).alias("mmd2"),
                F.lit(bool(alert)).alias("alert"))
             .coalesce(1).write.mode("append")
             .parquet(f"{out_path}/_emb_drift"))
        except Exception:
            logger.warning("embedding drift append failed for batch %d "
                           "(stream continues)", batch_id, exc_info=True)

    return start_foreach_batch(stream, monitor, checkpoint,
                               available_now)


def drift_reference_write(df: DataFrame, value_col: str, path: str,
                          bins: int = 32) -> None:
    """Persist the REFERENCE distribution a :func:`stream_drift_gate`
    enforces against — the admission-control counterpart of
    :func:`reference_profile` (the monitor freezes equal-WIDTH bins in
    a driver dict for observability; the gate persists equal-MASS
    quantile bins to parquet so PSI keeps full resolution everywhere a
    quarantine decision could flip, and so the artifact survives the
    driver and is shared across restarts/queries).

    The artifact is bins-sized parquet rows ``(bin, edge, p_ref)``
    (``edge`` = the bin's upper interior boundary, null for the last
    bin) — metadata-sized by construction, loaded once per gate query.
    Same refresh policy as the DSIR model and IVF centroids: refit
    OFFLINE to a new path when the accepted baseline legitimately
    moves; never retrain in-stream."""
    vals = (df.filter(F.col(value_col).isNotNull())
            .select(F.col(value_col).cast("double").alias("__v")))
    probs = [i / bins for i in range(1, bins)]
    edges = sorted(set(vals.approxQuantile("__v", probs, 0.001))) \
        if probs else []
    bucket = _drift_bucket_expr(edges)
    counts = {int(r["__b"]): int(r["c"]) for r in
              vals.select(bucket.alias("__b"))
              .groupBy("__b").agg(F.count(F.lit(1)).alias("c"))
              .collect()}
    n = sum(counts.values())
    if n == 0:
        raise ValueError("drift_reference_write: reference has no "
                         f"non-null {value_col!r} values")
    spark = df.sparkSession
    cols = []
    for b in range(len(edges) + 1):
        edge = edges[b] if b < len(edges) else None
        cols.append(F.struct(
            F.lit(b).cast("int").alias("bin"),
            (F.lit(None).cast("double") if edge is None
             else F.lit(float(edge))).alias("edge"),
            F.lit(float(counts.get(b, 0) / n)).alias("p_ref")))
    # JVM-literal frame (tiny metadata write — no Python-RDD round-trip)
    (spark.range(1)
     .select(F.explode(F.array(*cols)).alias("s"))
     .select("s.bin", "s.edge", "s.p_ref")
     .coalesce(1).write.mode("overwrite").parquet(path))


def _drift_bucket_expr(edges):
    """Bucket id = count of interior edges <= value: a pure Catalyst
    expression over a broadcast-literal array (the cusum/IVF idiom)."""
    if not edges:
        return F.lit(0)
    arr = F.array(*[F.lit(float(e)) for e in edges])
    return F.aggregate(
        arr, F.lit(0),
        lambda acc, e: acc + F.when(F.col("__v") >= e, 1).otherwise(0))


def stream_drift_gate(
    stream: DataFrame,
    value_col: str,
    ref_path: str,
    out_path: str,
    checkpoint: str,
    max_psi: float = 0.25,
    eps: float = 1e-6,
    available_now: bool = True,
):
    """Batch-level distribution-drift ADMISSION gate — the enforcement
    half of this module (:func:`stream_drift_monitor` watches and
    alerts; this one acts): every arriving micro-batch's ``value_col``
    histogram is compared (PSI, the same eps-clamped convention as
    :func:`~..operators.quality.distribution_drift`) against the
    persisted quantile-bin reference (:func:`drift_reference_write`);
    a batch whose PSI exceeds ``max_psi`` is QUARANTINED whole
    (``_quarantine/batch=<id>``) instead of landed — the "a feed
    silently switched units" failure arrives as a whole bad batch,
    and per-row gates can't see it (every row individually looks
    plausible).  PSI rule of thumb: < 0.1 stable, 0.1-0.25 moderate,
    > 0.25 action.

    Stateless replay contract (same as the quality/media gates): the
    decision is a pure function of the batch — integer bin counts
    into a driver-side PSI, landed/quarantined under ``batch=<id>``
    with overwrite, re-drains byte-identical.  Every batch also
    appends a ``(batch_id, n, psi, landed)`` report row under
    ``_drift_gate`` (last row per batch_id wins, like
    ``_gate_stats``).  Cost per batch: O(batch) — one scan against
    the broadcast-literal edge array; the bins-sized reference loads
    once per query."""
    import os
    import time as _time

    spark = stream.sparkSession
    ref = spark.read.parquet(ref_path).orderBy("bin").collect()
    edges = [float(r["edge"]) for r in ref if r["edge"] is not None]
    p_ref = [float(r["p_ref"]) for r in ref]
    bucket = _drift_bucket_expr(edges)

    def gate(batch: DataFrame, batch_id: int) -> None:
        started = _time.time()
        batch = batch.persist()
        try:
            counts = {int(r["__b"]): int(r["c"]) for r in
                      batch.filter(F.col(value_col).isNotNull())
                      .select(F.col(value_col).cast("double")
                              .alias("__v"))
                      .select(bucket.alias("__b"))
                      .groupBy("__b").agg(F.count(F.lit(1)).alias("c"))
                      .collect()}
            n = sum(counts.values())
            psi = 0.0
            if n > 0:
                for b, pr in enumerate(p_ref):
                    pc = max(counts.get(b, 0) / n, eps)
                    pr = max(pr, eps)
                    psi += (pr - pc) * math.log(pr / pc)
            # n == 0 (empty batch / all-null values) carries ZERO
            # distributional evidence: land it with psi = 0 rather
            # than quarantining on eps-vs-reference noise (~11 at 16
            # bins — a guaranteed false alarm on an idle feed)
            landed = psi <= max_psi
            dest = (os.path.join(out_path, f"batch={batch_id}")
                    if landed else
                    os.path.join(out_path, "_quarantine",
                                 f"batch={batch_id}"))
            batch.write.mode("overwrite").parquet(dest)
            try:
                spark.range(1).select(
                    F.lit(int(batch_id)).cast("long").alias("batch_id"),
                    F.lit(int(n)).cast("long").alias("n"),
                    F.lit(round(psi, 6)).alias("psi"),
                    F.lit(bool(landed)).alias("landed"),
                    F.lit(round(_time.time() - started, 3))
                    .alias("wall_seconds"),
                    # monotonic write stamp so the report reader keeps
                    # the LATEST verdict per batch, not the slowest run
                    # (wall_seconds is a duration, not a timestamp)
                    F.lit(float(_time.time())).alias("written_at"),
                ).coalesce(1).write.mode("append").parquet(
                    os.path.join(out_path, "_drift_gate"))
            except Exception:
                logger.warning("drift gate report append failed for "
                               "batch %d (stream continues)", batch_id,
                               exc_info=True)
        finally:
            batch.unpersist()

    return start_foreach_batch(stream, gate, checkpoint,
                               available_now)


def read_drift_gate_report(spark, out_path: str) -> DataFrame:
    """The drift gate's per-batch report, deduped to the last row per
    batch_id (replays re-append; last write wins, matching the gate's
    own overwrite contract).  "Last" is the row with the greatest
    ``written_at`` wall-clock stamp; reports written before that
    column existed fall back to the old wall_seconds ordering (those
    rows are duration-distinguishable only)."""
    import os

    from pyspark.sql import Window

    report = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out_path, "_drift_gate"))
    order_col = ("written_at" if "written_at" in report.columns
                 else "wall_seconds")
    w = Window.partitionBy("batch_id").orderBy(
        F.col(order_col).desc_nulls_last(), F.col("wall_seconds").desc())
    return (report
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))
