"""Merge (upsert) sink: maintain a queryable snapshot from change batches.

The reference emits Singer RECORDs and leaves key-based upsert to the
downstream loader (its streams carry primary_keys for exactly that,
reference tap.py:934-943).  The Spark engine closes the loop for CDC:
each synced batch — e.g. a ``ChangelogSource`` increment — is applied
onto the previous snapshot with ``merge_upsert`` (one pk shuffle,
tombstones in the same window pass) and written as a NEW parquet
version; a ``_CURRENT`` pointer file flips atomically afterwards
(``os.replace``), so readers always see a complete snapshot:

    {path}/{stream}/v0/ ... vN/     immutable parquet snapshots
    {path}/{stream}/_CURRENT        text file: current version number

Crash between write and pointer flip leaves the old version current and
the half-written vN+1 orphaned — the next sync reuses the next free
version number and the bookmark was never committed (the engine commits
state only after the sink returns), so the batch replays: at-least-once
in, exactly-once effect via keyed idempotent merge.

Scale shape: one shuffle per batch on the primary key (the unavoidable
minimum for keyed merge).  Two rewrite strategies:

* ``n_buckets=None``: full snapshot rewrite per batch — right when
  snapshot size ~ working set;
* ``n_buckets=N``: the snapshot is stored partitioned by a stable key
  bucket (``pmod(xxhash64(pks), N)`` as a partition column), and each
  batch rewrites ONLY the buckets containing changed keys: the batch's
  bucket set (tiny, collected) prunes the snapshot read to those
  partition directories (partition pruning, no full scan) and the
  merge output overwrites just those directories.  Untouched buckets
  are hard-linked forward into the new version (metadata-only, no data
  copy), so versions stay immutable while per-batch cost scales with
  the TOUCHED fraction of the snapshot — the difference between
  rewriting 100 TB and rewriting 100 GB for a 0.1% churn batch.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from .confutil import MICROS_TIMESTAMPS, scoped_conf
from .operators.merge import merge_upsert

__all__ = ["merge_snapshot_write", "read_merge_snapshot",
           "list_merge_versions", "write_pruned_layout",
           "zorder_value", "write_zorder_layout", "compact_parquet"]

_SINK_META = ("_op", "_deleted")   # never stored in the snapshot
_BKT = "__bkt"


def _current_version(root: str) -> int | None:
    ptr = os.path.join(root, "_CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return int(f.read().strip())


def _stream_meta(root: str) -> dict:
    p = os.path.join(root, "_META")
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {}


def _bucket_expr(pks: Sequence[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in pks]), F.lit(n_buckets))


def read_merge_snapshot(
    spark: SparkSession,
    path: str,
    stream: str,
    version: int | None = None,
) -> DataFrame:
    """Open a snapshot of a merge-sink stream: the current one by
    default, or time-travel to an explicit retained ``version`` —
    snapshots are immutable, so any version still on disk (see
    ``keep_versions``) reads exactly as it was committed."""
    root = os.path.join(path, stream)
    cur = _current_version(root)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot under {root!r}")
    v = cur if version is None else version
    vdir = os.path.join(root, f"v{v}")
    if version is not None and not os.path.isdir(vdir):
        raise FileNotFoundError(
            f"version {version} of {stream!r} is not retained "
            f"(current={cur}; raise keep_versions to time-travel further)")
    df = spark.read.parquet(vdir)
    return df.drop(_BKT) if _BKT in df.columns else df


def list_merge_versions(path: str, stream: str) -> list[int]:
    """Retained snapshot versions of a stream, ascending (the last one
    is current unless a crash left an orphan — _CURRENT decides)."""
    root = os.path.join(path, stream)
    out = []
    if os.path.isdir(root):
        for name in os.listdir(root):
            if name.startswith("v") and name[1:].isdigit() \
                    and os.path.isdir(os.path.join(root, name)):
                out.append(int(name[1:]))
    return sorted(out)


def _link_forward(src_dir: str, dst_dir: str) -> None:
    """Hard-link every file of an untouched bucket directory into the new
    version — metadata-only carry-forward, no data copy."""
    os.makedirs(dst_dir, exist_ok=True)
    for name in os.listdir(src_dir):
        s = os.path.join(src_dir, name)
        if os.path.isfile(s):
            os.link(s, os.path.join(dst_dir, name))


def merge_snapshot_write(
    df: DataFrame,
    stream: str,
    path: str,
    pks: Sequence[str],
    order_col: str | None = None,
    delete_col: str | None = None,
    keep_versions: int = 2,
    n_buckets: int | None = None,
) -> int:
    """Apply one change batch onto the stream's snapshot; returns the new
    version number.  ``df`` carries the payload (+ optional ``_op`` /
    ``_deleted`` metadata, dropped from storage); ``order_col`` (e.g.
    ``_cursor``) must be a payload column so recency survives restarts.
    ``n_buckets`` (fixed at stream creation, recorded in ``_META``)
    switches to bucket-partitioned storage with partition-pruned
    rewrites — see module docstring.
    """
    if not pks:
        raise ValueError(f"merge sink for {stream!r} needs primary keys")
    spark = df.sparkSession
    root = os.path.join(path, stream)
    os.makedirs(root, exist_ok=True)
    if delete_col is None and "_deleted" in df.columns:
        delete_col = "_deleted"

    meta = _stream_meta(root)
    if meta:
        if n_buckets is not None and meta.get("n_buckets") != n_buckets:
            raise ValueError(
                f"{stream!r} was created with n_buckets="
                f"{meta.get('n_buckets')}; cannot rebucket to {n_buckets}")
        n_buckets = meta.get("n_buckets")
    else:
        with open(os.path.join(root, "_META"), "w") as f:
            json.dump({"n_buckets": n_buckets}, f)

    cur = _current_version(root)
    payload_cols = [c for c in df.columns if c not in _SINK_META]
    nxt = 0 if cur is None else cur + 1
    while os.path.exists(os.path.join(root, f"v{nxt}")):  # orphaned crash dir
        nxt += 1
    cur_dir = None if cur is None else os.path.join(root, f"v{cur}")
    nxt_dir = os.path.join(root, f"v{nxt}")

    if n_buckets is None:
        if cur_dir is None:
            base = spark.createDataFrame([], df.select(*payload_cols).schema)
        else:
            base = spark.read.parquet(cur_dir)
        merged = merge_upsert(base, df, pks,
                              order_col=order_col, delete_col=delete_col)
        merged.write.mode("overwrite").parquet(nxt_dir)
    else:
        # bucket set of the batch: bounded by n_buckets, tiny collect
        touched = sorted(
            r[0] for r in df.select(
                _bucket_expr(pks, n_buckets).alias(_BKT)).distinct().collect())
        if cur_dir is None:
            base = spark.createDataFrame([], df.select(*payload_cols).schema)
        else:
            # partition-pruned read: only the touched bucket directories
            base = (spark.read.parquet(cur_dir)
                    .filter(F.col(_BKT).isin(touched)).drop(_BKT))
        merged = merge_upsert(base, df, pks,
                              order_col=order_col, delete_col=delete_col)
        (merged.withColumn(_BKT, _bucket_expr(pks, n_buckets))
         .repartition(max(len(touched), 1), F.col(_BKT))
         .write.mode("overwrite").partitionBy(_BKT).parquet(nxt_dir))
        if cur_dir is not None:          # carry untouched buckets forward
            touched_dirs = {f"{_BKT}={b}" for b in touched}
            for name in os.listdir(cur_dir):
                if name.startswith(f"{_BKT}=") and name not in touched_dirs:
                    _link_forward(os.path.join(cur_dir, name),
                                  os.path.join(nxt_dir, name))

    tmp = os.path.join(root, "_CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(str(nxt))
    os.replace(tmp, os.path.join(root, "_CURRENT"))

    for name in os.listdir(root):        # best-effort retention sweep
        if name.startswith("v") and name[1:].isdigit():
            if int(name[1:]) <= nxt - max(keep_versions, 1):
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    return nxt


def write_pruned_layout(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    partition_cols: Sequence[str] | None = None,
    target_files: int | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Write parquet laid out for data skipping: range-repartition on
    ``sort_cols`` and sort within each file, so every parquet row group
    covers a DISJOINT ``sort_cols`` range and its footer min/max
    statistics prune reads.

    The concrete payoff (proven in tests via footer statistics): an
    incremental sync's cursor predicate ``ts > bookmark``, or any range
    filter on the sort key, skips whole row groups / files instead of
    scanning the table — at 100 TB the difference between reading one
    day and reading three years.  Combine with ``partition_cols``
    (coarse, directory-level pruning: dates, sources) for two skipping
    tiers; the sort handles the fine grain inside each partition.

    ``repartitionByRange`` samples the sort key for balanced output
    files (``target_files``, default = session parallelism);
    ``max_records_per_file`` optionally caps file size to bound
    row-group width for remote readers.

    Timestamps are forced to TIMESTAMP_MICROS for the write: Spark's
    default parquet timestamp encoding is INT96, which carries NO
    min/max footer statistics — a time-sorted layout would then prune
    nothing on exactly the cursor predicates it exists for (verified in
    tests by reading the footers back).
    """
    from pyspark.sql import functions as _F

    spark = df.sparkSession
    n = target_files or spark.sparkContext.defaultParallelism
    keys = [_F.col(c) for c in sort_cols]
    out = (
        df.repartitionByRange(n, *keys)
        .sortWithinPartitions(*sort_cols)
    )
    writer = out.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_cols:
        writer = writer.partitionBy(*list(partition_cols))
    with scoped_conf(spark, MICROS_TIMESTAMPS):
        writer.parquet(path)


def zorder_value(
    df: DataFrame, cols: Sequence[str], bits: int = 6
) -> "F.Column":
    """Z-order (Morton) key over ``cols``: each column is mapped to an
    equal-depth quantile bucket (``2^bits`` buckets, boundaries from one
    ``approx_percentile`` aggregate — skew-proof, unlike equal-width),
    then the bucket bits are interleaved so nearby z-values are nearby
    in EVERY dimension at once.

    Equal-depth matters: a long-tailed column under equal-width
    bucketing collapses into one bucket and its dimension stops
    contributing locality.  The bucket lookup is a fold over the
    broadcast boundary array (O(2^bits) cheap comparisons per row,
    JVM-side); ``bits`` is capped at 8 — 256 buckets per dimension is
    already far finer than any realistic file count, and the fold stays
    trivially cheap.
    """
    bits = min(max(int(bits), 1), 8)
    nb = (1 << bits) - 1  # boundary count per column
    qs = [(i + 1) / (nb + 1) for i in range(nb)]
    row = df.agg(*[
        F.percentile_approx(F.col(c).cast("double"), F.lit(qs)).alias(c)
        for c in cols
    ]).collect()[0]

    def bucket(c: str) -> "F.Column":
        bounds = [float(b) for b in (row[c] or [])]
        return F.aggregate(
            F.lit(bounds),
            F.lit(0),
            lambda acc, b: acc + F.when(
                F.col(c).cast("double") >= b, F.lit(1)).otherwise(F.lit(0)),
        )

    m = len(cols)
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        bk = bucket(c).cast("long")
        for j in range(bits):
            bit = F.shiftright(bk, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * m + i))
    return z


def write_zorder_layout(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    target_files: int | None = None,
    bits: int = 6,
) -> None:
    """Write parquet clustered on a Z-order curve over ``cols`` — the
    multi-column data-skipping layout.  :func:`write_pruned_layout`'s
    linear sort prunes on its FIRST key only; interleaving bucket bits
    makes every file's footer min/max tight on ALL ``cols``, so a
    selective filter on any of them skips most files (verified against
    the footers in tests/test_zorder.py).

    Plan: one ``approx_percentile`` pass for the quantile grid, then
    ``repartitionByRange`` on the z-value (each output file owns a
    contiguous z-range = a bounded hyper-rectangle union) with an
    in-file sort.  At 100 TB this is the layout for fact tables queried
    by several independent dimensions (time AND user AND tenant) where
    a single-key sort can serve only one of them.

    Timestamps are forced to TIMESTAMP_MICROS for the same footer-stats
    reason as :func:`write_pruned_layout` (INT96 carries no min/max).
    """
    spark = df.sparkSession
    n = target_files or spark.sparkContext.defaultParallelism
    z = zorder_value(df, cols, bits=bits)
    out = (
        df.withColumn("__z", z)
        .repartitionByRange(n, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    with scoped_conf(spark, MICROS_TIMESTAMPS):
        out.write.mode("overwrite").parquet(path)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_mb: int = 128,
    sort_cols: Sequence[str] | None = None,
) -> dict:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_mb)`` right-sized files.  Streaming
    sinks and per-batch merge writes spray small files; at 100 TB the
    resulting open/seek overhead and footer churn dominate read cost
    (the classic small-files problem), and a periodic compaction pass
    is the standard fix.

    Without ``sort_cols`` the rewrite is a ``coalesce`` — a NARROW
    dependency: no shuffle, each output task concatenates input files.
    With ``sort_cols`` it range-repartitions + sorts (one shuffle),
    restoring a stats-pruned layout (:func:`write_pruned_layout`) at
    the same time — compaction and re-clustering in one pass.

    Returns ``{"files_in", "files_out", "bytes"}``.  ``dst`` must
    differ from ``src``: the write is to a fresh directory so a crash
    mid-compaction never corrupts the source (callers swap atomically,
    e.g. the merge sink's ``_CURRENT`` pointer pattern).
    """
    from .fsutil import count_parquet_files, list_parquet_files

    if os.path.abspath(src) == os.path.abspath(dst):
        raise ValueError("compact_parquet writes to a NEW directory")
    files = list_parquet_files(src)
    total = sum(os.path.getsize(f) for f in files)
    n = max(1, -(-total // (target_mb << 20)))
    df = spark.read.parquet(src)
    if sort_cols:
        out = df.repartitionByRange(n, *[F.col(c) for c in sort_cols]) \
                .sortWithinPartitions(*sort_cols)
    else:
        out = df.coalesce(n)
    with scoped_conf(spark, MICROS_TIMESTAMPS):
        out.write.mode("overwrite").parquet(dst)
    return {"files_in": len(files), "files_out": count_parquet_files(dst),
            "bytes": total}
