"""The 64-bit hamming family: one pigeonhole rule for every signature
in a 64-bit hamming space — text SimHash (``dedup``) and the media
perceptual, byte-window and timing signatures (``multimodal``).  A
family module only computes ``(id, sh[, block...])`` from documents;
segmenting, the batch pair join, the persisted segment index and its
delta probe live here.

**Pigeonhole.**  A signature splits into ``chunks`` segments of
``seg_bits = 64 // chunks`` bits, segment ``i`` = ``(sh >> i*seg_bits)
& mask``.  Two signatures within hamming ``h`` differ in at most ``h``
segments, so when ``max_hamming < chunks`` every such pair shares one
whole ``(seg_idx, seg_val)`` bucket (and every block column).
Candidates are the pairs sharing a bucket, verified exactly with
``bit_count(sh_a ^ sh_b) <= max_hamming``.  Recall is guaranteed only
if ``max_hamming < chunks``: the batch join accepts more (pairs past
``chunks - 1`` then surface with high probability), an index build
refuses it, and a probe never verifies past its index's bound.  Only
signatures, ids and block keys shuffle, never payloads.

**Stored ``seg_key``** (on disk; changing it orphans every index).  The
index table ``segs`` holds ``(seg_key, id, sh, __ver)``, id column
``sid`` (SimHash) or ``mid`` (media), with the join key packed into one
long: ``seg_val * chunks + seg_idx`` without block columns (SimHash),
``xxhash64(__blk, seg_val * chunks + seg_idx)`` with the media block.

**Delta probe.**  ``segs`` is bucketed and sorted by ``seg_key``
(``index_store``), so a probe shuffles only the delta's segments and
reads the corpus with zero shuffle; the full signature rides on every
segment row, so verification needs no second table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import index_store as store

__all__ = ["hamming_near_dup_pairs"]


def _segments(sigs: DataFrame, id_col: str, chunks: int,
              block_cols=()) -> DataFrame:
    """``(id_col, sh, *block_cols, seg_idx, seg_val)``: one row per
    pigeonhole segment of each signature."""
    seg_bits = 64 // chunks
    mask = (1 << seg_bits) - 1
    return sigs.select(
        id_col, "sh", *block_cols,
        F.posexplode(F.array(*[
            F.shiftright(F.col("sh"), i * seg_bits).bitwiseAND(F.lit(mask))
            for i in range(chunks)
        ])).alias("seg_idx", "seg_val"))


def _keyed_segments(sigs: DataFrame, id_alias: str,
                    chunks: int) -> DataFrame:
    """``(id_alias, sh, seg_key)`` for signatures ``(id, sh, *blocks)``
    — the stored encoding (see the module docstring)."""
    id_col = sigs.columns[0]
    blocks = [c for c in sigs.columns if c not in (id_col, "sh")]
    packed = F.col("seg_val") * chunks + F.col("seg_idx")
    return _segments(sigs, id_col, chunks, blocks).select(
        F.col(id_col).alias(id_alias), "sh",
        (F.xxhash64(*blocks, packed) if blocks else packed)
        .alias("seg_key"))


def _within(pairs: DataFrame, sh_a: str, sh_b: str,
            max_hamming: int) -> DataFrame:
    """Candidate rows with their exact ``hamming``, kept when within
    ``max_hamming``."""
    return (pairs.withColumn(
                "hamming", F.bit_count(F.col(sh_a).bitwiseXOR(F.col(sh_b))))
            .filter(F.col("hamming") <= max_hamming))


def _self_pairs(segs: DataFrame, id_col: str, keys: list,
                max_hamming: int) -> DataFrame:
    """``(id_a, id_b, hamming)``, ``id_a < id_b``: the verified pairs
    of segment rows that agree on every column of ``keys``."""
    a = segs.select(F.col(id_col).alias("id_a"),
                    F.col("sh").alias("sh_a"), *keys)
    b = segs.select(F.col(id_col).alias("id_b"),
                    F.col("sh").alias("sh_b"), *keys)
    # verify BEFORE distinct: bit_count is a per-row codegen'd op, so the
    # dedup shuffle carries only true near-dups, not every bucket collision
    return (_within(a.join(b, on=keys).filter(F.col("id_a") < F.col("id_b")),
                    "sh_a", "sh_b", max_hamming)
            .select("id_a", "id_b", "hamming").distinct())


def hamming_near_dup_pairs(
    hashed: DataFrame,
    id_col: str,
    hash_col: str = "sh",
    max_hamming: int = 6,
    block_cols: tuple[str, ...] = (),
    chunks: int | None = None,
) -> DataFrame:
    """Near-dup pairs ``(id_a, id_b, hamming)`` over any 64-bit hamming
    space: pigeonhole segments, bucket self-join, exact verification
    (see the module docstring).  ``chunks`` defaults to ``max_hamming +
    1`` capped at 16.  ``block_cols`` adds equi-join blocking keys
    (e.g. a container-metadata bucket): candidates must share a block
    AND a segment, never a cross-block comparison.  Null hashes are
    skipped."""
    if chunks is None:
        chunks = max_hamming + 1 if max_hamming < 15 else 16
    hashed = hashed.select(
        F.col(id_col), F.col(hash_col).alias("sh"), *block_cols
    ).filter(F.col("sh").isNotNull())
    segs = _segments(hashed, id_col, chunks, block_cols)
    return _self_pairs(segs, id_col, ["seg_idx", "seg_val", *block_cols],
                       max_hamming)


def index_build(family: str, sigs: DataFrame, table_name: str, path: str,
                meta: dict) -> None:
    """Build a segment index of ``family`` from signatures ``(id, sh,
    *blocks)``.  ``meta`` holds ``id_col``, ``chunks``, ``max_hamming``
    (recorded as the index's recall contract), ``n_buckets`` and the
    family's own signature parameters."""
    if meta["max_hamming"] >= meta["chunks"]:
        raise ValueError(
            f"pigeonhole needs max_hamming < chunks, got "
            f"{meta['max_hamming']} >= {meta['chunks']}")
    sid = store.LAYOUTS[family].tomb_id
    segs = _keyed_segments(sigs, sid, meta["chunks"])
    store.build(sigs.sparkSession, family, path,
                {"segs": segs.select("seg_key", sid, "sh")}, meta, table_name)


def index_append(sigs: DataFrame, table_name: str, path: str, meta: dict,
                 id_col: str) -> None:
    """Fold a delta's signatures into the index at O(delta), under the
    store's append contract."""
    sid = store.LAYOUTS[meta["family"]].tomb_id
    store.append(sigs.sparkSession, path, meta, id_col,
                 {"segs": _keyed_segments(sigs, sid, meta["chunks"])},
                 table_name)


def delta_probe(sigs: DataFrame, table_name: str, path: str, meta: dict,
                max_hamming: int | None = None) -> DataFrame:
    """``(id_a, id_b, hamming, kind)`` for a delta's signatures against
    the live index (``kind = 'corpus'``: id_b is a corpus id) and within
    the delta itself (``kind = 'delta'``, id_a < id_b).  ``max_hamming``
    defaults to the index's own and may not exceed it.  The signatures
    are checkpointed eagerly: both join sides read them."""
    hmax = meta["max_hamming"] if max_hamming is None else max_hamming
    if hmax > meta["max_hamming"]:
        raise ValueError(
            f"index guarantees candidates only to hamming "
            f"{meta['max_hamming']} (chunks={meta['chunks']}); "
            f"rebuild with more chunks for {hmax}")
    family = meta["family"]
    dsegs = _keyed_segments(sigs.localCheckpoint(eager=True), "__did",
                            meta["chunks"])
    csegs = store.live(sigs.sparkSession, path, meta, "segs", table_name)
    corpus = (
        _within(dsegs.join(csegs.withColumnRenamed("sh", "__csh"),
                           on="seg_key"), "sh", "__csh", hmax)
        .select(F.col("__did").alias("id_a"),
                F.col(store.LAYOUTS[family].tomb_id).alias("id_b"),
                "hamming", F.lit("corpus").alias("kind"))
        .distinct())
    delta = _self_pairs(dsegs, "__did", ["seg_key"], hmax)
    return corpus.unionByName(delta.withColumn("kind", F.lit("delta")))
