"""The shared 64-bit hamming code (``functions/hamming.py``): the stored
``seg_key`` encodings are pinned to literals, because they are on disk
in every SimHash and media-signature index; and the batch pair join
equals a brute-force scan of all pairs whenever ``chunks >
max_hamming``, with and without a block column."""

import random

import pytest

from tap_airbyte_wrapper_spark.functions import hamming_near_dup_pairs
from tap_airbyte_wrapper_spark.functions.hamming import _keyed_segments

SIG_A = 0x0123456789ABCDEF
SIG_B = -0x7EDCBA9876543211


def _keys(spark, rows, schema, id_alias, chunks):
    sigs = spark.createDataFrame(rows, schema)
    return sorted(tuple(r) for r in
                  _keyed_segments(sigs, id_alias, chunks).collect())


def test_simhash_seg_key_is_pinned(spark):
    """``seg_val * chunks + seg_idx`` at 4 chunks."""
    got = _keys(spark, [(3, SIG_A), (4, SIG_B)], "id long, sh long",
                "sid", 4)
    assert got == [
        (3, SIG_A, 1167), (3, SIG_A, 71070), (3, SIG_A, 140973),
        (3, SIG_A, 210876),
        (4, SIG_B, 71070), (4, SIG_B, 132239), (4, SIG_B, 140973),
        (4, SIG_B, 210876)]


def test_media_seg_key_is_pinned(spark):
    """``xxhash64(__blk, seg_val * chunks + seg_idx)`` at 7 chunks."""
    got = _keys(spark, [(3, SIG_A, "mp4|320x240|1"),
                        (4, SIG_B, "mp4|320x240|0")],
                "id long, sh long, __blk string", "mid", 7)
    assert got == [
        (3, SIG_A, -7815520430780891030), (3, SIG_A, -4455541888525592313),
        (3, SIG_A, -754243649829509), (3, SIG_A, 4661443324001682292),
        (3, SIG_A, 6643070667800818545), (3, SIG_A, 6775103429294695835),
        (3, SIG_A, 8593514964368172138),
        (4, SIG_B, -9132340221261807221), (4, SIG_B, -7073314727965482400),
        (4, SIG_B, -4311913164779310845), (4, SIG_B, -4281410367565981781),
        (4, SIG_B, 45981428220206051), (4, SIG_B, 3089631931617798776),
        (4, SIG_B, 9153218187726149718)]


def _signed(v):
    return v - (1 << 64) if v >= (1 << 63) else v


def _corpus(seed=7, n_base=8, per_base=5):
    """Random 64-bit signatures, each with neighbours 0..9 bits away, in
    two blocks."""
    rng = random.Random(seed)
    rows, i = [], 0
    for _ in range(n_base):
        base = rng.getrandbits(64)
        for _ in range(per_base):
            flip = 0
            for bit in rng.sample(range(64), rng.randint(0, 9)):
                flip |= 1 << bit
            rows.append((i, _signed(base ^ flip), f"b{rng.randint(0, 1)}"))
            i += 1
    return rows


def _brute(rows, max_hamming, blocked):
    out = set()
    for ia, sa, ba in rows:
        for ib, sb, bb in rows:
            h = bin((sa ^ sb) & ((1 << 64) - 1)).count("1")
            if ia < ib and h <= max_hamming and (not blocked or ba == bb):
                out.add((ia, ib, h))
    return out


@pytest.mark.parametrize("max_hamming,chunks", [(3, None), (3, 8), (6, 7)])
@pytest.mark.parametrize("blocked", [False, True])
def test_pair_join_equals_brute_force(spark, max_hamming, chunks, blocked):
    rows = _corpus()
    df = spark.createDataFrame(rows, "id long, sh long, blk string")
    got = {tuple(r) for r in hamming_near_dup_pairs(
        df, "id", "sh", max_hamming, block_cols=("blk",) if blocked else (),
        chunks=chunks).collect()}
    want = _brute(rows, max_hamming, blocked)
    assert got == want
    assert want, "the corpus must plant pairs within the bound"
