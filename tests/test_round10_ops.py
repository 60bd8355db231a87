"""Round-10 operator tests: average-rank Spearman ties, ordinal /
interval Krippendorff, progressive JPEG, container-level media near-dup.
"""

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F  # noqa: F401

FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures", "jpeg_gt")


def _read_pnm(path):
    with open(path, "rb") as f:
        magic = f.readline().strip()
        w, h = map(int, f.readline().split())
        f.readline()  # maxval
        buf = np.frombuffer(f.read(), dtype=np.uint8)
        return (buf.reshape(h, w, 3) if magic == b"P6"
                else buf.reshape(h, w, 1))


# ---------------------------------------------------------------------
# Spearman: average ranks over ties (the scipy definition)
# ---------------------------------------------------------------------

def test_spearman_average_rank_ties_matches_scipy_definition(spark):
    """x=[1,2,2,3], y=[1,2,3,3]: average ranks rx=[1,2.5,2.5,4],
    ry=[1,2,3.5,3.5] -> Pearson(rx,ry) = 3.75/4.5 = 0.833333 (equals
    scipy.stats.spearmanr).  The id-tie-break fast path on the same
    data gives 1.0 — exactly the quantized-score divergence the
    average-rank default exists to fix."""
    from tap_airbyte_wrapper_spark.operators import spearman_correlation

    df = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 2.0, 2.0), (3, 2.0, 3.0), (4, 3.0, 3.0)],
        "id long, x double, y double")
    avg = spearman_correlation(df, "x", "y", "id", ties="average").first()
    assert avg.n_items == 4
    assert avg.rho == pytest.approx(0.833333, abs=1e-6)
    fast = spearman_correlation(df, "x", "y", "id", ties="id").first()
    assert fast.rho == 1.0


def test_spearman_tie_modes_agree_when_values_distinct(spark):
    from tap_airbyte_wrapper_spark.operators import spearman_correlation

    rows = [(i, float(i), math.exp(i / 5.0)) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    a = spearman_correlation(df, "x", "y", "id", ties="average").first()
    b = spearman_correlation(df, "x", "y", "id", ties="id").first()
    assert a.rho == b.rho == 1.0
    with pytest.raises(ValueError, match="average|id"):
        spearman_correlation(df, "x", "y", "id", ties="dense")


def test_spearman_all_tied_column_yields_null_rho(spark):
    """A constant column has zero rank variance -> corr undefined
    (null), not a crash."""
    from tap_airbyte_wrapper_spark.operators import spearman_correlation

    df = spark.createDataFrame(
        [(i, 1.0, float(i)) for i in range(8)],
        "id long, x double, y double")
    got = spearman_correlation(df, "x", "y", "id", ties="average").first()
    assert got.n_items == 8 and got.rho is None


# ---------------------------------------------------------------------
# Krippendorff: ordinal / interval metrics (Krippendorff 2011 worked
# example — 4 coders x 12 units; published alphas 0.743 / 0.815 / 0.849)
# ---------------------------------------------------------------------

_KRIPP_DATA = {
    "A": [1, 2, 3, 3, 2, 1, 4, 1, 2, None, None, None],
    "B": [1, 2, 3, 3, 2, 2, 4, 1, 2, 5, None, 3],
    "C": [None, 3, 3, 3, 2, 3, 4, 2, 2, 5, 1, None],
    "D": [1, 2, 3, 3, 2, 4, 4, 1, 2, 5, 1, None],
}


def _kripp_df(spark):
    rows = [(unit, val)
            for coder, vals in _KRIPP_DATA.items()
            for unit, val in enumerate(vals) if val is not None]
    return spark.createDataFrame(rows, "item long, label int")


@pytest.mark.parametrize("metric,alpha,do_,de_", [
    ("nominal", 0.743421, 0.2, 0.779487),
    ("ordinal", 0.815388, 47.275, 256.076923),
    ("interval", 0.849107, 0.433333, 2.871795),
])
def test_krippendorff_textbook_all_metrics(spark, metric, alpha, do_, de_):
    """The canonical Krippendorff (2011) reliability data: unit 12 has
    a single rating (dropped), n.. = 40 over 11 units; pinned against
    an independent closed-form computation of the published example."""
    from tap_airbyte_wrapper_spark.operators import krippendorff_alpha

    got = krippendorff_alpha(_kripp_df(spark), "item", "label",
                             metric=metric).first()
    assert got.n_items == 11 and got.n_ratings == 40
    assert got.alpha == pytest.approx(alpha, abs=1e-6)
    assert got.do_ == pytest.approx(do_, abs=1e-6)
    assert got.de_ == pytest.approx(de_, abs=1e-6)


def test_krippendorff_metric_validation_and_degenerate(spark):
    from tap_airbyte_wrapper_spark.operators import krippendorff_alpha

    df = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 1), (2, 1)], "item long, label int")
    with pytest.raises(ValueError, match="nominal|ordinal|interval"):
        krippendorff_alpha(df, "item", "label", metric="ratio")
    # single category: de == 0 -> alpha null on every metric
    for metric in ("nominal", "ordinal", "interval"):
        got = krippendorff_alpha(df, "item", "label", metric=metric).first()
        assert got.alpha is None, metric


def test_krippendorff_ordinal_perfect_agreement(spark):
    from tap_airbyte_wrapper_spark.operators import krippendorff_alpha

    df = spark.createDataFrame(
        [(i, i % 3 + 1) for i in range(12) for _ in range(2)],
        "item long, label int")
    for metric in ("ordinal", "interval"):
        got = krippendorff_alpha(df, "item", "label", metric=metric).first()
        assert got.alpha == 1.0, metric

# ---------------------------------------------------------------------
# Progressive JPEG (SOF2) decode vs external libjpeg ground truth
# ---------------------------------------------------------------------

PROG_CASES = [
    # (fixture stem, max per-pixel diff, mean diff bound)
    ("jpeg_gt_prog_444_q90", 4, 1.0),
    ("jpeg_gt_prog_420_q75", 8, 1.0),
    ("jpeg_gt_prog_420_rst", 12, 1.0),
    ("jpeg_gt_prog_gray_q85", 4, 1.0),
]


@pytest.mark.parametrize("stem,maxdiff,meandiff", PROG_CASES)
def test_progressive_decode_matches_libjpeg_ground_truth(
        stem, maxdiff, meandiff):
    """Progressive fixtures were ENCODED by libjpeg
    (jpeg_simple_progression: DC first+refine, spectral AC bands,
    successive-approximation refines) and their reference pixels
    DECODED by libjpeg (scripts/gen_jpeg_fixture.c) — same
    external-ground-truth discipline as the baseline cases, exercising
    EOB runs, AC refinement correction bits, DC bit appends, 4:2:0
    interleaved DC scans, restart markers inside progressive scans,
    and the grayscale single-component path."""
    from tap_airbyte_wrapper_spark.functions.jpeg import decode_jpeg

    jpg = open(os.path.join(FIXDIR, stem + ".jpg"), "rb").read()
    gt = _read_pnm(os.path.join(FIXDIR, stem + ".ppm"))
    w, h, px = decode_jpeg(jpg)
    assert (w, h) == (gt.shape[1], gt.shape[0]) == (64, 48)
    assert px.shape[2] == gt.shape[2]
    d = np.abs(px.astype(np.int32) - gt.astype(np.int32))
    assert d.max() <= maxdiff, f"max pixel diff {d.max()} > {maxdiff}"
    assert d.mean() <= meandiff


def test_progressive_is_sof2_and_multiscan():
    """Sanity that the fixtures really are progressive: SOF2 marker
    present and more than one SOS."""
    jpg = open(os.path.join(FIXDIR, "jpeg_gt_prog_420_q75.jpg"),
               "rb").read()
    assert b"\xff\xc2" in jpg and b"\xff\xc0" not in jpg
    assert jpg.count(b"\xff\xda") > 1


def test_progressive_truncation_raises_value_error():
    """Truncating a progressive stream anywhere must raise ValueError
    (the decode contract), never decode garbage or crash with a
    different exception type."""
    from tap_airbyte_wrapper_spark.functions.jpeg import decode_jpeg

    jpg = open(os.path.join(FIXDIR, "jpeg_gt_prog_444_q90.jpg"),
               "rb").read()
    for cut in (64, len(jpg) // 3, len(jpg) // 2, len(jpg) - 30):
        with pytest.raises(ValueError):
            decode_jpeg(jpg[:cut])


def test_progressive_mutation_fuzz_value_error_only():
    """Seeded byte-mutation fuzz over a progressive stream: decode
    must either succeed or raise ValueError — no other exception type
    escapes (same contract the round-9 fuzz pinned for baseline)."""
    import random

    from tap_airbyte_wrapper_spark.functions.jpeg import decode_jpeg

    jpg = bytearray(open(os.path.join(
        FIXDIR, "jpeg_gt_prog_420_q75.jpg"), "rb").read())
    rng = random.Random(4210)
    for _ in range(400):
        mutated = bytearray(jpg)
        for _ in range(rng.randint(1, 4)):
            mutated[rng.randrange(len(mutated))] = rng.randrange(256)
        try:
            decode_jpeg(bytes(mutated))
        except ValueError:
            pass
    # and a decimated tail: progressive scans chopped mid-entropy
    for frac in (0.6, 0.75, 0.9):
        try:
            decode_jpeg(bytes(jpg[:int(len(jpg) * frac)]))
        except ValueError:
            pass

# ---------------------------------------------------------------------
# Container-level media near-dup (no decode): remux + trim detection
# ---------------------------------------------------------------------

def _essence(seed: int, n: int = 2300) -> bytes:
    import hashlib
    out = b""
    i = 0
    while len(out) < n:
        out += hashlib.md5(f"{seed}:{i}".encode()).digest()
        i += 1
    return out[:n]


def _mp4_with_essence(w, h, dur_ms, seed, remux_junk=None, trim=0):
    """A real MP4 stub whose trailing mdat carries deterministic
    essence bytes; remux_junk inserts a free box between ftyp and moov
    (a metadata edit BEFORE the essence); trim cuts tail bytes."""
    import struct

    from tap_airbyte_wrapper_spark.functions.video import mp4_stub

    stub = mp4_stub(w, h, dur_ms)
    body = stub[:-16]  # drop the stock 8-byte mdat box
    if remux_junk is not None:
        ftyp_len = struct.unpack(">I", stub[:4])[0]
        free = struct.pack(">I", 8 + len(remux_junk)) + b"free" + remux_junk
        body = stub[:ftyp_len] + free + stub[ftyp_len:-16]
    ess = _essence(seed)
    payload = body + struct.pack(">I", 8 + len(ess)) + b"mdat" + ess
    return payload[:len(payload) - trim] if trim else payload


def test_media_window_sig_remux_and_trim_invariance(spark):
    """Same essence with edited front metadata -> identical signature
    (anchor skips the metadata region); tail trim that stays beyond
    the sampled windows -> identical; different essence -> ~32 bits
    apart."""
    from tap_airbyte_wrapper_spark.functions import media_window_sig

    rows = [
        (1, _mp4_with_essence(320, 240, 7000, seed=99)),
        (2, _mp4_with_essence(320, 240, 7000, seed=99,
                              remux_junk=b"edited-by-tool-x" * 3)),
        (3, _mp4_with_essence(320, 240, 7000, seed=99, trim=150)),
        (4, _mp4_with_essence(320, 240, 7000, seed=100)),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, media binary")
    got = {r.id: r.sh for r in df.select(
        "id", media_window_sig(
            F.col("media"), window=16, stride=32).alias("sh")).collect()}
    assert got[1] == got[2] == got[3]
    assert got[5] is None
    assert got[4] is not None and got[4] != got[1]
    assert bin((got[1] ^ got[4]) & ((1 << 64) - 1)).count("1") > 15


def test_media_container_near_dup_pairs_planted(spark):
    """Planted corpus: 10 distinct recordings, one remuxed re-upload
    and one tail-trimmed copy -> exactly those two pairs come back,
    and the candidate generation is blocked equi-join (no cartesian
    anywhere in the plan)."""
    from tap_airbyte_wrapper_spark.functions import (
        media_container_near_dup_pairs)

    rows = [(i, _mp4_with_essence(320, 240, 5000 + (i % 4) * 1000,
                                  seed=i)) for i in range(10)]
    rows.append((100, _mp4_with_essence(320, 240, 5000 + (3 % 4) * 1000,
                                        seed=3, remux_junk=b"retagged")))
    rows.append((101, _mp4_with_essence(320, 240, 5000 + (7 % 4) * 1000,
                                        seed=7, trim=120)))
    df = spark.createDataFrame(rows, "id long, media binary")
    pairs = media_container_near_dup_pairs(
        df, "id", "media", max_hamming=6, window=16, stride=32)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" \
        not in plan
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got == {(3, 100): 0, (7, 101): 0}


def test_media_container_near_dup_blocks_respected(spark):
    """Identical essence under DIFFERENT declared resolution must NOT
    pair (the metadata block is part of the gate's identity), and
    assets no probe recognizes are skipped, not crashed on."""
    from tap_airbyte_wrapper_spark.functions import (
        media_container_near_dup_pairs)

    rows = [
        (1, _mp4_with_essence(320, 240, 5000, seed=1)),
        (2, _mp4_with_essence(640, 480, 5000, seed=1)),
        (3, b"\x00" * 4096),
    ]
    df = spark.createDataFrame(rows, "id long, media binary")
    pairs = media_container_near_dup_pairs(
        df, "id", "media", window=16, stride=32)
    assert pairs.count() == 0

# ---------------------------------------------------------------------
# BM25 persisted-index search: query-term literal pushdown
# ---------------------------------------------------------------------

def test_bm25_index_search_bucket_prunes_postings_scan(spark, tmp_path):
    """The x100 study showed a broadcast join scans the WHOLE postings
    table; bm25_index_search now pushes the query-term set down as a
    literal isin, so the term-bucketed scan reads only buckets that
    can hold query terms (SelectedBucketsCount in the plan) — and the
    results stay identical to fresh bm25_topk (the round-7 equality
    test runs through the same path)."""
    from tap_airbyte_wrapper_spark.functions import (
        bm25_index_search, bm25_index_write)

    docs = spark.createDataFrame(
        [(i, f"tok{i % 50} alpha body word{i % 11}") for i in range(200)],
        "doc_id long, text string")
    queries = spark.createDataFrame(
        [(0, "tok3"), (1, "tok17")], "query_id int, query_text string")
    bm25_index_write(docs, "bm25prune", str(tmp_path / "idx"),
                     "doc_id", "text", n_buckets=8)
    res = bm25_index_search(spark, "bm25prune", queries,
                            str(tmp_path / "idx"), k=5)
    plan = res._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"SelectedBucketsCount: (\d+) out of 8", plan)
    assert m, "postings scan is not bucket-pruned"
    assert int(m.group(1)) < 8
    assert res.count() > 0

# ---------------------------------------------------------------------
# PNG decoder extension: palette / tRNS / Adam7 / 1-2-4-16 bit vs libpng
# ---------------------------------------------------------------------

PNG_FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures", "png_gt")

PNG_CASES = [
    # stem, expected channels
    ("png_gt_rgb8_adam7", 3),
    ("png_gt_rgba8_adam7", 4),
    ("png_gt_pal8_trns", 4),
    ("png_gt_pal4", 3),
    ("png_gt_gray1", 1),
    ("png_gt_gray2_adam7", 1),
    ("png_gt_gray16", 1),
]


def _read_px(path):
    with open(path, "rb") as f:
        assert f.readline().strip() == b"PX"
        w, h, ch = map(int, f.readline().split())
        return np.frombuffer(f.read(), dtype=np.uint8).reshape(h, w, ch)


@pytest.mark.parametrize("stem,channels", PNG_CASES)
def test_png_decode_matches_libpng_ground_truth(stem, channels):
    """Fixtures were ENCODED by libpng and reference samples DECODED
    by libpng with the conventions the Python decoder documents
    (strip-16 high byte, scaled gray 1/2/4 expansion, palette ->
    RGB(A)) — scripts/gen_png_fixture.c.  61x37 dims deliberately hit
    the ragged Adam7 pass edges.  Match is bit-EXACT (PNG is
    lossless)."""
    from tap_airbyte_wrapper_spark.functions.codecs import decode_png

    png = open(os.path.join(PNG_FIXDIR, stem + ".png"), "rb").read()
    gt = _read_px(os.path.join(PNG_FIXDIR, stem + ".px"))
    w, h, px = decode_png(png)
    assert (w, h) == (61, 37) and px.shape == gt.shape
    assert px.shape[2] == channels
    assert (px == gt).all()


def test_png_mutation_fuzz_value_error_only():
    """Seeded byte-mutation + truncation fuzz across every fixture
    class: decode succeeds or raises ValueError — no IndexError /
    zlib.error / numpy reshape errors escape."""
    import random

    from tap_airbyte_wrapper_spark.functions.codecs import decode_png

    rng = random.Random(1007)
    for stem, _ in PNG_CASES:
        data = bytearray(open(os.path.join(
            PNG_FIXDIR, stem + ".png"), "rb").read())
        for _ in range(150):
            mutated = bytearray(data)
            for _ in range(rng.randint(1, 3)):
                mutated[rng.randrange(len(mutated))] = rng.randrange(256)
            try:
                decode_png(bytes(mutated))
            except ValueError:
                pass
        for frac in (0.3, 0.6, 0.9):
            try:
                decode_png(bytes(data[:int(len(data) * frac)]))
            except ValueError:
                pass

# ---------------------------------------------------------------------
# Persisted media-signature index (sixth index family) + streaming gate
# ---------------------------------------------------------------------

SIG_KW = dict(window=16, stride=32)


@pytest.fixture()
def media_index(spark, tmp_path):
    from tap_airbyte_wrapper_spark.functions import media_sig_index_write

    rows = [(i, _mp4_with_essence(320, 240, 5000 + (i % 4) * 1000,
                                  seed=i)) for i in range(20)]
    corpus = spark.createDataFrame(rows, "asset_id long, media binary")
    path = str(tmp_path / "m_idx")
    media_sig_index_write(corpus, "m10_t", path, "asset_id", "media",
                          n_buckets=4, **SIG_KW)
    yield spark, corpus, path
    spark.sql("DROP TABLE IF EXISTS m10_t_segs")


def test_media_delta_finds_corpus_and_delta_dups(media_index):
    from tap_airbyte_wrapper_spark.functions import media_dedup_delta

    spark, corpus, path = media_index
    delta = spark.createDataFrame([
        # remuxed re-upload of asset 7 (same essence, edited metadata)
        (1007, _mp4_with_essence(320, 240, 5000 + (7 % 4) * 1000,
                                 seed=7, remux_junk=b"retag")),
        # brand-new recording...
        (1008, _mp4_with_essence(320, 240, 6000, seed=991)),
        # ...and its tail-trimmed twin within the same batch
        (1009, _mp4_with_essence(320, 240, 6000, seed=991, trim=80)),
        # unrecognizable bytes: skipped, never crashed on
        (1010, b"\x01\x02" * 600),
    ], "asset_id long, media binary")
    rows = media_dedup_delta(delta, "m10_t", path, "asset_id",
                             "media").collect()
    kinds = {(r.id_a, r.id_b): (r.kind, r.hamming) for r in rows}
    assert kinds[(1007, 7)] == ("corpus", 0)
    assert kinds[(1008, 1009)] == ("delta", 0)
    ids = {r.id_a for r in rows} | {r.id_b for r in rows}
    assert 1010 not in ids


def test_media_delta_agrees_with_batch_operator(media_index):
    from tap_airbyte_wrapper_spark.functions import (
        media_container_near_dup_pairs, media_dedup_delta)

    spark, corpus, path = media_index
    delta = spark.createDataFrame([
        (1003, _mp4_with_essence(320, 240, 5000 + (3 % 4) * 1000,
                                 seed=3, remux_junk=b"x")),
        (1011, _mp4_with_essence(320, 240, 9000, seed=777)),
    ], "asset_id long, media binary")
    inc = {(r.id_a, r.id_b, r.hamming) for r in media_dedup_delta(
        delta, "m10_t", path, "asset_id", "media").collect()
        if r.id_a != r.id_b}
    both = corpus.unionByName(delta)
    batch = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b), r.hamming)
        if max(r.id_a, r.id_b) >= 1000 and min(r.id_a, r.id_b) < 1000
        else (r.id_a, r.id_b, r.hamming)
        for r in media_container_near_dup_pairs(
            both, "asset_id", "media", **SIG_KW).collect()
        if r.id_a >= 1000 or r.id_b >= 1000}
    assert inc == batch


def test_media_delta_replay_self_match_and_corpus_no_shuffle(media_index):
    from tap_airbyte_wrapper_spark.functions import media_dedup_delta

    spark, corpus, path = media_index
    replay = corpus.filter("asset_id = 3")
    got = {(r.id_a, r.id_b, r.hamming) for r in media_dedup_delta(
        replay, "m10_t", path, "asset_id", "media").collect()}
    assert (3, 3, 0) in got
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = media_dedup_delta(replay, "m10_t", path, "asset_id",
                                "media")
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SelectedBucketsCount" in plan
    # delta-side exchanges only (segments into the index bucketing,
    # the delta self-join's two sides, the two pair distincts); a
    # corpus-side shuffle would add one more
    assert plan.count("Exchange hashpartitioning") <= 5, plan


def test_media_index_replace_delete_compact(media_index, tmp_path):
    from tap_airbyte_wrapper_spark.functions import (
        media_dedup_delta, index_compact, index_delete,
        media_sig_index_append)

    spark, corpus, path = media_index
    # replace asset 5 with a different recording: probes of the OLD
    # essence stop matching, probes of the NEW essence match
    new5 = spark.createDataFrame(
        [(5, _mp4_with_essence(320, 240, 6000, seed=505))],
        "asset_id long, media binary")
    index_delete(spark, path, new5.select("asset_id"))
    media_sig_index_append(new5, "m10_t", path, "asset_id", "media")
    probe = spark.createDataFrame([
        (9005, _mp4_with_essence(320, 240, 6000, seed=505,
                                 remux_junk=b"z")),
        (9006, _mp4_with_essence(320, 240, 5000 + (5 % 4) * 1000,
                                 seed=5)),
    ], "asset_id long, media binary")
    got = {(r.id_a, r.id_b) for r in media_dedup_delta(
        probe, "m10_t", path, "asset_id", "media").collect()}
    assert (9005, 5) in got and (9006, 5) not in got
    # delete 5 entirely: nothing matches it any more
    index_delete(
        spark, path,
        spark.createDataFrame([(5,)], "mid long"))
    got2 = {(r.id_a, r.id_b) for r in media_dedup_delta(
        probe, "m10_t", path, "asset_id", "media").collect()}
    assert not any(b == 5 for _a, b in got2)
    # compact folds the tombstones; probe results unchanged
    stats = index_compact(spark, path, str(tmp_path / "m_idx_c"),
                          "m10_t", "m10c_t")
    assert stats["files_out"] <= stats["files_in"]
    got3 = {(r.id_a, r.id_b) for r in media_dedup_delta(
        probe, "m10c_t", str(tmp_path / "m_idx_c"), "asset_id",
        "media").collect()}
    assert got3 == got2
    spark.sql("DROP TABLE IF EXISTS m10c_t_segs")


def test_stream_media_dedup_gate_and_accumulation(spark, tmp_path):
    """E2E: corpus-known re-uploads drop, within-batch twins lose the
    min-id contest, survivors land AND fold into the index so the next
    batch measures against them."""
    from tap_airbyte_wrapper_spark.functions import media_sig_index_write
    from tap_airbyte_wrapper_spark.streaming import stream_media_dedup_gate

    corpus = spark.createDataFrame(
        [(1, _mp4_with_essence(320, 240, 7000, seed=42))],
        "asset_id long, media binary")
    idx_path = str(tmp_path / "idx")
    media_sig_index_write(corpus, "m10g_t", idx_path, "asset_id",
                          "media", n_buckets=2, **SIG_KW)
    src = tmp_path / "landing"
    src.mkdir()
    out = str(tmp_path / "clean")
    schema = "asset_id long, media binary"
    spark.createDataFrame([
        (10, _mp4_with_essence(320, 240, 7000, seed=42,
                               remux_junk=b"reup")),      # corpus dup
        (11, _mp4_with_essence(320, 240, 8000, seed=77)),  # fresh
        (12, _mp4_with_essence(320, 240, 8000, seed=77,
                               trim=64)),                  # twin of 11
    ], schema).coalesce(1).write.mode("append").parquet(str(src))

    def drain():
        q = stream_media_dedup_gate(
            spark.readStream.schema(schema).parquet(str(src)),
            "asset_id", "media", "m10g_t", idx_path, out,
            checkpoint=str(tmp_path / "ck"))
        q.awaitTermination(120)

    drain()
    assert sorted(r.asset_id
                  for r in spark.read.parquet(out).collect()) == [11]
    spark.createDataFrame([
        (20, _mp4_with_essence(320, 240, 8000, seed=77,
                               remux_junk=b"again")),      # dup of landed 11
        (21, _mp4_with_essence(320, 240, 9500, seed=99)),  # new
    ], schema).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    assert sorted(r.asset_id
                  for r in spark.read.parquet(out).collect()) == [11, 21]
    spark.sql("DROP TABLE IF EXISTS m10g_t_segs")

# ---------------------------------------------------------------------
# EXIF probe: hand-pinned TIFF walk, both byte orders, never-raise
# ---------------------------------------------------------------------

def test_exif_hand_pinned_little_endian_bytes():
    """A hand-written (NOT builder-produced — breaks writer/reader
    circularity) little-endian TIFF with one IFD0: orientation=3.
    Layout per JEITA CP-3451: II, magic 42, IFD0 at offset 8, one
    12-byte entry (tag 0x0112, type SHORT, count 1, value inline)."""
    import struct

    from tap_airbyte_wrapper_spark.functions.exif import exif_metadata

    tiff = (b"II" + struct.pack("<H", 42) + struct.pack("<I", 8)
            + struct.pack("<H", 1)
            + struct.pack("<HHI", 0x0112, 3, 1)
            + struct.pack("<H", 3) + b"\x00\x00"
            + struct.pack("<I", 0))
    exif = b"Exif\x00\x00" + tiff
    jpg = b"\xff\xd8\xff\xe1" + struct.pack(">H", 2 + len(exif)) \
        + exif + b"\xff\xd9"
    assert exif_metadata(jpg) == {"orientation": 3}


def test_exif_both_byte_orders_and_long_values():
    from tap_airbyte_wrapper_spark.functions.exif import (
        exif_app1, exif_metadata)

    for bo in ("II", "MM"):
        seg = exif_app1(orientation=6, make="ACME Cameras Incorporated",
                        model="X9", datetime_original="2024:03:05 10:11:12",
                        byte_order=bo)
        got = exif_metadata(b"\xff\xd8" + seg + b"\xff\xd9")
        assert got == {
            "orientation": 6, "make": "ACME Cameras Incorporated",
            "model": "X9", "datetime_original": "2024:03:05 10:11:12",
        }, bo


def test_exif_never_raises_on_garbage():
    import random

    from tap_airbyte_wrapper_spark.functions.exif import (
        exif_app1, exif_metadata)

    assert exif_metadata(None) is None
    assert exif_metadata(b"") is None
    assert exif_metadata(b"\xff\xd8\xff\xd9") is None
    base = bytearray(b"\xff\xd8" + exif_app1(5, "mk", "md",
                                             "2024:01:01 00:00:00")
                     + b"\xff\xd9")
    rng = random.Random(110)
    for _ in range(500):
        m = bytearray(base)
        for _ in range(rng.randint(1, 4)):
            m[rng.randrange(len(m))] = rng.randrange(256)
        exif_metadata(bytes(m))  # any exception type fails the test
    for cut in range(0, len(base), 7):
        exif_metadata(bytes(base[:cut]))

# ---------------------------------------------------------------------
# WEBP / BMP header dims + orientation-normalized perceptual hash
# ---------------------------------------------------------------------

def test_webp_and_bmp_header_dimensions():
    import struct

    from tap_airbyte_wrapper_spark.functions.codecs import image_dimensions

    def riff(fourcc, chunk):
        body = b"WEBP" + fourcc + struct.pack("<I", len(chunk)) + chunk
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # VP8X extended: 24-bit (w-1)/(h-1)
    vp8x = bytes([0x10]) + b"\x00\x00\x00" \
        + (639).to_bytes(3, "little") + (479).to_bytes(3, "little")
    assert image_dimensions(riff(b"VP8X", vp8x)) == (640, 480)
    # VP8L lossless: signature 0x2F + packed 14-bit dims
    bits = (99) | (49 << 14)
    vp8l = bytes([0x2F]) + bits.to_bytes(4, "little")
    assert image_dimensions(riff(b"VP8L", vp8l)) == (100, 50)
    # VP8 lossy key frame: start code 9D 01 2A + 14-bit w/h
    vp8 = b"\x00\x00\x00" + b"\x9d\x01\x2a" \
        + struct.pack("<HH", 320, 240) + b"\x00" * 4
    assert image_dimensions(riff(b"VP8 ", vp8)) == (320, 240)
    # BMP BITMAPINFOHEADER, including the top-down negative-height form
    def bmp(w, h):
        return (b"BM" + struct.pack("<IHHI", 122, 0, 0, 122)
                + struct.pack("<IiiHH", 40, w, h, 1, 24) + b"\x00" * 40)
    assert image_dimensions(bmp(800, 600)) == (800, 600)
    assert image_dimensions(bmp(800, -600)) == (800, 600)
    # corrupt/unknown stays None
    assert image_dimensions(b"RIFF\x00\x00\x00\x00WAVEfmt ") is None
    assert image_dimensions(b"BMxx") is None


def test_image_ahash_orientation_normalized(spark):
    """A camera-rotated re-upload (stored pixels rotated 90 deg CCW,
    orientation tag 6 so viewers rotate back) hashes NEXT TO its
    original with normalize_orientation=True and ~half the bits away
    without it."""
    import struct

    from tap_airbyte_wrapper_spark.functions import (encode_jpeg,
                                                     image_ahash)
    from tap_airbyte_wrapper_spark.functions.exif import exif_app1

    # asymmetric gradient: bright top-left corner, dark elsewhere
    px = np.zeros((64, 64, 3), dtype=np.uint8)
    yy, xx = np.mgrid[0:64, 0:64]
    px[..., 0] = np.clip(255 - 3 * (xx + 2 * yy), 0, 255)
    px[..., 1] = np.clip(255 - 5 * xx, 0, 255)
    px[..., 2] = 30
    orig = encode_jpeg(px, quality=95)
    # stored = rot90 CCW(original); tag 6 -> display rotates 90 CW back
    stored = np.ascontiguousarray(np.rot90(px, 1))
    rot = bytearray(encode_jpeg(stored, quality=95))
    rot[2:2] = exif_app1(orientation=6)  # insert APP1 after SOI
    rot = bytes(rot)

    df = spark.createDataFrame([(1, orig), (2, rot)],
                               "id long, media binary")
    norm = {r.id: r.sh for r in df.select("id", image_ahash(
        F.col("media"), "image/jpeg",
        normalize_orientation=True).alias("sh")).collect()}
    raw = {r.id: r.sh for r in df.select("id", image_ahash(
        F.col("media"), "image/jpeg").alias("sh")).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(norm[1], norm[2]) <= 4
    assert ham(raw[1], raw[2]) > 12

# ---------------------------------------------------------------------
# Kendall tau-b: grid-decomposed exact vs independent brute force
# ---------------------------------------------------------------------

def _kendall_brute(x, y):
    sx = np.sign(x[:, None] - x[None, :])
    sy = np.sign(y[:, None] - y[None, :])
    n = len(x)
    cmd = int((sx * sy)[np.triu_indices(n, 1)].sum())
    n0 = n * (n - 1) // 2

    def tp(v):
        _, c = np.unique(v, return_counts=True)
        return int((c * (c - 1) // 2).sum())

    denom = float(np.sqrt(float(n0 - tp(x)) * (n0 - tp(y))))
    return cmd, (round(cmd / denom, 6) if denom > 0 else None)


@pytest.mark.parametrize("seed,n,buckets", [
    (7, 800, 8), (11, 500, 3), (13, 900, 64), (17, 60, 5),
])
def test_kendall_tau_matches_brute_force(spark, seed, n, buckets):
    """The grid decomposition (cross-bucket prefix sums + per-bucket
    local sums) must be EXACT for any bucket count — boundaries only
    affect balance, never the value.  Brute force is an independent
    O(n^2) numpy computation; data has heavy ties on both sides."""
    from tap_airbyte_wrapper_spark.operators import kendall_tau

    rng = np.random.RandomState(seed)
    x = rng.randint(0, 40, n).astype(float)
    y = (x * 2 + rng.randint(0, 30, n)).astype(float) \
        * rng.choice([1.0, -1.0])
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)],
        "a double, b double")
    got = kendall_tau(df, "a", "b", n_buckets=buckets).first()
    cmd, tau = _kendall_brute(x, y)
    assert got.n_items == n
    assert got.c_minus_d == cmd
    assert got.tau == pytest.approx(tau, abs=1e-9)


def test_kendall_tau_edges(spark):
    from tap_airbyte_wrapper_spark.operators import kendall_tau

    # perfect monotone -> 1; reversed -> -1
    df = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(50)],
        "a double, b double")
    assert kendall_tau(df, "a", "b").first().tau == 1.0
    rev = df.withColumn("b", -F.col("b"))
    assert kendall_tau(rev, "a", "b").first().tau == -1.0
    # constant column -> null tau, zero numerator
    const = spark.createDataFrame(
        [(1.0, float(i)) for i in range(10)], "a double, b double")
    got = kendall_tau(const, "a", "b").first()
    assert got.tau is None and got.c_minus_d == 0
    # nulls drop; empty input survives
    holes = spark.createDataFrame(
        [(1.0, 2.0), (None, 3.0), (2.0, None), (4.0, 5.0)],
        "a double, b double")
    assert kendall_tau(holes, "a", "b").first().n_items == 2
    empty = holes.filter("a > 100")
    got = kendall_tau(empty, "a", "b").first()
    assert got.n_items == 0 and got.tau is None

def test_mann_kendall_trend_detection(spark):
    """Planted monotone-plus-noise series -> increasing; reversed ->
    decreasing; pure noise -> no_trend.  Variance pinned against the
    hand-computed no-ties closed form n(n-1)(2n+5)/18."""
    from tap_airbyte_wrapper_spark.operators import mann_kendall_trend

    rows = [(float(i), float(i) * 0.5 + ((i * 37) % 11) * 0.3)
            for i in range(60)]
    up = spark.createDataFrame(rows, "t double, v double")
    got = mann_kendall_trend(up, "t", "v").first()
    assert got.trend == "increasing" and got.z > 1.96
    # no ties anywhere in t; v may tie only if the arithmetic collides
    n = 60
    assert got.var_s <= n * (n - 1) * (2 * n + 5) / 18.0
    down = up.withColumn("v", -F.col("v"))
    assert mann_kendall_trend(down, "t", "v").first().trend == \
        "decreasing"
    noise = spark.createDataFrame(
        [(float(i), float((i * 7919) % 97)) for i in range(60)],
        "t double, v double")
    got = mann_kendall_trend(noise, "t", "v").first()
    assert got.trend == "no_trend" and abs(got.z) < 1.96


def test_mann_kendall_hand_computed_small():
    """Textbook-size check: t=[1..5], v=[2,4,3,8,6]: S = +6,
    Var = 5*4*15/18 = 16.666667, z = 5/sqrt(50/3) = 1.224745."""
    from pyspark.sql import SparkSession

    from tap_airbyte_wrapper_spark.operators import mann_kendall_trend

    spark = SparkSession.getActiveSession()
    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (3.0, 3.0), (4.0, 8.0), (5.0, 6.0)],
        "t double, v double")
    got = mann_kendall_trend(df, "t", "v").first()
    assert got.s == 6
    assert got.var_s == pytest.approx(50 / 3, abs=1e-6)
    assert got.z == pytest.approx(5 / math.sqrt(50 / 3), abs=1e-6)
    assert got.trend == "no_trend"

def test_cusum_change_point_localizes_planted_shift(spark):
    """Level shift planted at index 300 of 500: argmax|S| must land on
    the last pre-shift row, statistic over the Kolmogorov 5% critical
    value; the exact max|S| matches an independent numpy cumsum."""
    from tap_airbyte_wrapper_spark.operators import cusum_change_point

    rng = np.random.RandomState(3)
    v = np.concatenate([rng.randint(95, 106, 300),
                        rng.randint(115, 126, 200)]).astype(int)
    df = spark.createDataFrame(
        [(i, float(i), int(v[i])) for i in range(500)],
        "id long, t double, v long")
    got = cusum_change_point(df, "t", "v", "id").first()
    S = np.cumsum(v - v.mean())
    assert got.cusum_max == pytest.approx(float(np.abs(S).max()),
                                          abs=1e-6)
    assert got.t_star == float(int(np.argmax(np.abs(S))))
    assert got.significant and got.stat > 1.358

    flat = spark.createDataFrame(
        [(i, float(i), int(x)) for i, x in
         enumerate(rng.randint(100, 111, 500))],
        "id long, t double, v long")
    g2 = cusum_change_point(flat, "t", "v", "id").first()
    assert not g2.significant and g2.stat < 1.358
    # empty input survives
    empty = df.filter("v > 10000")
    assert cusum_change_point(empty, "t", "v", "id").first() \
        .n_items == 0

def test_sen_slope_matches_brute_force_and_guards(spark):
    """Median pairwise slope vs an independent numpy brute force
    (odd and even pair counts, tied-time pairs excluded); the O(n^2)
    cap refuses oversized inputs loudly instead of sampling."""
    from tap_airbyte_wrapper_spark.operators import sen_slope

    rng = np.random.RandomState(5)
    t = np.arange(120).astype(float)
    v = 3.7 * t + rng.normal(0, 20, 120)
    df = spark.createDataFrame(
        [(int(i), float(a), float(b))
         for i, (a, b) in enumerate(zip(t, v))],
        "id long, t double, v double")
    got = sen_slope(df, "t", "v", "id").first()
    sl = [(v[j] - v[i]) / (t[j] - t[i])
          for i in range(120) for j in range(i + 1, 120)]
    assert got.n_pairs == len(sl)
    assert got.slope == pytest.approx(float(np.median(sl)), abs=1e-6)
    # tied times drop pairs; even count averages the middle two
    df2 = spark.createDataFrame(
        [(0, 1.0, 1.0), (1, 1.0, 5.0), (2, 2.0, 3.0), (3, 3.0, 7.0)],
        "id long, t double, v double")
    small = sen_slope(df2, "t", "v", "id").first()
    assert small.n_pairs == 5 and small.slope == 2.0
    with pytest.raises(ValueError, match="O\\(n\\^2\\)"):
        sen_slope(df, "t", "v", "id", max_rows=50)
    # all times tied -> no pairs, null slope
    tied = spark.createDataFrame(
        [(i, 1.0, float(i)) for i in range(5)],
        "id long, t double, v double")
    g = sen_slope(tied, "t", "v", "id").first()
    assert g.n_pairs == 0 and g.slope is None
