"""One contract over the seven persisted-index families that share
``functions/index_store.py``: after any sequence of build, append,
delete, replace (a delete, then an append) and re-append, every probe
equals the same probe on an index built from scratch on the edited
corpus; compaction leaves the probe unchanged, drops the tombstones and
writes at most one file per bucket (or IVF cell) per table; and a
compaction aimed at the live index itself is refused before anything is
touched."""

import ast
import os
import struct
import zlib

import numpy as np
import pytest

from pyspark.sql import functions as F

from tap_airbyte_wrapper_spark.fsutil import exists
from tap_airbyte_wrapper_spark.functions import (
    bm25_index_append, bm25_index_search, bm25_index_write,
    fingerprint_dedup_delta, fingerprint_index_append,
    fingerprint_index_write, index_compact, index_delete, ivf_append,
    ivf, ivf_build, ivf_load, ivf_staleness, knn_topk, media_dedup_delta,
    media_sig_index_append, media_sig_index_write, minhash_dedup_delta,
    minhash_index_append, minhash_index_write, novelty_index_append,
    novelty_index_write, novelty_probe, simhash_dedup_delta,
    simhash_index_append, simhash_index_write)
from tap_airbyte_wrapper_spark.functions.index_store import LAYOUTS
from tap_airbyte_wrapper_spark.functions.video import mp4_stub

N_BUCKETS = 2  # also the IVF cell count


def _text(i, tag="v"):
    return " ".join(f"{w}{tag}{i}" for w in (
        "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
        "theta")) + " " + " ".join(f"w{i}x{k}" for k in range(16))


def _payload(text):
    """A tiny MP4 whose essence is seeded by the text; a ``' tail'``
    suffix trims the payload end (a near-duplicate, not a copy)."""
    base = text[:-5] if text.endswith(" tail") else text
    ess, k, seed = b"", 0, zlib.crc32(base.encode())
    while len(ess) < 2300:
        ess += struct.pack(">I", zlib.crc32(f"{seed}:{k}".encode())) * 4
        k += 1
    stub = mp4_stub(320, 240, 5000)[:-16]
    payload = stub + struct.pack(">I", 8 + len(ess)) + b"mdat" + ess
    return payload[:-80] if base != text else payload


def _vec(text, dim=32):
    """A feature-hashed bag of words: texts sharing most words (a
    ``' tail'`` near-copy) get nearby vectors."""
    v = [0.0] * dim
    for w in text.split():
        h = zlib.crc32(w.encode())
        v[h % dim] += 1.0 if (h >> 8) & 1 else -1.0
    return v


class _Family:
    def __init__(self, spark, name):
        self.spark, self.name = spark, name

    def frame(self, texts):
        if self.name == "media_sig":
            return self.spark.createDataFrame(
                [(i, _payload(t)) for i, t in sorted(texts.items())],
                "doc_id long, media binary")
        if self.name == "ivf":
            return self.spark.createDataFrame(
                [(i, _vec(t)) for i, t in sorted(texts.items())],
                "doc_id long, vec array<double>")
        return self.spark.createDataFrame(
            sorted(texts.items()), "doc_id long, text string")

    def write(self, texts, t, p):
        df = self.frame(texts)
        {
            "bm25": lambda: bm25_index_write(
                df, t, p, "doc_id", "text", n_buckets=N_BUCKETS),
            "minhash": lambda: minhash_index_write(
                df, "doc_id", "text", t, p, num_hashes=32, bands=8,
                n_buckets=N_BUCKETS),
            "fingerprint": lambda: fingerprint_index_write(
                df, t, p, "doc_id", "text", n_buckets=N_BUCKETS),
            "simhash": lambda: simhash_index_write(
                df, t, p, "doc_id", "text", n_buckets=N_BUCKETS),
            "media_sig": lambda: media_sig_index_write(
                df, t, p, "doc_id", "media", n_buckets=N_BUCKETS,
                window=16, stride=32),
            "novelty": lambda: novelty_index_write(
                df, t, p, n=3, n_buckets=N_BUCKETS),
            "ivf": lambda: ivf_build(
                df, "doc_id", "vec", n_clusters=N_BUCKETS, path=p),
        }[self.name]()

    def append(self, texts, t, p):
        df = self.frame(texts)
        {
            "bm25": lambda: bm25_index_append(df, t, "doc_id", "text"),
            "minhash": lambda: minhash_index_append(
                df, t, p, "doc_id", "text"),
            "fingerprint": lambda: fingerprint_index_append(
                df, t, "doc_id", "text"),
            "simhash": lambda: simhash_index_append(
                df, t, p, "doc_id", "text"),
            "media_sig": lambda: media_sig_index_append(
                df, t, p, "doc_id", "media"),
            "novelty": lambda: novelty_index_append(df, t, p),
            "ivf": lambda: ivf_append(self.spark, p, df, "doc_id", "vec"),
        }[self.name]()

    def replace(self, texts, t, p):
        index_delete(self.spark, p, self.frame(texts).select("doc_id"))
        self.append(texts, t, p)

    def compact(self, t, p, dst_t, dst):
        if LAYOUTS[self.name].catalog:
            return index_compact(self.spark, p, dst, t, dst_t)
        return index_compact(self.spark, p, dst)

    def probe(self, batch, t, p):
        df = self.frame(batch)
        if self.name == "bm25":
            queries = self.spark.createDataFrame(
                [(i, " ".join(txt.split()[k] for k in (0, 3, 9)))
                 for i, txt in sorted(batch.items())],
                "query_id long, query_text string")
            rows = bm25_index_search(self.spark, t, queries, p, k=20)
        elif self.name == "minhash":
            rows = minhash_dedup_delta(df, t, p, "doc_id", "text",
                                       threshold=0.5)
        elif self.name == "fingerprint":
            rows = fingerprint_dedup_delta(df, t, "doc_id", "text") \
                .select("doc_id")
        elif self.name == "simhash":
            rows = simhash_dedup_delta(df, t, p, "doc_id", "text")
        elif self.name == "media_sig":
            rows = media_dedup_delta(df, t, p, "doc_id", "media")
        elif self.name == "ivf":  # a full probe: exact top-k
            idx = ivf_load(self.spark, p, "doc_id", "vec")
            rows = knn_topk(idx.assigned, df, k=3,
                            candidates=ivf(idx, n_probe=N_BUCKETS),
                            id_col="doc_id", vec_col="vec") \
                .withColumn("cos_sim", F.round("cos_sim", 6))
        else:
            rows = novelty_probe(df, t, p)
        return sorted(tuple(r) for r in rows.collect())

    def drop(self, *names):
        if not LAYOUTS[self.name].catalog:
            return
        for t in names:
            for suffix in LAYOUTS[self.name].tables:
                self.spark.sql(f"DROP TABLE IF EXISTS {t}_{suffix}")


def _files(path):
    """{relative path: (size, mtime)} of every file under ``path``."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            full = os.path.join(root, n)
            st = os.stat(full)
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


CORPUS_A = {i: _text(i) for i in range(1, 7)}
CORPUS_B = {i: _text(i) for i in range(7, 10)}
DELETED = (2, 8)
REPLACED = {3: _text(3, "r"), 7: _text(7, "r")}
REVIVED = {2: _text(2, "n")}
# copies and near-copies of live, deleted, replaced-away and revived text
BATCH = {
    100: _text(1), 101: _text(1) + " tail",
    102: _text(3), 103: _text(3, "r") + " tail",
    104: _text(8) + " tail", 105: _text(2, "n"),
    106: _text(2) + " tail", 107: _text(7, "r"),
    108: _text(50),
}

FAMILIES = sorted(LAYOUTS)


def test_every_store_family_is_covered():
    assert FAMILIES == sorted(
        ["bm25", "minhash", "fingerprint", "simhash", "media_sig",
         "novelty", "ivf"])


@pytest.mark.parametrize("family", FAMILIES)
def test_maintained_index_probes_like_a_rebuild(spark, tmp_path, family):
    fam = _Family(spark, family)
    t, p = f"ixs_{family}", str(tmp_path / "idx")
    fam.write(CORPUS_A, t, p)
    fam.append(CORPUS_B, t, p)
    # the id column is found by name, not position
    index_delete(spark, p,
                 spark.createDataFrame([("gone", i) for i in DELETED],
                                       "why string, doc_id long"))
    fam.replace(REPLACED, t, p)
    fam.append(REVIVED, t, p)
    got = fam.probe(BATCH, t, p)

    edited = {**CORPUS_A, **CORPUS_B}
    for i in DELETED:
        del edited[i]
    edited.update(REPLACED)
    edited.update(REVIVED)
    fam.write(edited, f"{t}_fresh", str(tmp_path / "fresh"))
    want = fam.probe(BATCH, f"{t}_fresh", str(tmp_path / "fresh"))
    assert got == want
    assert want, "probe batch must exercise the index"

    dst = str(tmp_path / "compacted")
    stats = fam.compact(t, p, f"{t}_c", dst)
    assert stats["files_out"] <= stats["files_in"]
    assert not exists(spark, f"{dst}/tombstones")
    for suffix in LAYOUTS[family].tables:
        n_files = sum(f.endswith(".parquet")
                      for f in _files(os.path.join(dst, suffix)))
        assert n_files <= N_BUCKETS, suffix
    assert fam.probe(BATCH, f"{t}_c", dst) == want
    fam.drop(t, f"{t}_fresh", f"{t}_c")


@pytest.mark.parametrize("family", FAMILIES)
def test_compact_onto_itself_touches_nothing(spark, tmp_path, family):
    """Compacting into the live index's own path, or into a name that
    folds to its own, raises before any table or file is touched (the
    novelty compactor once dropped and overwrote its own source)."""
    fam = _Family(spark, family)
    t, p = f"ixg_{family}", str(tmp_path / "idx")
    fam.write(CORPUS_A, t, p)
    before, files = fam.probe(BATCH, t, p), _files(p)

    cases = [(f"{t}_2", p, "NEW path"),
             (f"{t}_2", os.path.join(p, "."), "NEW path")]
    if LAYOUTS[family].catalog:
        cases.append((t.upper(), str(tmp_path / "other"), "NEW table"))
    for dst_table, dst_path, msg in cases:
        with pytest.raises(ValueError, match=msg):
            fam.compact(t, p, dst_table, dst_path)

    assert _files(p) == files
    assert not os.path.exists(tmp_path / "other")
    if LAYOUTS[family].catalog:
        for suffix in LAYOUTS[family].tables:
            assert spark.catalog.tableExists(f"{t}_{suffix}")
    assert fam.probe(BATCH, t, p) == before
    fam.drop(t)


@pytest.mark.parametrize("family", FAMILIES)
def test_build_and_compact_onto_a_used_path_start_new_tombstones(
        spark, tmp_path, family):
    """A build at a path that held an index, and a compaction onto one,
    start a new tombstone generation: the earlier index's tombstone
    files (the external table's DROP leaves them) neither block the next
    delete nor kill rows of the new index."""
    fam = _Family(spark, family)
    t, p = f"ixr_{family}", str(tmp_path / "idx")
    gone = spark.createDataFrame([(1,), (2,)], "doc_id long")

    fresh, fresh_p = f"{t}_fresh", str(tmp_path / "fresh")
    fam.write(CORPUS_A, fresh, fresh_p)
    want_full = fam.probe(BATCH, fresh, fresh_p)
    index_delete(spark, fresh_p, gone)
    want = fam.probe(BATCH, fresh, fresh_p)
    assert want != want_full, "the delete must be observable"

    fam.write(CORPUS_A, t, p)
    index_delete(spark, p, gone)
    fam.write(CORPUS_A, t, p)
    assert fam.probe(BATCH, t, p) == want_full
    index_delete(spark, p, gone)
    assert fam.probe(BATCH, t, p) == want

    dst = str(tmp_path / "dst")
    fam.write(CORPUS_A, f"{t}_old", dst)
    index_delete(spark, dst, gone)
    fam.compact(t, p, f"{t}_c", dst)
    assert fam.probe(BATCH, f"{t}_c", dst) == want
    index_delete(spark, dst, gone)
    assert fam.probe(BATCH, f"{t}_c", dst) == want
    fam.drop(t, fresh, f"{t}_old", f"{t}_c")


_LIFECYCLE_CALLS = {"live_rows", "stamp_version", "tombstone_counts",
                    "record_tombstones", "clear_tombstones"}


def _lifecycle_uses(path):
    """``(line, what)`` of each call to a tombstone or liveness helper
    and each non-docstring string naming a tombstones path or the index
    meta file, in one module."""
    tree = ast.parse(open(path).read())
    docstrings = {
        id(node.body[0].value) for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef))
        and node.body and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)}
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else \
                getattr(f, "id", None)
            if name in _LIFECYCLE_CALLS:
                hits.append((node.lineno, name))
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and id(node) not in docstrings
              and ("_index_meta.json" in node.value
                   or "tombstones" in node.value.split("/"))):
            hits.append((node.lineno, node.value))
    return hits


def test_no_index_lifecycle_outside_the_store():
    """Only ``index_store`` and ``_maint`` stamp versions, filter live
    rows, read or write tombstones and name the meta file, so an eighth
    index family cannot grow its own lifecycle."""
    pkg = os.path.join(os.path.dirname(__file__), os.pardir,
                       "tap_airbyte_wrapper_spark")
    owners = {os.path.join("functions", "index_store.py"),
              os.path.join("functions", "_maint.py")}
    offenders = []
    for dirpath, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, pkg)
            if name.endswith(".py") and rel not in owners:
                offenders += [(rel, *hit) for hit in _lifecycle_uses(path)]
    assert offenders == [], "go through functions/index_store.py"
    for rel in owners:
        assert _lifecycle_uses(os.path.join(pkg, rel)) != []


# ------------------------------------- IVF append, staleness, compaction


def _axis_vec(direction, dim=8, eps=0.0):
    v = [0.0] * dim
    v[direction] = 1.0
    if eps:
        v[(direction + 1) % dim] = eps
    return v


def test_ivf_append_and_staleness(spark, tmp_path):
    """ivf_append folds a delta into the cell-partitioned layout with
    the EXISTING centroids; searches then find the appended vectors;
    staleness reports the append ratio."""
    idx = str(tmp_path / "ivf")
    corpus = spark.createDataFrame(
        [(100 + d, _axis_vec(d)) for d in range(4)],
        "vec_id long, embedding array<float>")
    ivf_build(corpus, n_clusters=2, path=idx)

    delta = spark.createDataFrame(
        [(200, _axis_vec(0, eps=0.05)), (201, _axis_vec(4))],
        "vec_id long, embedding array<float>")
    index = ivf_append(spark, idx, delta)
    assert index.assigned.count() == 6

    st = ivf_staleness(spark, idx)
    assert st["built_rows"] == 4 and st["appended_rows"] == 2
    assert st["append_ratio"] == 0.5 and not st["needs_retrain"]
    assert ivf_staleness(spark, idx, retrain_factor=0.4)["needs_retrain"]

    # a fresh load sees the appended vectors; full-probe search finds
    # the appended near-copy of direction 0
    loaded = ivf_load(spark, idx)
    q = spark.createDataFrame([(300, _axis_vec(0, eps=0.01))],
                              "vec_id long, embedding array<float>")
    hits = knn_topk(loaded.assigned, q, k=3,
                    candidates=ivf(loaded, n_probe=2)).collect()
    ids = {r["vec_id"] for r in hits}
    assert {100, 200} <= ids


def test_ivf_compact_preserves_cells_and_search(spark, tmp_path):
    src = str(tmp_path / "ivf")
    corpus = spark.createDataFrame(
        [(i, _axis_vec(i % 8)) for i in range(16)],
        "vec_id long, embedding array<float>")
    ivf_build(corpus, n_clusters=4, path=src)
    for j in range(3):
        ivf_append(spark, src, spark.createDataFrame(
            [(100 + 10 * j + d, _axis_vec(d % 8, eps=0.01 * (j + 1)))
             for d in range(4)], "vec_id long, embedding array<float>"))

    dst = str(tmp_path / "ivf_c")
    stats = index_compact(spark, src, dst)
    assert stats["files_out"] < stats["files_in"]
    # cell partition dirs survive (file-level pruning intact)
    vdirs = [d for d in os.listdir(f"{dst}/vectors")
             if d.startswith("__cell=")]
    assert vdirs

    q = spark.createDataFrame([(999, _axis_vec(2, eps=0.005))],
                              "vec_id long, embedding array<float>")
    def search(path):
        idx = ivf_load(spark, path)
        return {r["vec_id"] for r in knn_topk(
            idx.assigned, q, k=3, candidates=ivf(idx, n_probe=4)).collect()}

    want, got = search(src), search(dst)
    assert got == want and got


def test_ivf_replace_and_delete(spark, tmp_path):
    """A replace (delete the id, then append its new vector) swaps a
    vector in-place: queries near the NEW vector find the id at ~1.0
    similarity, the OLD vector is unfindable, and compaction folds the
    tombstones with unchanged search output."""
    rng = np.random.default_rng(8)
    dim = 16
    base = [(i, (rng.normal(size=dim) / 10
                 + np.eye(dim)[i % dim]).tolist())
            for i in range(60)]
    corpus = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    ivf_build(corpus, n_clusters=4, train_sample=60, path=path)

    new_vec = (np.eye(dim)[3] * 5).tolist()
    edited = spark.createDataFrame([(7, new_vec)],
                                   "vec_id long, embedding array<double>")
    index_delete(spark, path, edited.select("vec_id"))
    ivf_append(spark, path, edited)
    idx = ivf_load(spark, path)
    q = spark.createDataFrame([(999, new_vec)],
                              "vec_id long, embedding array<double>")
    def search(idx, k):
        return knn_topk(idx.assigned, q, k=k,
                        candidates=ivf(idx, n_probe=4)).collect()

    hits = search(idx, 3)
    assert hits[0].vec_id == 7 and hits[0].cos_sim == pytest.approx(1.0)
    # the id appears exactly once (old generation dead, not duplicated)
    assert sum(1 for r in search(idx, 60) if r.vec_id == 7) == 1

    stats = index_compact(spark, path, str(tmp_path / "ivf2"))
    assert stats["files_out"] <= stats["files_in"]
    assert not exists(spark, str(tmp_path / "ivf2") + "/tombstones")
    idx2 = ivf_load(spark, str(tmp_path / "ivf2"))
    got2 = search(idx2, 3)
    assert [r.vec_id for r in got2] == [r.vec_id for r in hits]
