"""Fuzzy dedup + embedding near-dups: planted near-duplicates must be
found, clean corpus must stay intact; the IVF index round trip.  The knn
top-k plan itself is tested in test_topk.py."""

import pytest
from pyspark.sql import functions as F

from tap_airbyte_wrapper_spark.functions import (
    exact_dedup,
    minhash_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def planted(spark, docs):
    """Corpus with planted dupes: 10000+i = near-copy of doc i (one word
    changed), 20000+i = exact copy of doc i."""
    base = docs.select("doc_id", "text").limit(20)
    near = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.regexp_replace(F.col("text"), r"^\S+", "CHANGED")).alias("text"),
    )
    exact = base.select((F.col("doc_id") + 20000).alias("doc_id"), "text")
    return base.unionAll(near).unionAll(exact)


def test_exact_dedup(planted):
    out = exact_dedup(planted, "text", "doc_id")
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert len(ids) == 40  # 20 originals + 20 near (exact copies dropped)
    assert all(i < 20000 for i in ids)


def test_minhash_finds_planted_pairs(planted):
    pairs = minhash_near_dup_pairs(
        planted, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # every exact copy must pair with its original; near-copies of long docs too
    exact_expected = {(i, i + 20000) for i in range(20)}
    assert exact_expected <= got
    near_hits = sum(1 for (a, b) in got if b == a + 10000)
    assert near_hits >= 15  # one-word change: high jaccard for all but tiny docs


def test_minhash_dedup_keeps_clean_docs(docs):
    # the sf corpus is all-distinct word soup; near-dup removal at a high
    # threshold must not nuke legitimate documents
    clean = docs.select("doc_id", "text")
    out = minhash_dedup(clean, "doc_id", "text",
                        num_hashes=64, bands=8, threshold=0.9)
    assert out.count() >= clean.count() * 0.95


def test_simhash_pairs(planted):
    pairs = simhash_near_dup_pairs(planted, "doc_id", "text", max_hamming=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, i + 20000) for i in range(20)} <= got
    assert all(r.hamming == 0 for r in pairs.collect() if r.id_b >= 20000 and r.id_a == r.id_b - 20000)


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame([
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),          # identical -> jaccard 1.0
        (3, "a b c d e f g x"),          # overlapping
        (4, "z y x w v u t s"),          # disjoint shingles
    ], "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.1).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.3 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_embedding_near_dup_exact(spark, sf_dir):
    from tap_airbyte_wrapper_spark.functions import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.4)
    rows = exact.collect()
    assert all(r.id_a < r.id_b and r.cos_sim >= 0.4 for r in rows)
    # re-running with a lower threshold is a superset
    wider = {(r.id_a, r.id_b)
             for r in embedding_near_dup_pairs(
                 emb, "vec_id", "embedding", threshold=0.35).collect()}
    assert {(r.id_a, r.id_b) for r in rows} <= wider


def test_embedding_near_dup_lsh_planted(spark, sf_dir):
    """LSH path must find planted true near-dups (cos ~ 1): vec_id+10000 is
    a scaled copy of vec_id (cosine exactly 1 with its original)."""
    from tap_airbyte_wrapper_spark.functions import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    copies = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.25)).alias("embedding"),
    )
    planted = emb.select("vec_id", "embedding").unionAll(copies)
    got = {(r.id_a, r.id_b)
           for r in embedding_near_dup_pairs(
               planted, "vec_id", "embedding", threshold=0.95,
               method="lsh").collect()}
    expected = {(r.vec_id, r.vec_id + 10000) for r in emb.collect()}
    recall = len(got & expected) / len(expected)
    assert recall >= 0.9, f"planted near-dup recall {recall} too low"
    # and nothing below threshold leaks through (verification step works)
    exact = {(r.id_a, r.id_b)
             for r in embedding_near_dup_pairs(
                 planted, "vec_id", "embedding", threshold=0.95).collect()}
    assert got <= exact


def test_connected_components_transitive_clusters(spark):
    from tap_airbyte_wrapper_spark.functions import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3, pair 10-11, triangle-ish 20-21, 21-22, plus a
        # bridge shape where 7's only partner (8) also pairs with 9
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (8, 9), (7, 8)],
        ["id_a", "id_b"],
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
            20: 20, 21: 20, 22: 20, 7: 7, 8: 7, 9: 7}
    # driver union-find fast path and distributed min-label propagation
    # must agree exactly
    fast = {r.node: r.component
            for r in connected_components(pairs).collect()}
    dist = {r.node: r.component
            for r in connected_components(
                pairs, max_driver_pairs=None).collect()}
    assert fast == want
    assert dist == want
    # graphs over the driver guard fall through to the distributed path
    over = {r.node: r.component
            for r in connected_components(pairs, max_driver_pairs=3).collect()}
    assert over == want


def test_minhash_dedup_transitive(planted):
    from tap_airbyte_wrapper_spark.functions import connected_components

    kwargs = dict(num_hashes=64, bands=16, threshold=0.5)
    out = minhash_dedup(planted, "doc_id", "text", transitive=True, **kwargs)
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    # survivors must be EXACTLY: un-paired docs + the min id per cluster
    pairs = minhash_near_dup_pairs(planted, "doc_id", "text", **kwargs)
    comps = connected_components(pairs).collect()
    clustered = {r.node for r in comps}
    mins = {r.component for r in comps}
    all_ids = {r.doc_id for r in planted.select("doc_id").collect()}
    assert ids == (all_ids - clustered) | mins
    # exact copies (20000+i) can never be a cluster min -> all dropped
    assert all(i < 20000 for i in ids)


def test_paragraph_dedup_planted(spark):
    from tap_airbyte_wrapper_spark.functions import paragraph_dedup

    docs = spark.createDataFrame([
        (1, "alpha beta\n\ncommon boiler plate\n\ngamma delta"),
        (2, "common boiler plate\n\nunique two"),
        (3, "common boiler plate"),          # nothing unique -> vanishes
        (4, "eps\n\n\n\nzeta"),              # empty paragraph dropped
    ], "doc_id long, text string")
    out = {r.doc_id: r.text
           for r in paragraph_dedup(docs, "doc_id", "text").collect()}
    assert out[1] == "alpha beta\n\ncommon boiler plate\n\ngamma delta"
    assert out[2] == "unique two"            # shared boilerplate removed
    assert 3 not in out
    assert out[4] == "eps\n\nzeta"


def test_simhash_expression_matches_vectorized(spark, docs):
    """The per-row Column expression and the Arrow-vectorized corpus path
    are two implementations of ONE definition — they must agree bit-for-bit."""
    from tap_airbyte_wrapper_spark.functions import simhash, simhash_df

    sample = docs.select("doc_id", "text").limit(50)
    expr = {r.doc_id: r.sh for r in sample.select(
        "doc_id", simhash(F.col("text")).alias("sh")).collect()}
    vect = {r.doc_id: r.sh for r in
            simhash_df(sample, "doc_id", "text").collect()}
    assert expr == vect


def test_lsh_candidate_pairs_api(spark, docs):
    """Standalone banded-LSH candidate generation over precomputed
    signatures (the public API alternative to minhash_near_dup_pairs)."""
    from tap_airbyte_wrapper_spark.functions import (
        lsh_candidate_pairs, minhash_signatures_df)

    base = docs.select("doc_id", "text").limit(30)
    dup = base.select((F.col("doc_id") + 5000).alias("doc_id"), "text")
    sigs = minhash_signatures_df(base.unionAll(dup), "doc_id", "text",
                                 num_hashes=32)
    cands = {(r.id_a, r.id_b)
             for r in lsh_candidate_pairs(sigs, "doc_id", "sig", bands=8).collect()}
    # identical signatures share every band -> every dup pair is a candidate
    assert {(r.doc_id, r.doc_id + 5000) for r in base.collect()} <= cands


def test_jaccard_prefix_filter_exactness(spark, docs, planted):
    """Prefix filtering is an OPTIMIZATION, not an approximation: result
    sets and jaccard values identical to the full postings join."""
    def pairs(df, **kw):
        return {(r.id_a, r.id_b): round(r.jaccard, 6)
                for r in ngram_jaccard_pairs(df, "doc_id", "text", **kw).collect()}

    full = pairs(planted, n=3, threshold=0.5)
    pref = pairs(planted, n=3, threshold=0.5, prefix_filter=True)
    assert full == pref and len(full) > 0

    corpus = docs.limit(200)
    full2 = pairs(corpus, n=3, threshold=0.2)
    pref2 = pairs(corpus, n=3, threshold=0.2, prefix_filter=True)
    assert full2 == pref2


def test_similarity_null_vectors_dropped(spark):
    """Null embeddings must not crash the Arrow/numpy paths — they are
    dropped (a null vector can never match)."""
    from tap_airbyte_wrapper_spark.functions import (
        embedding_near_dup_pairs, ivf, ivf_build, knn_topk, lsh)

    rows = [(i, [float(i % 7 + j) for j in range(8)]) for i in range(40)]
    rows += [(100, None), (101, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 3")
    assert embedding_near_dup_pairs(emb, threshold=0.99).count() >= 0
    assert embedding_near_dup_pairs(emb, threshold=0.99, method="lsh",
                                    dim=8).count() >= 0
    assert knn_topk(emb, q, k=3,
                    candidates=lsh(bits=16, bands=4)).count() >= 0
    assert knn_topk(emb, q, k=3, candidates=ivf(
        ivf_build(emb, n_clusters=4), n_probe=2)).count() >= 0


def test_embedding_near_dup_exact_guard(spark, sf_dir):
    from tap_airbyte_wrapper_spark.functions import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="lsh"):
        embedding_near_dup_pairs(emb, max_exact_cells=10).count()
    # auto routes to the LSH path instead of raising
    out = embedding_near_dup_pairs(
        emb, threshold=0.9, method="auto", max_exact_cells=10)
    assert out.count() >= 0
    with pytest.raises(ValueError, match="exact|lsh|auto"):
        embedding_near_dup_pairs(emb, method="bogus")


def test_ivf_index_build_persist_load_search(spark, sf_dir, tmp_path):
    from tap_airbyte_wrapper_spark.functions import (
        ivf, ivf_build, ivf_load, knn_topk)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    params = dict(n_clusters=8, train_sample=1000, kmeans_iters=5, seed=42)

    oneshot = {(r.query_id, r.vec_id) for r in knn_topk(
        emb, queries, k=5,
        candidates=ivf(ivf_build(emb, **params), n_probe=3)).collect()}

    path = str(tmp_path / "ivf")
    ivf_build(emb, path=path, **params)
    loaded = ivf_load(spark, path)
    via_index = {(r.query_id, r.vec_id) for r in knn_topk(
        emb, queries, k=5, candidates=ivf(loaded, n_probe=3)).collect()}
    # same quantizer seed + same probes -> identical results
    assert via_index == oneshot

    # persisted layout is partitioned by cell: one directory per cell,
    # so probed searches can prune to n_probe/n_clusters of the files
    import os
    cells = [d for d in os.listdir(f"{path}/vectors")
             if d.startswith("__cell=")]
    assert 1 < len(cells) <= 8
    # every corpus vector survives the round trip
    assert loaded.assigned.count() == emb.count()


def test_ivf_training_sample_unbiased_on_skewed_layout(spark):
    """Centroid training must not read whole partitions in layout order
    (round-4 advice): on a corpus where partition 0 holds ONLY cluster A
    and later partitions only cluster B, a train_sample smaller than
    cluster A must still produce centroids covering BOTH planted
    clusters — limit()-based training put every centroid in A."""
    import numpy as np

    from tap_airbyte_wrapper_spark.functions import ivf_build

    rng = np.random.default_rng(7)
    a = [(i, (rng.normal(0, 0.01, 8) + np.array([1.0] + [0.0] * 7)).tolist())
         for i in range(300)]
    b = [(i, (rng.normal(0, 0.01, 8) + np.array([0.0] * 7 + [1.0])).tolist())
         for i in range(300, 600)]
    # repartitionByRange on vec_id puts all of A physically before B
    emb = (spark.createDataFrame(a + b, "vec_id long, embedding array<double>")
           .repartitionByRange(6, "vec_id"))
    idx = ivf_build(emb, n_clusters=2, train_sample=200, kmeans_iters=10)
    # each planted direction must own a centroid (cosine > 0.9)
    cent = idx.centroids / np.linalg.norm(idx.centroids, axis=1, keepdims=True)
    dir_a = np.array([1.0] + [0.0] * 7)
    dir_b = np.array([0.0] * 7 + [1.0])
    assert (cent @ dir_a).max() > 0.9
    assert (cent @ dir_b).max() > 0.9


def test_minhash_verified_pairs_exact_jaccard(planted):
    """Verified mode: every emitted pair carries the EXACT jaccard (must
    equal ngram_jaccard_pairs on the same corpus), and the planted
    near/exact copies all surface (LSH recall at j~1 is certain)."""
    from tap_airbyte_wrapper_spark.functions import minhash_verified_pairs

    got = {(r.id_a, r.id_b): r.jaccard
           for r in minhash_verified_pairs(
               planted, "doc_id", "text", threshold=0.5).collect()}
    exact = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(
                 planted, "doc_id", "text", n=3, threshold=0.5).collect()}
    assert got == exact
    assert all((i, i + 20000) in got for i in range(20))
    assert all(got[(i, i + 20000)] == 1.0 for i in range(20))


def test_simhash_verified_pairs_exact_jaccard(planted):
    """SimHash candidates (pigeonhole recall) + exact-jaccard precision
    must also reproduce the exact pair set on planted dupes."""
    from tap_airbyte_wrapper_spark.functions import simhash_verified_pairs

    got = {(r.id_a, r.id_b): r.jaccard
           for r in simhash_verified_pairs(
               planted, "doc_id", "text", threshold=0.5).collect()}
    exact = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(
                 planted, "doc_id", "text", n=3, threshold=0.5).collect()}
    assert got == exact


def test_exact_jaccard_on_pairs_respects_candidates(spark):
    """Only candidate pairs are scored — a true near-dup absent from the
    candidate set must NOT appear (the caller owns recall)."""
    from tap_airbyte_wrapper_spark.functions import exact_jaccard_on_pairs

    df = spark.createDataFrame([
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),
        (3, "a b c d e f g h"),
    ], "doc_id long, text string")
    cands = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = {(r.id_a, r.id_b) for r in
           exact_jaccard_on_pairs(df, cands, "doc_id", "text").collect()}
    assert got == {(1, 2)}


def test_quantize_embeddings_roundtrip_error_bound(spark, sf_dir):
    """Dequantized values must be within scale/2 of the originals, and
    quantized magnitudes within the int8 range."""
    from tap_airbyte_wrapper_spark.functions import quantize_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    q = quantize_embeddings(emb, "embedding", "vec_id")
    joined = emb.join(q, "vec_id").select("vec_id", "embedding", "scale", "q")
    for r in joined.collect():
        assert len(r.q) == len(r.embedding)
        for orig, qv in zip(r.embedding, r.q):
            assert -128 <= qv <= 127
            assert abs(qv * r.scale - orig) <= r.scale / 2 + 1e-9


def test_quantize_embeddings_zero_vector(spark):
    from tap_airbyte_wrapper_spark.functions import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, -2.0])],
        "vec_id long, embedding array<float>")
    rows = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    assert rows[1].scale == 0.0 and rows[1].q == [0, 0]
    assert rows[2].q == [64, -127]


def test_semantic_dedup_keeps_one_per_cluster(spark, sf_dir):
    """Planted near-identical copies must collapse to the original;
    untouched vectors must all survive."""
    from tap_airbyte_wrapper_spark.functions import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.limit(10)
    copies = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label")
    planted = base.unionByName(copies)
    kept = {r.vec_id for r in semantic_dedup(
        planted, "vec_id", "embedding", threshold=0.99).collect()}
    # every pair (i, i+10000) collapses to min id = i
    assert all(i in kept for r in base.collect() for i in [r.vec_id])
    assert not any(r.vec_id + 10000 in kept for r in base.collect())


def test_embedding_dedup_delta_corpus_and_delta(spark, tmp_path):
    """ANN delta dedup vs a built IVF index: planted corpus near-dup and
    delta-internal dup found, clean vector silent; corpus hits agree
    with brute force."""
    import numpy as np

    from tap_airbyte_wrapper_spark.functions import (
        embedding_dedup_delta,
        ivf_build,
        knn_topk,
    )

    rng = np.random.RandomState(7)
    base = rng.standard_normal((60, 16)).astype("float32")
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(60)],
        "vec_id long, embedding array<float>")
    index = ivf_build(corpus, n_clusters=4, train_sample=60)

    near7 = base[7] + rng.standard_normal(16).astype("float32") * 0.01
    novel = rng.standard_normal(16).astype("float32")
    delta = spark.createDataFrame(
        [(1007, [float(x) for x in near7]),
         (1008, [float(x) for x in novel]),
         (1009, [float(x) for x in novel * 2.0]),     # same direction
         (1010, [float(x) for x in rng.standard_normal(16)])],
        "vec_id long, embedding array<float>")

    out = embedding_dedup_delta(index, delta, threshold=0.95,
                                n_probe=4).collect()
    kinds = {(r.id_a, r.id_b): r.kind for r in out}
    assert kinds.get((1007, 7)) == "corpus"
    assert kinds.get((1008, 1009)) == "delta"
    flagged = {r.id_a for r in out} | {r.id_b for r in out}
    assert 1010 not in flagged

    # corpus hits match exact brute force at the same threshold
    brute = knn_topk(corpus, delta, k=60).filter("cos_sim >= 0.95")
    brute_pairs = {(r.query_id, r.vec_id) for r in brute.collect()
                   if r.vec_id < 1000}
    assert {(a, b) for (a, b), k in kinds.items()
            if k == "corpus"} == brute_pairs
