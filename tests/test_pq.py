"""Product quantization: encode/ADC numpy-reference equivalence,
planted-cluster retrieval exactness, model persistence round-trip,
k-means, residual and OPQ codebooks.  The PQ / IVF-PQ search contracts
(``knn_topk`` over ``pq`` / ``ivfpq`` candidates) are in
``test_topk.py``."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tap_airbyte_wrapper_spark.functions import (
    PqModel,
    knn_topk,
    load_pq,
    pq,
    pq_encode,
    pq_train,
    save_pq,
)
from tap_airbyte_wrapper_spark.functions.similarity import _adc_kernel


def _vec_df(spark, mat, id_start=0):
    rows = [(id_start + i, [float(x) for x in row])
            for i, row in enumerate(mat)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _clusters(n_per=6, d=8, seed=7):
    """4 tight, well-separated clusters on distinct axes."""
    rng = np.random.RandomState(seed)
    out = []
    for c in range(4):
        center = np.zeros(d)
        center[c * 2] = 10.0
        out.append(center + rng.normal(0, 0.05, size=(n_per, d)))
    return np.vstack(out)


def test_pq_encode_matches_numpy_reference(spark):
    # fixed tiny codebooks -> encoding is pure nearest-codeword argmin
    books = np.array([
        [[1.0, 0.0], [0.0, 1.0]],     # subspace 0: 2 codewords
        [[1.0, 1.0], [-1.0, -1.0]],   # subspace 1
    ])
    model = PqModel(codebooks=books)
    mat = np.array([[3.0, 0.1, 2.0, 2.0],
                    [0.1, 3.0, -2.0, -2.0]])
    out = {r.vec_id: list(r.pq_code)
           for r in pq_encode(_vec_df(spark, mat), model).collect()}
    # row 0 normalizes to ~[.63,.02,.42,.42]: sub0 nearest (1,0)=code 0,
    # sub1 nearest (1,1)=code 0; row 1 mirrors to codes (1,1)
    assert out[0] == [0, 0]
    assert out[1] == [1, 1]


def test_pq_adc_scores_match_numpy(spark):
    books = np.array([
        [[1.0, 0.0], [0.0, 1.0]],
        [[1.0, 1.0], [-1.0, -1.0]],
    ])
    model = PqModel(codebooks=books)
    corpus = np.array([[2.0, 0.0, 1.0, 1.0]])
    q = np.array([[1.0, 1.0, 0.0, 2.0]])
    cdf, qdf = _vec_df(spark, corpus), _vec_df(spark, q, id_start=100)
    codes = pq_encode(cdf, model)
    _, _, adc = _adc_kernel(qdf, "vec_id", "embedding", model)
    score = codes.select(adc(F.col("pq_code"))).first()[0][0]
    # corpus row encodes to (0, 0); query normalizes by sqrt(6)
    qn = q[0] / np.linalg.norm(q[0])
    want = round(float(qn[:2] @ books[0][0] + qn[2:] @ books[1][0]), 6)
    assert score == pytest.approx(want)
    got = knn_topk(cdf, qdf, k=1, include_self=True,
                   candidates=pq(model, codes, shortlist=1)).collect()[0]
    assert got.vec_id == 0 and got.query_id == 100


def test_pq_planted_clusters_retrieval_is_exact(spark):
    mat = _clusters()
    df = _vec_df(spark, mat)
    model = pq_train(df, m=4, ks=4, train_sample=1000, seed=3)
    codes = pq_encode(df, model)
    queries = df.filter(F.col("vec_id").isin(0, 6, 12, 18))
    # a 5-deep shortlist: the rerank only reorders the ADC top-5
    got = knn_topk(df, queries, k=5,
                   candidates=pq(model, codes, shortlist=5))
    exact = knn_topk(df, queries, k=5)
    got_sets = {}
    for r in got.collect():
        got_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in exact.collect():
        # every true top-5 neighbor (same tight cluster) must be found
        assert r.vec_id in got_sets[r.query_id], (r.query_id, r.vec_id)


def test_pq_train_validates_params(spark):
    df = _vec_df(spark, np.eye(6))
    with pytest.raises(ValueError):
        pq_train(df, m=4, ks=4)  # 6 % 4 != 0
    with pytest.raises(ValueError):
        pq_train(df, m=2, ks=1)


def test_pq_save_load_roundtrip(spark, tmp_path):
    mat = _clusters()
    df = _vec_df(spark, mat)
    model = pq_train(df, m=2, ks=4, seed=5)
    path = str(tmp_path / "pq_model")
    save_pq(model, spark, path)
    back = load_pq(spark, path)
    assert back.codebooks.shape == model.codebooks.shape
    assert np.allclose(back.codebooks, model.codebooks)
    # loaded model encodes identically
    a = {r.vec_id: list(r.pq_code) for r in pq_encode(df, model).collect()}
    b = {r.vec_id: list(r.pq_code) for r in pq_encode(df, back).collect()}
    assert a == b


# ------------------------------------------------------ distributed k-means

def test_kmeans_fit_recovers_planted_clusters(spark):
    from tap_airbyte_wrapper_spark.functions import kmeans_fit, kmeans_predict

    mat = _clusters(n_per=10)
    df = _vec_df(spark, mat)
    cent = kmeans_fit(df, k=4, iters=4, seed=11)
    assert cent.shape == (4, mat.shape[1])
    assert np.allclose(np.linalg.norm(cent, axis=1), 1.0)
    labels = {r.vec_id: r.cluster
              for r in kmeans_predict(df, cent).collect()}
    # every planted cluster maps to ONE predicted cluster, all distinct
    groups = [sorted(set(labels[i] for i in range(c * 10, c * 10 + 10)))
              for c in range(4)]
    assert all(len(g) == 1 for g in groups)
    assert len({g[0] for g in groups}) == 4


def test_kmeans_predict_matches_numpy_argmax(spark):
    from tap_airbyte_wrapper_spark.functions import kmeans_predict

    rng = np.random.RandomState(0)
    cent = rng.normal(size=(3, 8))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    mat = rng.normal(size=(20, 8))
    df = _vec_df(spark, mat)
    got = {r.vec_id: r.cluster for r in kmeans_predict(df, cent).collect()}
    mn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    want = np.argmax(mn @ cent.T, axis=1)
    assert [got[i] for i in range(20)] == list(want)


def test_semantic_dedup_clustered_collapses_planted_dups(spark):
    from tap_airbyte_wrapper_spark.functions import semantic_dedup_clustered

    base = _clusters(n_per=5)
    # ids 100.. are near-copies of ids 0,5,10,15 (tiny jitter)
    rng = np.random.RandomState(3)
    dups = base[[0, 5, 10, 15]] + rng.normal(0, 1e-4, size=(4, base.shape[1]))
    rows = np.vstack([base, dups])
    ids = list(range(len(base))) + [100, 101, 102, 103]
    df = spark.createDataFrame(
        [(ids[i], [float(x) for x in rows[i]]) for i in range(len(ids))],
        "vec_id long, embedding array<double>")
    out = sorted(r.vec_id for r in semantic_dedup_clustered(
        df, k=4, threshold=0.999999, iters=3).collect())
    # each dup loses to its (lower-id) original; originals all survive
    assert 100 not in out and 101 not in out
    assert 102 not in out and 103 not in out
    assert all(i in out for i in (0, 5, 10, 15))


def test_semantic_dedup_clustered_lsh_route_matches_exact(spark):
    """Forcing the mega-cluster LSH route on the planted-dup corpus
    must drop exactly the same near-copies as the exact path: at
    cos ~ 1-1e-8 every signature bit agrees, so banded candidates
    cover all true pairs and the exact-cosine verify decides."""
    from tap_airbyte_wrapper_spark.functions import semantic_dedup_clustered

    base = _clusters(n_per=5)
    rng = np.random.RandomState(3)
    dups = base[[0, 5, 10, 15]] + rng.normal(0, 1e-4, size=(4, base.shape[1]))
    rows = np.vstack([base, dups])
    ids = list(range(len(base))) + [100, 101, 102, 103]
    df = spark.createDataFrame(
        [(ids[i], [float(x) for x in rows[i]]) for i in range(len(ids))],
        "vec_id long, embedding array<double>")
    exact = sorted(r.vec_id for r in semantic_dedup_clustered(
        df, k=4, threshold=0.999999, iters=3, method="exact").collect())
    lsh = sorted(r.vec_id for r in semantic_dedup_clustered(
        df, k=4, threshold=0.999999, iters=3, method="lsh").collect())
    assert lsh == exact
    # auto with a tiny guard must take the LSH route and still agree
    auto = sorted(r.vec_id for r in semantic_dedup_clustered(
        df, k=4, threshold=0.999999, iters=3, method="auto",
        max_cluster_pair_cells=1).collect())
    assert auto == exact


# ------------------------------------------------ residual codebooks

def test_residual_codebooks_reconstruct_better_on_clustered_data(spark):
    """The point of residual encoding: on cluster-structured data the
    same m/ks budget reconstructs normalized vectors with materially
    lower error than raw-vector PQ (codewords spend on fine structure,
    not on re-expressing the cluster means)."""
    from tap_airbyte_wrapper_spark.functions import (
        ivf_build, ivfpq_train_residual, pq_train,
    )

    mat = _clusters(n_per=16)
    df = _vec_df(spark, mat)
    index = ivf_build(df, n_clusters=4, train_sample=1000)
    # ks=2: the codebook budget is SMALLER than the cluster count, so
    # raw PQ cannot memorize the cluster means and the residual
    # advantage is structural, not noise
    raw = pq_train(df, m=4, ks=2, train_sample=1000)
    res = ivfpq_train_residual(index, m=4, ks=2, train_sample=1000)

    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cells = np.argmax(norm @ index.centroids.T, axis=1)

    def recon_err(model, base):
        d, msub = norm.shape[1], model.m
        dsub = d // msub
        target = norm - base
        err = 0.0
        for j in range(msub):
            sub = target[:, j * dsub:(j + 1) * dsub]
            cb = model.codebooks[j]
            d2 = ((sub ** 2).sum(1, keepdims=True)
                  - 2 * sub @ cb.T + (cb ** 2).sum(1))
            err += (d2.min(axis=1)).clip(0).sum()
        return err

    raw_err = recon_err(raw, np.zeros_like(norm))
    res_err = recon_err(res, index.centroids[cells])
    assert res_err < raw_err * 0.7


# ---------------------------------------------------------------- OPQ

def _correlated(n=64, d=8, seed=11):
    """Clusters along DIAGONAL directions: PQ's worst case (structure
    straddles sub-space boundaries), OPQ's motivating case."""
    rng = np.random.RandomState(seed)
    out = []
    for c in range(4):
        center = np.ones(d) * (c + 1)
        center[::2] *= -1 if c % 2 else 1
        out.append(center + rng.normal(0, 0.05, size=(n // 4, d)))
    return np.vstack(out)


def test_opq_reconstruction_not_worse_and_search_exact(spark):
    from tap_airbyte_wrapper_spark.functions import opq_rotate, opq_train

    mat = _correlated()
    df = _vec_df(spark, mat)
    R, opq_model = opq_train(df, m=4, ks=4, train_sample=1000,
                             opq_iters=4)
    # R is orthonormal
    assert np.allclose(R @ R.T, np.eye(R.shape[0]), atol=1e-9)
    raw = pq_train(df, m=4, ks=4, train_sample=1000)

    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)

    def recon_err(model, X):
        d, msub = X.shape[1], model.m
        dsub = d // msub
        err = 0.0
        for j in range(msub):
            sub = X[:, j * dsub:(j + 1) * dsub]
            cb = model.codebooks[j]
            d2 = ((sub ** 2).sum(1, keepdims=True)
                  - 2 * sub @ cb.T + (cb ** 2).sum(1))
            err += d2.min(axis=1).clip(0).sum()
        return err

    assert recon_err(opq_model, norm @ R) <= recon_err(raw, norm) + 1e-9

    # full-width two-stage search: ADC in ROTATED space, rerank against
    # the true vectors — must equal brute force (rotation preserves
    # cosine rankings)
    adc = pq(opq_model, pq_encode(opq_rotate(df, R), opq_model),
             shortlist=len(mat))

    def rotated_adc(corpus, queries, c):
        true_q = F.broadcast(queries.select(
            F.col(c.id).alias(c.qid), F.col(c.vec).alias("__qvec")))
        return (adc(corpus, opq_rotate(queries, R), c).drop("__qvec")
                .join(true_q, c.qid))

    queries = df.filter(F.col("vec_id") < 2)
    got = knn_topk(df, queries, k=5, candidates=rotated_adc).collect()
    want = knn_topk(df, queries, k=5).collect()
    gs = sorted((r.query_id, r.vec_id, round(r.cos_sim, 6)) for r in got)
    ws = sorted((r.query_id, r.vec_id, round(r.cos_sim, 6)) for r in want)
    assert gs == ws


# ------------------------------------------------------ vector kernel

def test_ivf_build_zero_vector_initial_centroid_is_not_nan(spark):
    """A zero vector picked as an initial centroid stays a zero row, so
    it neither leaves a NaN centroid nor pulls every row into one cell
    (a NaN column wins every argmax)."""
    from tap_airbyte_wrapper_spark.functions import ivf_build

    n, k, seed = 200, 4, 42
    # the training sample is hash-ordered; k-means init picks positions
    order = [r.id for r in spark.range(n).select(
        "id", F.xxhash64("id", F.lit(seed)).alias("h")).orderBy("h")
        .collect()]
    picked = np.random.RandomState(seed).choice(n, size=k, replace=False)
    mat = np.random.RandomState(47).normal(size=(n, 8))
    mat[order[picked[0]]] = 0.0
    index = ivf_build(_vec_df(spark, mat), n_clusters=k, seed=seed)
    assert np.isfinite(index.centroids).all()
    cells = index.assigned.select("__cell").distinct().count()
    assert cells > 1


def test_pq_encode_equals_ivfpq_encode_without_residual(spark):
    from tap_airbyte_wrapper_spark.functions import ivf_build, ivfpq_encode

    df = _vec_df(spark, _clusters(n_per=16))
    index = ivf_build(df, n_clusters=4, train_sample=1000)
    model = pq_train(df, m=4, ks=4, train_sample=1000)
    flat = {r.vec_id: list(r.pq_code)
            for r in pq_encode(df, model).collect()}
    coarse = {r.vec_id: list(r.pq_code)
              for r in ivfpq_encode(index, model).collect()}
    assert flat == coarse and len(flat) == 64


def test_similarity_norms_only_in_kernel_and_scoring_sites():
    """``np.linalg.norm`` in similarity.py lives in the kernel helpers
    and in the cosine-returning scoring sites ``_unit_rows`` names —
    every other path normalizes through ``_unit_rows``."""
    import ast
    import inspect
    import re

    from tap_airbyte_wrapper_spark.functions import similarity

    scoring = set(re.findall(r":func:`(\w+)`", similarity._unit_rows.__doc__))
    assert scoring == {"cosine_pairs", "_cosine_score_queries",
                       "embedding_near_dup_pairs"}
    allowed = {"_unit_rows", "_renormalize"} | scoring
    tree = ast.parse(inspect.getsource(similarity))
    users = set()
    for fn in tree.body:
        for node in ast.walk(fn):
            if (isinstance(node, ast.Attribute) and node.attr == "norm"
                    and ast.unparse(node.value) == "np.linalg"):
                users.add(getattr(fn, "name", "<module>"))
    assert users and users <= allowed, users - allowed
