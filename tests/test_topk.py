"""The knn top-k plan (``functions.similarity.knn_topk``): every candidate
generator, widened to full width, reproduces brute-force rows exactly;
pruned generators keep recall; shortlist cuts never spend a slot on a
self-match; the many-query scorer's driver-collect guard; PQ and IVF-PQ
search on planted clusters."""

import pytest
from pyspark.sql import functions as F

from tap_airbyte_wrapper_spark.functions import (
    ivf,
    ivf_build,
    ivfpq,
    ivfpq_train_residual,
    knn_topk,
    lsh,
    pq,
    pq_encode,
    pq_train,
)
from test_pq import _clusters, _vec_df


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 10)


@pytest.fixture(scope="module")
def full_width(emb):
    """Each generator with every approximation widened away: all IVF
    cells probed, 2-bit LSH bands (candidate recall is total on the
    synthetic embeddings), corpus-sized PQ shortlists."""
    n = emb.count()
    index = ivf_build(emb, n_clusters=8)
    model = pq_train(emb, m=8, ks=16)
    return {
        "ivf": ivf(index, n_probe=8),
        "lsh": lsh(bits=64, bands=32),
        "pq": pq(model, pq_encode(emb, model), shortlist=n),
        "ivfpq": ivfpq(index, model, n_probe=8, shortlist=n),
    }


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_exact_topk_sorted_per_query(emb):
    out = knn_topk(emb, emb.filter("vec_id < 3"), k=5)
    rows = out.collect()
    assert len(rows) == 15
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.cos_sim)
    for q, sims in per_q.items():
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0001 <= s <= 1.0001 for s in sims)


@pytest.mark.parametrize("include_self", [False, True],
                         ids=["no_self", "self"])
@pytest.mark.parametrize("name", ["ivf", "lsh", "pq", "ivfpq"])
def test_full_width_generators_reproduce_brute_force(
        emb, queries, full_width, name, include_self):
    want = _rows(knn_topk(emb, queries, k=5, include_self=include_self))
    got = _rows(knn_topk(emb, queries, k=5, candidates=full_width[name],
                         include_self=include_self))
    assert got == want
    assert any(q == i for q, i, _ in want) == include_self


@pytest.mark.parametrize("name", ["pq", "ivfpq"])
def test_shortlist_cut_skips_self_matches(emb, queries, name):
    """A shortlist as deep as k still yields k rows per query: the
    plan's self-match filter runs before the cut, not after it."""
    model = pq_train(emb, m=8, ks=16)
    gen = (pq(model, pq_encode(emb, model), shortlist=5) if name == "pq"
           else ivfpq(ivf_build(emb, n_clusters=8), model, n_probe=8,
                      shortlist=5))
    rows = knn_topk(emb, queries, k=5, candidates=gen).collect()
    assert len(rows) == 50
    assert all(r.query_id != r.vec_id for r in rows)


def test_lsh_recall(emb, queries):
    exact = knn_topk(emb, queries, k=5)
    approx = knn_topk(emb, queries, k=5, candidates=lsh(bits=64, bands=16))
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall {recall} too low"


def test_lsh_without_queries_is_empty(emb):
    """No query vectors means no signatures to band: an empty result,
    not a numpy error on stacking zero rows."""
    none = emb.filter(F.col("vec_id") < 0)
    assert knn_topk(emb, none, k=5, candidates=lsh()).count() == 0


def test_ivf_recall(emb, queries):
    index = ivf_build(emb, n_clusters=8)
    exact = knn_topk(emb, queries, k=5)
    approx = knn_topk(emb, queries, k=5, candidates=ivf(index, n_probe=3))
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall {recall} too low"
    # probing ALL cells must reproduce brute force exactly
    full = knn_topk(emb, queries, k=5, candidates=ivf(index, n_probe=8))
    f = {(r.query_id, r.vec_id) for r in full.collect()}
    assert f == e


def test_score_queries_guard_raises(spark):
    """Round-8 advice: the many-query exact scorer (bitext_mine's exact
    pass) driver-collects the query side; a corpus-sized 'query' frame
    must raise with the IVF routing hint, not silently OOM the driver."""
    from tap_airbyte_wrapper_spark.functions.similarity import (
        _best_k, _cosine_score_queries)

    corpus = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(1), F.rand(2)).alias("embedding"))
    queries = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(3), F.rand(4)).alias("embedding"))
    with pytest.raises(ValueError, match="max_query_cells.*ivf"):
        _cosine_score_queries(corpus, queries, "vec_id", "embedding",
                              "__q", max_query_cells=100)
    # under the guard it still runs
    ok = _best_k(_cosine_score_queries(corpus, queries.limit(3), "vec_id",
                                       "embedding", "__q"), "__q", "vec_id", 2)
    assert ok.count() == 6


# ------------------------------------- PQ / IVF-PQ on planted clusters


def test_pq_rerank_recovers_exact_cosine(spark):
    mat = _clusters()
    df = _vec_df(spark, mat)
    model = pq_train(df, m=4, ks=4, train_sample=1000, seed=3)
    codes = pq_encode(df, model)
    queries = df.filter(F.col("vec_id") < 2)
    got = knn_topk(df, queries, k=5, candidates=pq(
        model, codes, shortlist=len(mat) - 1)).collect()
    want = knn_topk(df, queries, k=5).collect()
    gs = sorted((r.query_id, r.vec_id, round(r.cos_sim, 6)) for r in got)
    ws = sorted((r.query_id, r.vec_id, round(r.cos_sim, 6)) for r in want)
    assert gs == ws  # full-corpus shortlist => exact equality


def test_ivfpq_full_width_equals_brute_force(spark):
    """With n_probe = all cells and shortlist = corpus, the three
    approximations are each disabled — the composite must equal exact
    brute-force cosine top-k."""
    mat = _clusters(n_per=8)
    df = _vec_df(spark, mat)
    index = ivf_build(df, n_clusters=4, train_sample=1000)
    model = pq_train(df, m=4, ks=8, train_sample=1000)
    queries = df.filter(F.col("vec_id") < 2)
    got = knn_topk(df, queries, k=5, candidates=ivfpq(
        index, model, n_probe=4, shortlist=len(mat))).collect()
    want = knn_topk(df, queries, k=5).collect()
    gs = sorted((r.query_id, r.vec_id, round(r.cos_sim, 6)) for r in got)
    ws = sorted((r.query_id, r.vec_id, round(r.cos_sim, 6)) for r in want)
    assert gs == ws


def test_ivfpq_probe_pruning_respects_per_query_cells(spark):
    """n_probe=1 on well-separated clusters: each query's candidates
    come only from its own cluster's cell."""
    mat = _clusters(n_per=8)
    df = _vec_df(spark, mat)
    index = ivf_build(df, n_clusters=4, train_sample=1000)
    model = pq_train(df, m=4, ks=8, train_sample=1000)
    queries = df.filter(F.col("vec_id").isin(0, 8, 16, 24))
    out = knn_topk(df, queries, k=7, candidates=ivfpq(
        index, model, n_probe=1, shortlist=50)).collect()
    for r in out:
        # same planted cluster: ids 0-7 / 8-15 / 16-23 / 24-31
        assert r.vec_id // 8 == r.query_id // 8, r


def test_ivfpq_residual_full_width_equals_brute_force(spark):
    """Residual encoding changes the codes and the ADC arithmetic but
    not the widened-to-exact contract: full probes + corpus-wide
    shortlist + exact rerank must still equal brute force."""
    mat = _clusters(n_per=8)
    df = _vec_df(spark, mat)
    index = ivf_build(df, n_clusters=4, train_sample=1000)
    model = ivfpq_train_residual(index, m=4, ks=8, train_sample=1000)
    queries = df.filter(F.col("vec_id") < 2)
    got = knn_topk(df, queries, k=5, candidates=ivfpq(
        index, model, n_probe=4, shortlist=len(mat),
        residual=True)).collect()
    want = knn_topk(df, queries, k=5).collect()
    gs = sorted((r.query_id, r.vec_id, round(r.cos_sim, 6)) for r in got)
    ws = sorted((r.query_id, r.vec_id, round(r.cos_sim, 6)) for r in want)
    assert gs == ws
