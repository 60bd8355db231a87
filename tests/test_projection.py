"""Distributed PCA (functions/projection.py) vs single-node numpy, plus
the Misra-Gries heavy-hitter guarantee (functions/corpus.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tap_airbyte_wrapper_spark.functions import (
    covariance_long,
    fit_pca,
    heavy_hitters,
    pca_project,
)
from tap_airbyte_wrapper_spark.sources.files import load_parquet


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_parquet(spark, f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.array(r["embedding"], dtype="float64") for r in rows])
    return ids, mat


def test_fit_pca_matches_numpy(emb, emb_np):
    _, mat = emb_np
    model = fit_pca(emb, "embedding", k=6)
    assert model.n_rows == mat.shape[0]
    assert model.dim == mat.shape[1]
    np.testing.assert_allclose(model.mean, mat.mean(axis=0), atol=1e-9)

    cov = np.cov(mat, rowvar=False)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1][:6]
    np.testing.assert_allclose(model.explained_variance, evals, rtol=1e-8)
    # components are orthonormal rows and eigenvectors of cov
    np.testing.assert_allclose(
        model.components @ model.components.T, np.eye(6), atol=1e-8)
    for comp, lam in zip(model.components, model.explained_variance):
        np.testing.assert_allclose(cov @ comp, lam * comp, atol=1e-6)


def test_pca_project_matches_numpy(emb, emb_np):
    ids, mat = emb_np
    model = fit_pca(emb, "embedding", k=4)
    got = {r["vec_id"]: np.array(r["proj"])
           for r in pca_project(emb, model).collect()}
    want = (mat - model.mean) @ model.components.T
    for vid, row in zip(ids, want):
        np.testing.assert_allclose(got[vid], row, atol=1e-8)


def test_pca_projection_decorrelates(emb, emb_np):
    """Projected coordinates have variance = eigenvalues and ~zero
    cross-covariance — the defining property of PCA."""
    model = fit_pca(emb, "embedding", k=3)
    proj = np.stack([np.array(r["proj"])
                     for r in pca_project(emb, model).collect()])
    pcov = np.cov(proj, rowvar=False)
    np.testing.assert_allclose(
        np.diag(pcov), model.explained_variance, rtol=1e-8)
    off = pcov - np.diag(np.diag(pcov))
    assert np.abs(off).max() < 1e-8


def test_covariance_long_matches_numpy(emb, emb_np):
    _, mat = emb_np
    cov = np.cov(mat, rowvar=False)
    rows = covariance_long(emb, "embedding").collect()
    d = mat.shape[1]
    assert len(rows) == d * (d + 1) // 2
    for r in rows:
        assert r["cov"] == pytest.approx(cov[r["i"], r["j"]], abs=2e-6)


def test_fit_pca_k_clamped(emb):
    model = fit_pca(emb, "embedding", k=10_000)
    assert model.k == model.dim


def _hh_df(spark, rows):
    return spark.createDataFrame([(t,) for t in rows], "text string")


def test_heavy_hitters_exact_counts(spark):
    df = _hh_df(spark, ["a a a b", "b c", "A  a", None, "  "])
    got = {r["word"]: r["cnt"]
           for r in heavy_hitters(df, min_count=2).collect()}
    assert got == {"a": 5, "b": 2}


def test_heavy_hitters_guarantee_survives_tiny_capacity(spark):
    """threshold > N/capacity ==> no true heavy hitter is lost, even
    when the MG summary is far smaller than the vocabulary."""
    rows = [f"hot{i % 3}" for i in range(300)] + [f"rare{i}" for i in range(200)]
    df = _hh_df(spark, rows).repartition(4)
    # N = 500, capacity 25 -> N/cap = 20 < threshold 50
    got = {r["word"]: r["cnt"]
           for r in heavy_hitters(df, min_count=50, capacity=25).collect()}
    assert got == {"hot0": 100, "hot1": 100, "hot2": 100}


def test_heavy_hitters_fraction_threshold(spark):
    rows = ["x"] * 60 + ["y"] * 30 + [f"z{i}" for i in range(10)]
    df = _hh_df(spark, rows)
    # N = 100; 40% threshold keeps only x
    got = {r["word"]: r["cnt"]
           for r in heavy_hitters(df, min_fraction=0.4).collect()}
    assert got == {"x": 60}


def test_pca_then_ivf_composition(spark, emb):
    """Pipeline composition: PCA-reduce the corpus, then run IVF ANN in
    the reduced space — full-probe IVF over projected vectors must agree
    exactly with brute force over the same projected vectors, and the
    reduced space must preserve neighborhoods well (recall@10 vs the
    full-space ground truth)."""
    from pyspark.sql import functions as F
    from tap_airbyte_wrapper_spark.functions import ivf, ivf_build, knn_topk

    model = fit_pca(emb, "embedding", k=16)
    proj = pca_project(emb, model).select(
        "vec_id", F.col("proj").cast("array<float>").alias("embedding"))
    queries = proj.filter(F.col("vec_id") < 5)

    brute = knn_topk(proj, queries, k=5)
    probed = knn_topk(proj, queries, k=5, candidates=ivf(
        ivf_build(proj, n_clusters=8), n_probe=8))
    b = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    v = {(r["query_id"], r["vec_id"]) for r in probed.collect()}
    assert b == v

    # neighborhood preservation: projected top-5 inside the full-space
    # top-20 far above chance.  The synthetic embeddings are uniform
    # 64-d (no low-rank structure — PCA's worst case), so demand a
    # 10x-over-chance signal, not perfection: chance is 20/500 = 4%.
    full = knn_topk(emb, emb.filter(F.col("vec_id") < 5), k=20)
    f = {}
    for r in full.collect():
        f.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(1 for (q, n) in b if n in f[q])
    assert hits >= len(b) * 0.4, f"recall {hits}/{len(b)}"


def test_pca_save_load_roundtrip(tmp_path, spark, emb):
    import numpy as np
    from tap_airbyte_wrapper_spark.functions import load_pca, save_pca

    model = fit_pca(emb, "embedding", k=5)
    save_pca(model, spark, str(tmp_path / "pca"))
    back = load_pca(spark, str(tmp_path / "pca"))
    np.testing.assert_array_equal(back.mean, model.mean)
    np.testing.assert_array_equal(back.components, model.components)
    np.testing.assert_array_equal(
        back.explained_variance, model.explained_variance)
    assert back.n_rows == model.n_rows
    # the reloaded model projects identically
    a = pca_project(emb, model).orderBy("vec_id").collect()
    b = pca_project(emb, back).orderBy("vec_id").collect()
    assert [r["proj"] for r in a] == [r["proj"] for r in b]


def test_heavy_hitter_values_hot_keys(spark):
    from tap_airbyte_wrapper_spark.functions import heavy_hitter_values

    rows = [(i, 7) for i in range(80)] + [(i, i) for i in range(80, 120)] \
        + [(200, None)]
    df = spark.createDataFrame(rows, "i long, user long").repartition(4)
    got = {r["value"]: r["cnt"]
           for r in heavy_hitter_values(df, "user",
                                        min_fraction=0.5).collect()}
    assert got == {"7": 80}   # 80/120 non-null = 67% > 50%; nulls ignored
    tiny = {r["value"]: r["cnt"]
            for r in heavy_hitter_values(df, "user", min_count=60,
                                         capacity=3).collect()}
    assert tiny == {"7": 80}  # guarantee: 60 > 120/3


def test_weighted_sample_properties(spark):
    from pyspark.sql import functions as F
    from tap_airbyte_wrapper_spark.functions import weighted_sample

    rows = [(i, 100 if i < 50 else 1) for i in range(1000)] \
        + [(2000, 0), (2001, None)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = weighted_sample(df, "w", "doc_id", k=50)
    ids = {r["doc_id"] for r in out.collect()}
    assert len(ids) == 50
    assert not ids & {2000, 2001}         # non-positive/null excluded
    # 50 heavy rows (w=100) among 950 light (w=1): heavy dominate
    assert len([i for i in ids if i < 50]) >= 35
    # deterministic under repartition; order-preserved under rescaling
    again = {r["doc_id"] for r in
             weighted_sample(df.repartition(7), "w", "doc_id", 50).collect()}
    assert again == ids
    scaled = {r["doc_id"] for r in weighted_sample(
        df.withColumn("w", F.col("w") * 1000), "w", "doc_id", 50).collect()}
    assert scaled == ids
    # salt re-deals
    other = {r["doc_id"] for r in
             weighted_sample(df, "w", "doc_id", 50, salt="x").collect()}
    assert other != ids


def test_heavy_hitter_values_non_string_types(spark):
    """Pass-1 candidates must use Spark's string rendering: a boolean
    column ('true', not Python's 'True') still yields its hot keys."""
    from tap_airbyte_wrapper_spark.functions import heavy_hitter_values

    df = spark.createDataFrame(
        [(i, i % 10 != 0) for i in range(100)], "i long, flag boolean")
    got = {r["value"]: r["cnt"]
           for r in heavy_hitter_values(df, "flag",
                                        min_fraction=0.5).collect()}
    assert got == {"true": 90}


def test_heavy_hitters_unicode_whitespace_tokens(spark):
    """Both passes tokenize JVM-side: a token containing a no-break
    space (not whitespace to the ASCII tokenizer) survives as one
    token instead of being silently dropped."""
    from tap_airbyte_wrapper_spark.functions import heavy_hitters

    df = _hh_df(spark, ["a b"] * 10)
    got = {r["word"]: r["cnt"]
           for r in heavy_hitters(df, min_count=5).collect()}
    assert got == {"a b": 10}


def test_fit_pca_empty_input_clear_error(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="at least 2 rows"):
        fit_pca(df, "embedding")
