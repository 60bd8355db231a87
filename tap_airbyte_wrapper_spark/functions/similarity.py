"""Similarity search over embedding columns (array<float>).

One top-k plan for every k-nearest-neighbour search, :func:`knn_topk`:
a pluggable candidate generator proposes (query, corpus row) pairs, and
the plan alone drops self-matches, scores each candidate with the exact
:func:`cosine` expression and keeps ``k`` per query by
``(cos_sim desc, id)``.  Approximate generation, exact verification —
the split of *Continuously Adaptive Similarity Search* (SIGMOD 2020)
and *REPOSE* (ICDE 2021).  The generators:

* :func:`exact` — every corpus row: queries are broadcast (small
  side), the corpus never shuffles; one full corpus scan per batch;
* :func:`lsh` — random-hyperplane band bucketing: corpus hashed once
  into ``bands`` buckets, the join is per bucket — sublinear candidate
  generation at the cost of recall;
* :func:`ivf` — the query's ``n_probe`` nearest cells of a built
  :class:`IvfIndex` (file-level pruning when persisted);
* :func:`pq` / :func:`ivfpq` — an ADC-scored shortlist over product-
  quantized codes (all cells, or the probed ones).

The cosine itself stays in Catalyst higher-order functions (``zip_with``
+ ``aggregate``): JVM codegen, no Python in the row loop, and sequential
summation that matches DuckDB bit-for-bit at the rounding boundary.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from ..operators.windows import topk_per_group
from . import index_store as store

__all__ = ["dot", "l2_norm", "cosine", "knn_topk", "exact", "lsh", "ivf",
           "pq", "ivfpq", "hyperplane_signature", "embedding_near_dup_pairs",
           "IvfIndex", "ivf_build", "ivf_load", "ivf_append", "ivf_staleness",
           "truncation_recall", "bitext_mine", "embedding_dedup_delta",
           "PqModel", "pq_train", "pq_encode",
           "save_pq", "load_pq", "kmeans_fit", "kmeans_predict",
           "ivfpq_encode", "ivfpq_train_residual",
           "opq_train", "opq_rotate", "hard_negatives", "embedding_mmd",
           "semantic_dedup_clustered",
           "quantize_embeddings", "nearest_centroid_assign", "semantic_dedup"]


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns (double precision accumulate)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_pairs(a: Column, b: Column) -> Column:
    """Row-wise cosine of two array columns, one numpy pass per Arrow
    batch — the verify step of :func:`embedding_near_dup_pairs`' LSH
    path, where candidate pairs are many and carry no ranking.  Every
    top-k scores with the expression :func:`cosine` instead (JVM
    sequential summation matches DuckDB bit-for-bit at the rounding
    boundary).  The UDF is built lazily: ``pandas_udf`` needs an active
    session."""

    @pandas_udf("double")
    def _cos(xs: pd.Series, ys: pd.Series) -> pd.Series:
        ma, mb = _stack(xs), _stack(ys)
        num = np.einsum("ij,ij->i", ma, mb)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        return pd.Series(num / den)

    return _cos(a, b)


class KnnCols(NamedTuple):
    """What a candidate generator is handed besides the two frames: the
    corpus id and vector columns (the queries carry the same names),
    the output query-id column, and the plan's self-match predicate
    (``None`` when self-matches are kept).  A generator returns
    ``(qid, id, vec, __qvec)`` rows; one that cuts a shortlist applies
    ``keep`` first, so a self-match never takes a slot."""

    id: str
    vec: str
    qid: str
    keep: Column | None


def _best_k(scored: DataFrame, group_col: str, id_col: str,
            k: int) -> DataFrame:
    """The similarity family's one tie-break: per ``group_col``, the
    ``k`` best rows by ``(cos_sim desc, id_col)``."""
    return topk_per_group(
        scored, [group_col], [F.col("cos_sim").desc(), F.col(id_col)], k,
    ).drop("rk")


def _query_vecs(queries: DataFrame, c: KnnCols) -> DataFrame:
    return F.broadcast(queries.select(
        F.col(c.id).alias(c.qid), F.col(c.vec).alias("__qvec")))


def exact(corpus: DataFrame, queries: DataFrame, c: KnnCols) -> DataFrame:
    """Every corpus row is a candidate: the (small) query set is
    broadcast against the corpus, which never shuffles."""
    return corpus.select(F.col(c.id), F.col(c.vec)).crossJoin(
        _query_vecs(queries, c))


def knn_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidates=exact,
    include_self: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Cosine top-k per query: ``(query_id, id, cos_sim)``.

    ``candidates`` is the generator (default :func:`exact`), a callable
    ``(corpus, queries, KnnCols) -> (qid, id, vec, __qvec)`` rows.  The
    plan then drops ``id == query_id`` pairs unless ``include_self``,
    reranks every candidate with the exact :func:`cosine` and keeps
    ``k`` per query by ``(cos_sim desc, id)`` — so any generator that
    proposes the true neighbours reproduces brute force exactly.  The
    index-backed generators (:func:`ivf`, :func:`ivfpq`) search the
    corpus their index holds; pass that corpus as ``corpus``."""
    keep = None if include_self else F.col(id_col) != F.col(query_id_col)
    pairs = candidates(
        corpus, queries, KnnCols(id_col, vec_col, query_id_col, keep))
    if keep is not None:
        pairs = pairs.filter(keep)
    scored = pairs.select(
        query_id_col, id_col,
        cosine(F.col(vec_col), F.col("__qvec")).alias("cos_sim"))
    return _best_k(scored, query_id_col, id_col, k)


def truncation_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dims: tuple = (16, 32),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Matryoshka-style dimension-cut audit: for each prefix width in
    ``dims``, recall@k of exact cosine top-k computed on PREFIX-
    truncated embeddings against the full-width exact top-k —
    ``(query_id, dim, n_overlap, recall_at_k)``.

    The decision this feeds at 100 TB: whether the ANN/dedup stack can
    run on the first d coordinates (4x less shuffle and index at
    d = dim/4) without losing neighbors.  Cosine renormalizes
    internally, so truncation is a pure ``slice`` projection — the
    audit costs |dims|+1 brute-force passes over the (sampled) corpus
    and is meant for a bounded evaluation slice, not the full corpus.

    Fully deterministic (ties break on corpus id), so a SQL oracle
    replays every ranking bit-for-bit."""
    from ._cache import cache_bounded

    # bounded-pool persist: the full-width top-k is embedded in every
    # dim's overlap branch AND the query-id spine — |dims|+1 consumers
    # would each re-run the full brute-force pass (the same
    # union-re-executes-shared-aggregate trap threshold_metrics hit);
    # the frame is |queries| x k rows, trivially cacheable
    cols = dict(id_col=id_col, vec_col=vec_col, query_id_col=query_id_col)
    full = cache_bounded(
        knn_topk(corpus, queries, k, **cols).select(query_id_col, id_col))
    out = None
    for d in dims:
        cut = F.slice(F.col(vec_col), 1, int(d)).alias(vec_col)
        t = knn_topk(
            corpus.select(F.col(id_col), cut),
            queries.select(F.col(id_col), cut), k, **cols
        ).select(query_id_col, id_col)
        r = (
            full.join(t, [query_id_col, id_col])
            .groupBy(query_id_col)
            .agg(F.count(F.lit(1)).alias("n_overlap"))
        )
        # queries with zero overlap still report (left join on the
        # full pass's query list)
        qids = full.select(query_id_col).distinct()
        r = (
            qids.join(r, query_id_col, "left")
            .select(
                query_id_col,
                F.lit(int(d)).alias("dim"),
                F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"))
            .withColumn("recall_at_k",
                        F.round(F.col("n_overlap") / F.lit(float(k)), 6))
        )
        out = r if out is None else out.unionByName(r)
    return out


def _cosine_score_queries(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    max_query_cells: int = 25_000_000,
) -> DataFrame:
    """ALL cosine scores for a MANY-query batch (hundreds+):
    ``(query_id_col, id_col, cos_sim)``, |Q| x |corpus| rows.  The
    per-pair ``cosine()`` expression is an interpreted HOF, so at
    |Q| x |corpus| pairs it dominates wall time — here each Arrow
    batch scores against the whole query matrix in ONE numpy matmul
    (the hyperplane_signature lesson: dense linear algebra belongs in
    a vectorized pandas UDF, measured ~5x on the bitext entry).
    Queries collect to the driver (they are the broadcast-small side
    by the same contract :func:`knn_topk` states) and ride the closure —
    guarded: one cheap count x width aggregate first, raising past
    ``max_query_cells`` (default 2.5e7 cells ≈ 200 MB of closure
    doubles) instead of silently OOMing the driver with a corpus-sized
    "query" frame.  For corpus x corpus scale use
    :func:`bitext_mine` ``method="ivf"`` / :func:`knn_topk` with
    :func:`ivf` candidates, which broadcast nothing corpus-sized."""
    qstats = queries.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col))).alias("dim")).first()
    qcells = (qstats["n"] or 0) * (qstats["dim"] or 1)
    if qcells > max_query_cells:
        raise ValueError(
            f"_cosine_score_queries: query side is {qstats['n']} x "
            f"{qstats['dim']} = {qcells} cells, over the "
            f"max_query_cells={max_query_cells} driver-collect guard. "
            "This path broadcasts the QUERY matrix via the closure; for "
            "corpus-x-corpus workloads route candidates through the IVF "
            "index (bitext_mine(method='ivf') / "
            "knn_topk(candidates=ivf(...))) or raise max_query_cells "
            "explicitly.")
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = [r[0] for r in q_rows]
    qm = _stack([r[1] for r in q_rows])
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)

    @pandas_udf("array<double>")
    def cos_all(vecs: pd.Series) -> pd.Series:
        m = _stack(vecs)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        return pd.Series(list(m @ qm.T))

    qid_map = F.array(*[F.lit(i) for i in q_ids])
    return (
        corpus.select(F.col(id_col), cos_all(F.col(vec_col)).alias("__cs"))
        .select(F.col(id_col), F.posexplode("__cs").alias("__qi", "cos_sim"))
        .select(F.element_at(qid_map, F.col("__qi") + 1)
                .alias(query_id_col),
                F.col(id_col), F.col("cos_sim"))
    )


def bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    threshold: float = 1.0,
    method: str = "exact",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    CCMatrix/LASER recipe): score every cross-lingual candidate pair by
    the RATIO margin ``cos(x,y) / (0.5*(avgNN(x) + avgNN(y)))`` —
    cosine relative to each side's average similarity to its ``k``
    nearest neighbors — and keep pairs that are each other's best
    margin in BOTH directions above ``threshold``.

    Absolute cosine is uncalibrated across a corpus (hubness: some
    sentences are close to everything); the margin normalizes by local
    neighborhood density, which is what makes mined pairs usable as
    parallel training data.  Output: ``(src_id, tgt_id, cos_sim,
    margin)``, one row per mutual-best pair.

    Plan shape, ``method="exact"`` (default): ONE brute-force scoring
    pass (:func:`_cosine_score_queries`: src rides the closure, tgt is
    scanned once — round 14; the former second pass re-scored the
    identical pair matrix with the roles swapped, paying a second
    driver collect and a second corpus scan for values the first pass
    already held), the persisted pair matrix feeds BOTH directions'
    top-k, two k-bounded per-id average rollups, margin joins on id,
    and two per-side argmax windows over k-bounded lists.
    Deterministic: ties break on the partner id, same contract as the
    knn fleet oracles.

    ``method="ivf"`` is the corpus-x-corpus path: NEITHER side is
    driver-collected — each direction builds an IVF index over one
    side (:func:`ivf_build`: bounded-sample k-means centroids ride the
    closure, cell assignment is one matmul per Arrow batch) and probes
    it with the other through :func:`knn_topk`'s :func:`ivf`
    candidates, so the candidate join touches
    ~n_probe/n_clusters of each corpus.  The margin/mutual-best tail
    is byte-identical to the exact path; recall < 1.0 by design —
    raise ``n_probe`` toward ``n_clusters`` to recover exactness (at
    ``n_probe == n_clusters`` the k-NN lists, and therefore the mined
    pairs, equal brute force).  Src/tgt id spaces must be disjoint
    (the top-k plan drops same-id pairs as self-matches)."""
    if method not in ("exact", "ivf"):
        raise ValueError(f"method must be exact|ivf, got {method!r}")
    from ._cache import cache_bounded

    if method == "ivf":
        # k-bounded per side, two consumers each (avg rollup + margin
        # leg) — persisted so the IVF probe join doesn't re-run per
        # consumer.  Lazy return: the bounded pool owns the lifetime.
        def probe(corpus, queries, qid, other):
            index = ivf_build(corpus, id_col, vec_col,
                              n_clusters=n_clusters, seed=seed)
            return cache_bounded(knn_topk(
                corpus, queries, k, candidates=ivf(index, n_probe),
                id_col=id_col, vec_col=vec_col, query_id_col=qid,
            ).withColumnRenamed(id_col, other))

        fwd = probe(tgt, src, "__src", "__tgt")
        bwd = probe(src, tgt, "__tgt", "__src")
    else:
        # ONE scored pass serves both directions: the |src| x |tgt|
        # pair matrix is direction-free, so the per-__src and per-__tgt
        # top-k read the SAME persisted rows (pair-count-bounded here:
        # the exact path is for eval-sized sides by the guard's own
        # contract).  fwd/bwd are k-bounded and each feed two
        # consumers (the avg rollup and the margin/argmax leg) — the
        # persists stop the scoring subtree re-running per consumer.
        scored = cache_bounded(_cosine_score_queries(
            tgt, src, id_col, vec_col, "__src").withColumnRenamed(
            id_col, "__tgt"))
        fwd = cache_bounded(_best_k(scored, "__src", "__tgt", k))
        bwd = cache_bounded(_best_k(scored, "__tgt", "__src", k))
    a_src = fwd.groupBy("__src").agg(F.avg("cos_sim").alias("__asrc"))
    a_tgt = bwd.groupBy("__tgt").agg(F.avg("cos_sim").alias("__atgt"))

    def with_margin(pairs):
        return (
            pairs.join(a_src, "__src").join(a_tgt, "__tgt")
            .withColumn(
                "margin",
                F.col("cos_sim")
                / (0.5 * (F.col("__asrc") + F.col("__atgt"))))
        )

    w_f = Window.partitionBy("__src").orderBy(
        F.col("margin").desc(), F.col("__tgt"))
    best_f = (with_margin(fwd)
              .withColumn("__rk", F.row_number().over(w_f))
              .filter(F.col("__rk") == 1))
    w_b = Window.partitionBy("__tgt").orderBy(
        F.col("margin").desc(), F.col("__src"))
    best_b = (with_margin(bwd)
              .withColumn("__rk", F.row_number().over(w_b))
              .filter(F.col("__rk") == 1)
              .select("__src", "__tgt"))
    return (
        best_f.join(best_b, ["__src", "__tgt"])  # mutual best
        .filter(F.col("margin") >= threshold)
        .select(F.col("__src").alias("src_id"),
                F.col("__tgt").alias("tgt_id"),
                F.round("cos_sim", 6).alias("cos_sim"),
                F.round("margin", 6).alias("margin"))
    )


def _pack_signatures(mat: "np.ndarray", plane_mat: "np.ndarray",
                     bands: int) -> list[list[int]]:
    """n x dim matrix -> per-row list of ``bands`` packed signature longs.
    Bit i = sign(dot(vec, plane_i)); bits chunk into bands."""
    per_band = plane_mat.shape[0] // bands
    weights = (1 << np.arange(per_band, dtype="uint64")).astype("uint64")
    bits = (mat @ plane_mat.T) > 0                              # n x bits
    out = []
    for row in bits:
        out.append([
            int((row[b * per_band:(b + 1) * per_band].astype("uint64")
                 * weights).sum().astype("int64"))
            for b in range(bands)
        ])
    return out


def hyperplane_signature(vec_col: str, planes, bands: int = 4) -> Column:
    """Random-hyperplane LSH signature packed into ``bands`` longs.

    Dense linear algebra (vectors x a bits-by-dim plane matrix) is the one
    place a vectorized pandas UDF beats Catalyst expressions: an Arrow
    batch becomes ONE numpy matmul, vs. a bits*dim literal expression tree
    evaluated per row (measured ~8x slower at 64x64).  ``planes`` is a
    fixed-seed ndarray riding the closure."""
    plane_mat = np.asarray(planes, dtype="float64")  # bits x dim

    @pandas_udf("array<long>")
    def sig(vecs: pd.Series) -> pd.Series:
        return pd.Series(_pack_signatures(_stack(vecs), plane_mat, bands))

    return sig(F.col(vec_col))


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    method: str = "exact",
    dim: int = 64,
    bits: int = 128,
    bands: int = 8,
    seed: int = 42,
    max_exact_cells: int = 500_000_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim) with
    ``id_a < id_b`` and ``cos_sim >= threshold``.

    ``method="exact"`` — the oracle baseline: the unit-normalized corpus
    matrix is broadcast to every executor and each Arrow batch scores
    against it with ONE numpy matmul (O(n^2) flops, O(n*dim) memory per
    executor).  Distributed over corpus partitions; bounded by the corpus
    matrix fitting in driver + executor memory.  Guarded: collecting more
    than ``max_exact_cells`` matrix cells (rows x dim; default 5e8 ≈ 4 GB
    float64) raises instead of silently OOMing the driver — route big
    corpora to ``method="lsh"``.

    ``method="lsh"`` — the 100 TB path: hyperplane-LSH band bucketing
    (reusing :func:`hyperplane_signature`) generates candidates sharing at
    least one band; exact cosine verifies.  Defaults (16-bit bands x 8)
    are tuned for the TRUE near-dup regime (cos >= ~0.9, where a bit
    agrees w.p. ~0.9 -> ~80% recall); for low thresholds like 0.4 the
    collision probability collapses and you want the exact path instead.

    ``method="auto"`` picks exact when the corpus fits the guard, else lsh.
    """
    df = df.filter(F.col(vec_col).isNotNull())

    if method not in ("exact", "lsh", "auto"):
        raise ValueError(f"method must be exact|lsh|auto, got {method!r}")
    if method in ("exact", "auto"):
        # One cheap aggregate (count + first vector width) before any
        # collect — the price of never doing an unguarded full-corpus
        # toPandas().
        stats = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.first(F.size(F.col(vec_col))).alias("dim"),
        ).first()
        cells = (stats["n"] or 0) * (stats["dim"] or dim or 1)
        if cells > max_exact_cells:
            if method == "auto":
                method = "lsh"
            else:
                raise ValueError(
                    f"embedding_near_dup_pairs(method='exact'): corpus is "
                    f"{stats['n']} x {stats['dim']} = {cells} cells, over the "
                    f"max_exact_cells={max_exact_cells} driver-collect guard. "
                    "Use method='lsh' (bucketed, no driver collect) or raise "
                    "max_exact_cells explicitly."
                )
        else:
            method = "exact"

    if method == "lsh":
        # Candidate generation is id-only: the band self-join and the pair
        # dedup shuffle two ids + two longs per row, never the vectors —
        # at 100x scale the old shape (2 x dim doubles riding every
        # candidate through dropDuplicates) was the dominant shuffle.
        # Vectors rejoin AFTER dedup via pruned-column scans of ``df``.
        sig = hyperplane_signature(vec_col, _planes(bits, dim, seed), bands)
        h = df.select(F.col(id_col), sig.alias("__sig"))
        expl = h.select(
            id_col, F.posexplode("__sig").alias("band", "band_val"))
        a = expl.select(F.col(id_col).alias("id_a"), "band", "band_val")
        b = expl.select(F.col(id_col).alias("id_b"), "band", "band_val")
        pairs = (
            a.join(b, on=["band", "band_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        va = df.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
        vb = df.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
        return (
            pairs.join(va, on="id_a").join(vb, on="id_b")
            .withColumn(
                "cos_sim", cosine_pairs(F.col("__va"), F.col("__vb")))
            .filter(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim")
        )

    pdf = df.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy()
    mat = _stack(pdf[vec_col])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    bc = df.sparkSession.sparkContext.broadcast((ids, mat))

    def score(batches):
        b_ids, b_mat = bc.value
        for p in batches:
            if not len(p):
                continue
            m = _stack(p[vec_col])
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ b_mat.T                      # batch x corpus
            rows, cols = np.nonzero(
                (sims >= threshold)
                & (p[id_col].to_numpy()[:, None] < b_ids[None, :]))
            yield pd.DataFrame({
                "id_a": p[id_col].to_numpy()[rows],
                "id_b": b_ids[cols],
                "cos_sim": sims[rows, cols],
            })

    return df.mapInPandas(
        score, schema="id_a long, id_b long, cos_sim double")


def _planes(bits: int, dim: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((bits, dim))


# ---------------------------------------------------------------------------
# The vector kernel.  Every IVF / PQ / IVF-PQ / OPQ / k-means site builds,
# assigns and encodes through these helpers: one row normalization, one
# training sample, one codeword assignment, one PQ encoder.
# ---------------------------------------------------------------------------

def _stack(vecs) -> "np.ndarray":
    """Vectors (a pandas Series of arrays, or a list of them) as one
    float64 ``(n, d)`` matrix."""
    return np.stack(vecs).astype("float64")


def _unit_rows(mat: "np.ndarray") -> "np.ndarray":
    """The one row-normalization rule: each row over its L2 norm, and a
    zero row stays zero.  Every model-building, assignment and probing
    path uses it — a zero vector divided by its norm would be a NaN row,
    and one NaN centroid sends every row to one IVF cell.

    The scoring sites return a cosine, so their zero-vector output is
    part of their result and they keep their own norm (a zero vector
    scores NaN): :func:`cosine_pairs`, :func:`_cosine_score_queries`
    and :func:`embedding_near_dup_pairs` (exact path)."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def _renormalize(cent: "np.ndarray", c: int, v: "np.ndarray") -> None:
    """Spherical k-means' centroid update: centroid ``c`` becomes ``v``
    scaled to unit length; a zero ``v`` keeps the previous centroid."""
    n = np.linalg.norm(v)
    if n > 0:
        cent[c] = v / n


def _hash_sample(corpus: DataFrame, id_col: str, cols: list, n: int,
                 seed: int) -> list:
    """The one training sample: the ``n`` rows of ``corpus`` with the
    smallest ``xxhash64(id, seed)``, as rows of ``cols`` in hash order.

    A bare ``limit()`` pulls whole partitions in layout order, which at
    100 TB means one source/time-range trains every centroid.  Hash
    order is uniform over the corpus whatever the partition layout,
    deterministic across restarts (content-keyed, the discipline of
    sampling.py's md5-bucket splits), and plans as
    TakeOrderedAndProject (per-partition top-k + driver merge), not a
    global sort.  The top-k runs over (id, hash) ONLY — carrying the
    vectors through the per-partition heaps copies dim floats per
    comparison (measured ~3x ivf_build wall at sf0.1); the winners'
    rows come back via a broadcast semi-join on the sampled ids, and
    are re-sorted by hash because k-means init reads rows by
    position."""
    hk = F.xxhash64(F.col(id_col), F.lit(seed)).alias("__hk")
    ids = (corpus.select(F.col(id_col), hk).orderBy("__hk").limit(n)
           .select(id_col))
    return (corpus.join(F.broadcast(ids), on=id_col, how="left_semi")
            .select(*cols, hk).orderBy("__hk").select(*cols).collect())


def _nearest_cells(unit: "np.ndarray", cent: "np.ndarray",
                   n: int) -> "np.ndarray":
    """The one probe order: per unit row, the ``n`` cells whose
    centroids score highest, best first."""
    return np.argsort(-(unit @ cent.T), axis=1)[:, :n]


def _nearest_codes(sub: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
    """The one codeword assignment: per row of ``sub``, the index of the
    L2-nearest row of ``books``, by the expanded form
    ``|x|^2 - 2 x.c + |c|^2`` (one matmul per call)."""
    d2 = ((sub ** 2).sum(1, keepdims=True)
          - 2 * sub @ books.T + (books ** 2).sum(1))
    return np.argmin(d2, axis=1)


def _pq_codes(mat: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
    """``(n, m)`` int16 codes: each row's nearest codeword in each of the
    ``m`` sub-spaces of ``books`` (``m x ks x dsub``)."""
    dsub = books.shape[2]
    return np.stack([_nearest_codes(mat[:, j * dsub:(j + 1) * dsub], books[j])
                     for j in range(len(books))], axis=1).astype("int16")


def _kmeans_centroids(mat: "np.ndarray", k: int, iters: int, seed: int):
    """Plain Lloyd's k-means on a (sampled) matrix — centroids are tiny
    (k x dim), so training is a driver-side numpy loop by design."""
    rng = np.random.RandomState(seed)
    cent = mat[rng.choice(len(mat), size=min(k, len(mat)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(len(cent)):
            members = mat[assign == c]
            if len(members):
                _renormalize(cent, c, members.mean(axis=0))
    return cent


class IvfIndex:
    """A built IVF index: driver-side centroids + the cell-assigned
    corpus.  Build once with :func:`ivf_build` (optionally persisting),
    search many times with :func:`knn_topk` over :func:`ivf` candidates
    — the production ANN shape, instead of re-training the quantizer
    per query batch.

    When persisted, vectors are written partitioned BY CELL, so a later
    loaded search scans only the probed cells' files (dynamic partition
    pruning through the broadcast probe join) — ``n_probe/n_clusters``
    of the corpus in I/O, not just in compute."""

    def __init__(self, centroids: "np.ndarray", assigned: DataFrame,
                 id_col: str, vec_col: str):
        self.centroids = centroids
        self.assigned = assigned          # columns: id, vec, __cell
        self.id_col = id_col
        self.vec_col = vec_col


def _centroid_df(spark, cent: "np.ndarray") -> DataFrame:
    """Centroid matrix as a JVM-literal DataFrame.  Deliberately NOT
    ``spark.createDataFrame`` — a Python-RDD-backed frame routes even a
    16-row write through a Python worker round-trip (measured ~4 s per
    tiny write on local[32]); ``range().select(lit arrays)`` stays
    JVM-side (~0.2 s) and k x dim literals are tiny by construction."""
    arrays = F.array(*[F.array(*[F.lit(float(x)) for x in c])
                       for c in cent])
    return spark.range(len(cent)).select(
        F.col("id").cast("int").alias("cell"),
        F.element_at(arrays, F.col("id").cast("int") + 1).alias("centroid"))


def _cell_udf(cent: "np.ndarray"):
    @pandas_udf("int")
    def cell_of(vecs: pd.Series) -> pd.Series:
        return pd.Series(np.argmax(_unit_rows(_stack(vecs)) @ cent.T,
                                   axis=1).astype("int32"))

    return cell_of


def ivf_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    train_sample: int = 100_000,
    kmeans_iters: int = 10,
    seed: int = 42,
    path: str | None = None,
) -> IvfIndex:
    """Train the coarse quantizer (driver-side k-means on a bounded
    sample — k x dim is tiny by construction) and assign every corpus
    vector to its nearest cell (one numpy matmul per Arrow batch).
    With ``path``, persist the centroids next to a cell-partitioned
    ``ivf`` index of the store (``index_store``: delete and compact
    are the shared ``index_delete`` / ``index_compact``).  The
    training sample is :func:`_hash_sample`'s ``train_sample`` rows."""
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    rows = _hash_sample(corpus, id_col, [vec_col], train_sample, seed)
    mat = _unit_rows(_stack([r[0] for r in rows]))
    cent = _kmeans_centroids(mat, n_clusters, kmeans_iters, seed)
    assigned = corpus.select(
        F.col(id_col), F.col(vec_col),
        _cell_udf(cent)(F.col(vec_col)).alias("__cell"))
    if path:
        spark = corpus.sparkSession
        _centroid_df(spark, cent).coalesce(1).write.mode(
            "overwrite").parquet(f"{path}/centroids")
        # one file per cell per write batch; the meta records the
        # training-time corpus size ivf_staleness compares appends
        # against
        meta = store.build(spark, "ivf", path, {"vectors": assigned},
                           {"id_col": id_col, "n_clusters": len(cent)})
        assigned = store.live(spark, path, meta, "vectors")
    return IvfIndex(cent, assigned, id_col, vec_col)


def _centroids(spark, path: str) -> "np.ndarray":
    rows = sorted(
        (r["cell"], r["centroid"])
        for r in spark.read.parquet(f"{path}/centroids").collect())
    return np.array([c for _, c in rows], dtype="float64")


def ivf_load(spark, path: str, id_col: str = "vec_id",
             vec_col: str = "embedding") -> IvfIndex:
    """Reopen a persisted IVF index; searches partition-prune to the
    probed cells and filter to live (non-deleted) vectors."""
    return IvfIndex(
        _centroids(spark, path),
        store.live(spark, path, store.read_meta(spark, path), "vectors"),
        id_col, vec_col)


def ivf_append(
    spark,
    path: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
) -> IvfIndex:
    """Fold a DELTA batch of vectors into a persisted IVF index WITHOUT
    retraining: assign each new vector to its nearest existing cell
    (one numpy matmul per Arrow batch, centroids ride the closure) and
    append into the cell-partitioned layout under the store's append
    contract — O(delta) work, the missing half of the
    continuously-arriving embedding loop that ``minhash_index_append``
    already provides on the MinHash side.

    The quantizer is NOT retrained, by design: retraining would move
    cell boundaries and strand previously-assigned vectors in stale
    cells, silently breaking probe recall for the whole corpus.
    Searches over an appended index remain CORRECT for every vector
    (assignment always uses the index's own centroids) — what degrades
    under distribution drift is cell BALANCE, and with it probe
    recall/latency.  The retrain policy is therefore explicit and
    caller-driven: watch :func:`ivf_staleness` and rebuild with
    :func:`ivf_build` over the full landed corpus when
    ``needs_retrain`` trips (appended rows exceed ``retrain_factor``
    x the rows the centroids were trained against).

    Appended ids must not be LIVE — dedup the delta against the index
    first (the streaming gate does); appending a live id twice lists it
    in two rows and every probe reports it twice.  An id removed with
    ``index_delete`` revives here at its new vector, so a re-embedded
    document is an ``index_delete`` of its id, then this append.

    Returns the reopened index including the appended vectors.

    ``centroids``: the index's own centroid array if the caller already
    holds it (e.g. a streaming gate appending every batch) — skips the
    per-call centroid read+collect.  Passing centroids from a DIFFERENT
    index would mis-assign cells; only ever pass what ``ivf_load`` of
    the same ``path`` returned."""
    cent = _centroids(spark, path) if centroids is None else centroids
    meta = store.read_meta(spark, path)
    store.append(spark, path, meta, id_col, {"vectors": delta.filter(
        F.col(vec_col).isNotNull()).select(
            F.col(id_col), F.col(vec_col),
            _cell_udf(cent)(F.col(vec_col)).alias("__cell"))})
    return IvfIndex(cent, store.live(spark, path, meta, "vectors"),
                    id_col, vec_col)


def ivf_staleness(spark, path: str, retrain_factor: float = 1.0,
                  built_rows: int | None = None) -> dict:
    """Centroid-staleness probe for a persisted IVF index:
    ``built_rows`` (corpus size when the quantizer was trained, from
    the index's meta), ``total_rows`` (parquet metadata count — no
    data scan), ``appended_rows``, ``append_ratio`` and
    ``needs_retrain`` (ratio > ``retrain_factor``).  Pair with
    :func:`ivf_append`'s documented policy: append freely, rebuild the
    quantizer offline once the index has grown past the factor.
    ``total_rows`` counts stored rows, so deleted generations keep
    counting until ``index_compact`` folds them — conservative in the
    right direction (retrain triggers sooner, never later).

    ``built_rows``: pass the meta value if already known (it is fixed
    at build time, so repeat callers — the streaming gate — read it
    once and skip the per-call meta read)."""
    built = (built_rows if built_rows is not None else
             store.read_meta(spark, path)["built_rows"])
    total = spark.read.parquet(f"{path}/vectors").count()
    appended = total - built
    ratio = appended / built if built else float("inf")
    return {
        "built_rows": built,
        "total_rows": total,
        "appended_rows": appended,
        "append_ratio": ratio,
        "needs_retrain": ratio > retrain_factor,
    }


def ivf(index: IvfIndex, n_probe: int = 4):
    """Candidates from each query's ``n_probe`` nearest cells of a built
    IVF index.  Queries are the broadcast-small side; the probe join
    touches ~n_probe/n_clusters of the corpus (and, for a persisted
    index, of the FILES — __cell is the partition column).  Recall < 1.0
    by design; ``n_probe`` = n_clusters probes every cell and is exact."""
    cent = index.centroids
    n_probe = min(n_probe, len(cent))

    def candidates(corpus, queries, c):
        @pandas_udf("array<int>")
        def probes_of(vecs: pd.Series) -> pd.Series:
            order = _nearest_cells(_unit_rows(_stack(vecs)), cent, n_probe)
            return pd.Series(list(order.astype("int32")))

        q = queries.filter(F.col(c.vec).isNotNull()).select(
            F.col(c.id).alias(c.qid),
            F.col(c.vec).alias("__qvec"),
            probes_of(F.col(c.vec)).alias("__probes"),
        )
        q_cells = F.broadcast(q.select(
            c.qid, "__qvec", F.explode("__probes").alias("__cell")))
        return index.assigned.join(q_cells, on="__cell")

    return candidates


def lsh(bits: int = 32, bands: int = 4, seed: int = 42):
    """Hyperplane-LSH candidates: corpus rows sharing at least one of
    ``bands`` signature bands (``bits / bands`` bits each) with the
    query.  Recall < 1.0 by design; raise ``bits``/``bands`` for recall,
    lower for speed.

    One distributed signature pass total: queries are the broadcast-small
    side by contract, so their signatures are computed driver-side with
    the same plane matrix (collecting them is no more data than the
    broadcast itself moves) — the corpus-side pandas UDF is the only
    Python stage that scales with data size.  (A tagged corpus∪queries
    union would NOT help here: both post-split branches re-execute the
    lazy UDF, costing 2x(C+Q) instead of C.)

    Measured at sf0.1 (corpus=2000, 10 queries, bits=64 bands=16):
    1.11 s vs 0.95 s brute force — at a 2k-vector corpus the signature
    pass + band join is pure overhead; the LSH path only wins once
    candidate pruning saves more full-corpus scoring than its fixed
    machinery costs (uniform-random synthetic embeddings also force
    near-all-pairs bands for full recall).  The crossover is real: at a
    100k-vector corpus (same 10 queries, 8x8-bit bands) LSH runs 4.9 s
    vs 13.5 s brute force with identical top-k counts — 2.7x, growing
    linearly with corpus size."""

    def candidates(corpus, queries, c):
        corpus = corpus.filter(F.col(c.vec).isNotNull())
        queries = queries.filter(F.col(c.vec).isNotNull())
        qid_type = queries.schema[c.id].dataType.simpleString()
        qvec_type = queries.schema[c.vec].dataType.simpleString()
        qpdf = queries.select(c.id, c.vec).toPandas()
        nq = len(qpdf)
        if not nq:
            return corpus.select(
                F.lit(None).cast(qid_type).alias(c.qid), c.id, c.vec,
                F.lit(None).cast(qvec_type).alias("__qvec")).limit(0)
        qmat = _stack(qpdf[c.vec])
        planes = _planes(bits, qmat.shape[1], seed)
        qsigs = _pack_signatures(qmat, planes, bands)
        spark = corpus.sparkSession

        def _pyid(i):
            v = qpdf[c.id].iloc[i]
            return v.item() if hasattr(v, "item") else v

        # Band postings carry only (query_id, band, band_val); the query
        # vectors live in a separate broadcast joined AFTER candidate
        # dedup, so no vector payload rides the band join or the dedup
        # shuffle.  Both tiny frames are JVM-literal (range + lit
        # arrays, the _centroid_df discipline) — spark.createDataFrame
        # backs them with a Python RDD whose evaluation costs seconds
        # per action on local[32] regardless of data size (round 14:
        # the lifecycle entry read ~3.4 s at sf0.001, i.e.
        # data-independent overhead).
        qid_arr = F.array(*[F.lit(_pyid(i)) for i in range(nq)])
        sig_arr = F.array(*[F.lit(int(v)).cast("long")
                            for i in range(nq) for v in qsigs[i]])
        q_bands = F.broadcast(spark.range(nq * bands).select(
            F.element_at(qid_arr, (F.col("id") / bands).cast("int") + 1)
            .cast(qid_type).alias(c.qid),
            (F.col("id") % bands).cast("int").alias("band"),
            F.element_at(sig_arr, F.col("id").cast("int") + 1)
            .alias("band_val")))
        vec_arrs = F.array(*[
            F.array(*[F.lit(float(x)) for x in qpdf[c.vec].iloc[i]])
            for i in range(nq)])
        q_vecs = F.broadcast(spark.range(nq).select(
            F.element_at(qid_arr, F.col("id").cast("int") + 1)
            .cast(qid_type).alias(c.qid),
            F.element_at(vec_arrs, F.col("id").cast("int") + 1)
            .cast(qvec_type).alias("__qvec")))

        c_bands = corpus.select(
            c.id, F.posexplode(hyperplane_signature(c.vec, planes, bands))
            .alias("band", "band_val"))
        cands = (
            c_bands.join(q_bands, on=["band", "band_val"])
            .select(c.qid, c.id)
            .dropDuplicates([c.qid, c.id])
        )
        return (cands.join(corpus.select(c.id, c.vec), on=c.id)
                .join(q_vecs, on=c.qid))

    return candidates


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector integer quantization — the storage/bandwidth
    primitive for vector search at scale (float32 -> int8 cuts a 100 TB
    embedding corpus to 25 TB and quadruples ANN scan throughput; the
    scale factor dequantizes with bounded error |x| <= scale/2).

    q_i = floor(v_i / scale + 0.5) with scale = amax / (2^(bits-1) - 1).
    ``floor(x + 0.5)`` (NOT ``round``) on purpose: both engines evaluate
    it as the same IEEE double expression, so results are reproducible
    bit-for-bit across Spark and the SQL oracle — ``round`` half-case
    conventions differ per engine.  Zero vectors quantize to zeros with
    scale 0.  Pure JVM array expressions, zero shuffle.
    """
    qmax = float((1 << (bits - 1)) - 1)
    amax = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    scale = amax / F.lit(qmax)
    q = F.when(
        amax == 0,
        F.transform(F.col(vec_col), lambda x: F.lit(0))
    ).otherwise(
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") / scale + F.lit(0.5))
            .cast("int"))
    )
    return df.select(
        F.col(id_col), scale.alias("scale"), q.alias("q"))


def nearest_centroid_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Assign every vector to its nearest per-label cosine centroid —
    the evaluation half of embedding-space labeling (centroid purity /
    pseudo-labeling for curriculum filtering).

    Plan: centroids via posexplode -> (label, dim) avg (the shuffle
    carries one partial sum per (label, dim), never whole vectors) ->
    per-label array reassembly; assignment is a BROADCAST cross join
    (|labels| rows) + JVM cosine + per-vector argmax window.  The
    corpus is scanned twice (centroid pass, assign pass) but shuffled
    only in (label, dim) space — at 100 TB the assign side is
    shuffle-free.
    """
    from pyspark.sql import Window

    cent = (
        df.select(F.col(label_col), F.posexplode(vec_col).alias("dim", "v"))
        .groupBy(label_col, "dim").agg(F.avg("v").alias("cv"))
        .groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cv"))).alias("sc"))
        .select(F.col(label_col).alias("c_label"),
                F.transform("sc", lambda s: s.cv).alias("cvec"))
    )
    scored = df.crossJoin(F.broadcast(cent)).withColumn(
        "sim", cosine(F.col(vec_col), F.col("cvec")))
    w = Window.partitionBy(id_col).orderBy(
        F.col("sim").desc(), F.col("c_label"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(F.col(id_col), F.col(label_col),
                F.col("c_label").alias("pred_label"),
                F.round("sim", 4).alias("sim_r"))
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    **near_dup_kwargs,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: embedding-cosine near-dup
    pairs -> transitive components -> keep ONE representative (min id)
    per component, plus every row with no near-duplicate.

    The output is ``df`` minus the rows whose component label is some
    other row — i.e. the curated corpus after semantic collapse.  The
    pair stage routes exact/LSH via
    :func:`embedding_near_dup_pairs`'s ``method`` (forwardable through
    ``near_dup_kwargs``); the component stage is
    :func:`~.dedup.connected_components` (min-label propagation, id
    pairs only); the removal is a single anti-join on the id — at
    100 TB the corpus shuffles once, by id, carrying vectors only in
    the (bounded) pair stage.
    """
    from .dedup import connected_components

    pairs = embedding_near_dup_pairs(
        df, id_col, vec_col, threshold=threshold, **near_dup_kwargs)
    comps = connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def embedding_dedup_delta(
    index: IvfIndex,
    delta: DataFrame,
    threshold: float = 0.9,
    n_probe: int = 4,
    k: int = 20,
    method: str = "exact",
) -> DataFrame:
    """Near-dup a DELTA batch of embeddings against a persisted/built IVF
    index (and within itself) — the ANN analogue of
    ``dedup.minhash_dedup_delta`` and the production shape for embedding
    dedup at corpus scale: the O(corpus) work (k-means + cell
    assignment + cell-partitioned layout) was paid once at
    :func:`ivf_build`; each delta costs one probe join touching
    ~n_probe/n_clusters of the corpus (and of the FILES when the index
    is persisted — __cell is the partition column).

    Returns ``(id_a, id_b, cos_sim, kind)``: ``kind='corpus'`` rows pair
    a delta id with an existing corpus id; ``kind='delta'`` rows pair
    two new embeddings (id_a < id_b), found via
    :func:`embedding_near_dup_pairs` over the (small) delta with
    ``method`` (exact broadcast-matmul by default — the delta is small
    by contract).

    ``k`` caps corpus matches returned per delta vector (top-k by
    cosine); raise it if a delta vector may legitimately near-dup more
    than ``k`` corpus rows above the threshold.
    """
    hits = knn_topk(index.assigned, delta, k,
                    candidates=ivf(index, n_probe), id_col=index.id_col,
                    vec_col=index.vec_col, query_id_col="__qid")
    corpus_pairs = (
        hits.filter(F.col("cos_sim") >= threshold)
        .select(F.col("__qid").alias("id_a"),
                F.col(index.id_col).alias("id_b"),
                F.round("cos_sim", 6).alias("cos_sim"),
                F.lit("corpus").alias("kind"))
    )
    delta_pairs = (
        embedding_near_dup_pairs(
            delta, index.id_col, index.vec_col,
            threshold=threshold, method=method)
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"),
                F.lit("delta").alias("kind"))
    )
    return corpus_pairs.unionByName(delta_pairs)


# ---------------------------------------------------------------------------
# Product quantization (Jegou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011) — the memory-bounded ANN tier below IVF:
# a d-dim float vector (4d bytes) compresses to m single-byte codes, so a
# 100 TB embedding corpus's search structure fits in a fraction of the
# raw footprint and the ADC scan reads m bytes + a tiny lookup table per
# row instead of d floats.  Beyond-reference (the reference has no
# vector layer); complements ivf_build (coarse routing) and
# knn_topk (exact re-rank).
# ---------------------------------------------------------------------------

@dataclass
class PqModel:
    """Trained product quantizer: ``codebooks[m][ks][dsub]`` (numpy),
    trained on L2-normalized vectors so asymmetric inner-product
    distance approximates cosine."""

    codebooks: "np.ndarray"

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def ks(self) -> int:
        return self.codebooks.shape[1]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]

    @property
    def dim(self) -> int:
        return self.m * self.dsub


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 256,
    train_sample: int = 100_000,
    kmeans_iters: int = 10,
    seed: int = 42,
) -> PqModel:
    """Train the ``m`` sub-quantizers on a bounded, hash-ordered sample
    (:func:`_hash_sample`: smallest ``xxhash64(id, seed)`` wins —
    partition-layout-independent, restart-deterministic).  Training
    is driver-side numpy by design: the model is ``m * ks * dsub``
    floats (bounded by parameters, never by the corpus), and each
    sub-quantizer is a standard Lloyd's k-means over the sample's
    ``dsub``-dim slice.  Vectors are L2-normalized before slicing so
    summed sub-space inner products approximate full cosine."""
    if m < 1 or ks < 2 or ks > 256:
        raise ValueError(f"need m >= 1 and 2 <= ks <= 256, got m={m} ks={ks}")
    rows = _hash_sample(corpus.filter(F.col(vec_col).isNotNull()), id_col,
                        [vec_col], train_sample, seed)
    mat = _unit_rows(_stack([r[0] for r in rows]))
    return PqModel(codebooks=_train_codebooks(mat, m, ks, kmeans_iters, seed))


def _train_codebooks(mat: "np.ndarray", m: int, ks: int,
                     kmeans_iters: int, seed: int) -> "np.ndarray":
    """Per-sub-space Lloyd's k-means over an ALREADY-prepared training
    matrix (callers decide normalization: raw-vector PQ trains on
    L2-normalized rows, residual PQ on un-normalized residuals)."""
    d = mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = np.empty((m, min(ks, len(mat)), dsub), dtype="float64")
    rng = np.random.RandomState(seed)
    for j in range(m):
        sub = mat[:, j * dsub:(j + 1) * dsub]
        cent = sub[rng.choice(len(sub), size=min(ks, len(sub)),
                              replace=False)].copy()
        for _ in range(kmeans_iters):
            # sub-space means are NOT re-normalized (PQ codewords live
            # in the sub-space)
            assign = _nearest_codes(sub, cent)
            for c in range(len(cent)):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j, :len(cent)] = cent
    return books


def pq_encode(
    df: DataFrame,
    model: PqModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode every vector to its ``m`` nearest-codeword indices:
    ``(id, pq_code array<smallint>)``.  One numpy pass per Arrow batch
    (codebooks ride the closure — ``m*ks*dsub`` floats), zero shuffle.
    Encoding is stateless given the model, so a growing corpus appends
    by encoding just the delta — no index maintenance machinery needed
    (contrast :func:`ivf_append`, which must respect cell layout)."""
    return df.select(F.col(id_col),
                     _pq_encoder(model)(F.col(vec_col)).alias(out_col))


def _pq_encoder(model: PqModel, centroids: "np.ndarray | None" = None):
    """The one PQ encoder UDF: unit-normalize each vector and emit its
    nearest codeword per sub-space as ``array<smallint>``.  With
    ``centroids`` (residual IVF-PQ) the UDF also takes the ``__cell``
    column and encodes ``unit(v) - centroids[cell]``."""
    books = model.codebooks.copy()
    if centroids is None:
        @pandas_udf("array<smallint>")
        def enc(vecs: pd.Series) -> pd.Series:
            return pd.Series(list(_pq_codes(_unit_rows(_stack(vecs)),
                                            books)))

        return enc

    @pandas_udf("array<smallint>")
    def enc_residual(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        res = (_unit_rows(_stack(vecs))
               - centroids[cells.to_numpy().astype("int64")])
        return pd.Series(list(_pq_codes(res, books)))

    return enc_residual


def _adc_kernel(queries: DataFrame, id_col: str, vec_col: str,
                model: PqModel):
    """The asymmetric-distance kernel of the :func:`pq` and
    :func:`ivfpq` generators: the unit-normalised query matrix ``(nq, d)``,
    the query ids as a literal array (in the queries frame's id dtype,
    so an output ``query_id`` matches the corpus id type exactly) and a
    pandas UDF mapping a PQ code to its ``nq`` ADC scores.  The lookup
    table ``LUT[q, j, code]`` (inner product of query sub-vector ``j``
    with each codeword) is built driver-side and rides the closure."""
    qrows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    qmat = _unit_rows(_stack([r[1] for r in qrows]))
    books, dsub = model.codebooks, model.dsub
    lut = np.stack([qmat[:, j * dsub:(j + 1) * dsub] @ books[j].T
                    for j in range(model.m)], axis=1)     # (nq, m, ks)

    @pandas_udf("array<double>")
    def adc(code_s: pd.Series) -> pd.Series:
        cmat = np.stack(code_s.to_numpy()).astype("int64")      # (B, m)
        scores = np.zeros((len(cmat), lut.shape[0]))
        for j in range(lut.shape[1]):
            scores += lut[:, j, cmat[:, j]].T                   # (B, nq)
        return pd.Series(list(np.round(scores, 6)))

    qid_type = queries.schema[id_col].dataType
    qid_arr = F.array(*[F.lit(r[0]).cast(qid_type) for r in qrows])
    return qmat, qid_arr, adc


def _shortlist(scored: DataFrame, n: int, corpus: DataFrame,
               queries: DataFrame, c: KnnCols) -> DataFrame:
    """Cut ADC-scored ``(qid, id, adc_score)`` rows to the ``n`` best per
    query by ``(adc_score desc, id)`` — after the plan's self-match
    filter, so a self-match never takes a slot — and attach the true
    vectors the plan reranks.  The rerank costs |shortlist| dot
    products, bounded by ``n * |queries|`` whatever the corpus size."""
    if c.keep is not None:
        scored = scored.filter(c.keep)
    short = topk_per_group(
        scored, [c.qid], [F.col("adc_score").desc(), F.col(c.id)], n)
    return (short.select(c.qid, c.id)
            .join(corpus.select(F.col(c.id), F.col(c.vec)), c.id)
            .join(_query_vecs(queries, c), c.qid))


def pq(model: PqModel, codes: DataFrame, shortlist: int = 50):
    """Asymmetric-distance (ADC) candidates over a PQ-coded corpus
    (``codes``: :func:`pq_encode` output): per-query lookup tables
    ``LUT[q][j][code] = <q_j, codeword>`` are built driver-side
    (``nq * m * ks`` floats — query sets are small by retrieval's
    contract) and ride the UDF closure; each corpus row costs ``m``
    table lookups instead of a ``d``-float dot product, and the scan
    reads codes only — never the raw vectors.  The ``shortlist`` best
    ADC scores per query go on to the exact rerank (the standard
    two-stage shape); a corpus-sized shortlist is exact."""

    def candidates(corpus, queries, c):
        _, qid_arr, adc = _adc_kernel(queries, c.id, c.vec, model)
        scored = (
            codes.select(F.col(c.id), adc(F.col("pq_code")).alias("__s"))
            .select(F.col(c.id),
                    F.posexplode("__s").alias("__qi", "adc_score"))
            .select(F.element_at(qid_arr, F.col("__qi") + 1).alias(c.qid),
                    F.col(c.id), F.col("adc_score"))
        )
        return _shortlist(scored, shortlist, corpus, queries, c)

    return candidates


def save_pq(model: PqModel, spark, path: str) -> None:
    """Persist codebooks as a one-row parquet (JVM-literal write — see
    :func:`_centroid_df` for why not ``createDataFrame``)."""
    m, ks, dsub = model.codebooks.shape
    flat = F.array(*[F.lit(float(x)) for x in model.codebooks.ravel()])
    spark.range(1).select(
        flat.alias("books"),
        F.lit(m).cast("int").alias("m"),
        F.lit(ks).cast("int").alias("ks"),
        F.lit(dsub).cast("int").alias("dsub"),
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_pq(spark, path: str) -> PqModel:
    r = spark.read.parquet(path).collect()[0]
    books = np.array(r["books"], dtype="float64").reshape(
        r["m"], r["ks"], r["dsub"])
    return PqModel(codebooks=books)


# ---------------------------------------------------------------------------
# Distributed spherical k-means — corpus-scale clustering (SemDeDup's
# Abbas et al. 2023 recipe clusters embeddings FIRST, then dedups within
# clusters; the same partition also drives mixture balancing and
# per-cluster quality audits).  ivf_build's driver k-means trains a
# quantizer on a bounded SAMPLE; this trains on the WHOLE corpus with
# per-iteration cost = one scan + a (k*d)-bounded shuffle.
# ---------------------------------------------------------------------------

def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
    init_sample: int = 10_000,
    seed: int = 42,
) -> "np.ndarray":
    """Fit spherical (cosine) k-means over the full corpus; returns the
    ``(k, d)`` L2-normalized centroid matrix.

    Per iteration: centroids broadcast inside an Arrow-batched UDF
    (one numpy matmul per batch assigns cells), then new centroids
    come back as ``(cell, dim)`` partial sums — ``mapInPandas``
    reduces every batch to at most ``k * (d + 1)`` partial rows
    (count + per-dim sums per cell), so the shuffle is bounded by
    ``k * d * tasks`` regardless of corpus size, and the driver
    collects ``k * (d + 1)`` doubles (same dimension-bounded contract
    as ``fit_pca``).  Initialization is a driver k-means on the
    hash-ordered unbiased sample (``ivf_build`` discipline) so the
    distributed loop starts from a reasonable partition.  Rows are
    unit-normalized by :func:`_unit_rows` (a zero row stays zero).
    Empty clusters keep their previous centroid.
    """
    corpus = df.filter(F.col(vec_col).isNotNull())
    rows = _hash_sample(corpus, id_col, [vec_col], init_sample, seed)
    cent = _kmeans_centroids(_unit_rows(_stack([r[0] for r in rows])), k,
                             iters=3, seed=seed)

    d = cent.shape[1]
    for _ in range(iters):
        books = cent.copy()

        def partials(batches):
            sums = np.zeros((len(books), d))
            counts = np.zeros(len(books), dtype="int64")
            for pdf in batches:
                if not len(pdf):
                    continue
                m = _unit_rows(_stack(pdf[vec_col]))
                assign = np.argmax(m @ books.T, axis=1)
                np.add.at(sums, assign, m)
                np.add.at(counts, assign, 1)
            hit = np.nonzero(counts)[0]
            if not len(hit):
                return
            yield pd.DataFrame({
                "cell": np.repeat(hit, d + 1).astype("int32"),
                "idx": np.tile(np.arange(-1, d), len(hit)).astype("int32"),
                "val": np.concatenate([
                    np.concatenate(([float(counts[c])], sums[c]))
                    for c in hit]),
            })

        agg = (
            corpus.select(vec_col)
            .mapInPandas(partials, schema="cell int, idx int, val double")
            .groupBy("cell", "idx").agg(F.sum("val").alias("v"))
            .collect()  # <= k * (d + 1) rows — dimension-bounded
        )
        sums = np.zeros((len(cent), d))
        counts = np.zeros(len(cent))
        for r in agg:
            if r["idx"] < 0:
                counts[r["cell"]] = r["v"]
            else:
                sums[r["cell"], r["idx"]] = r["v"]
        for c in range(len(cent)):
            if counts[c] > 0:
                _renormalize(cent, c, sums[c] / counts[c])
    return cent


def kmeans_predict(
    df: DataFrame,
    centroids: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """Assign every vector to its nearest (cosine) centroid:
    ``(id, cluster)``.  Broadcast centroids in the closure, one numpy
    matmul per Arrow batch, zero shuffle — the same plan as
    ``ivf_build``'s cell assignment."""
    cent = np.asarray(centroids, dtype="float64")
    return df.select(
        F.col(id_col),
        _cell_udf(cent)(F.col(vec_col)).alias(out_col))


def semantic_dedup_clustered(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    threshold: float = 0.9,
    iters: int = 3,
    method: str = "auto",
    bits: int = 128,
    bands: int = 8,
    seed: int = 42,
    max_cluster_pair_cells: int = 25_000_000,
) -> DataFrame:
    """SemDeDup as published (Abbas et al. 2023): k-means-cluster the
    corpus, then find near-duplicates WITHIN clusters only — the
    cluster id becomes a blocking key, so candidate generation never
    crosses cluster boundaries and the per-cluster work is
    |cluster|-bounded instead of corpus-bounded.  Pairs above
    ``threshold`` collapse to their min-id representative; the output
    is the curated corpus.  (Cross-cluster near-dups are missed by
    construction — the paper's accepted trade; the LSH-blocked
    :func:`semantic_dedup` is the alternative when that matters.)

    Within-cluster pair generation routes by size (``method="auto"``):
    the exact all-pairs join costs ``sum_c |c|^2`` — the paper keeps it
    tractable by choosing k large enough that clusters stay small, but
    a skewed corpus (one mega-cluster of boilerplate) breaks that
    assumption silently.  A k-row size aggregate prices the join first;
    over ``max_cluster_pair_cells`` (default 25M pairs ≈ the exact
    path's measured knee) candidates switch to hyperplane-LSH banding
    COMPOSED with the cluster key — rows must share
    ``(cluster, band, band_value)`` — so candidate generation inside
    the offending cluster is bucket-bounded, id-only, with exact-cosine
    verification after the pair dedup (the
    :func:`embedding_near_dup_pairs` shuffle discipline).  At
    ``threshold >= 0.9`` a signature bit agrees w.p. ~0.9 and the
    16-bit x 8-band default keeps recall high; ``method="exact"`` /
    ``"lsh"`` force a path."""
    if method not in ("exact", "lsh", "auto"):
        raise ValueError(f"method must be exact|lsh|auto, got {method!r}")
    cent = kmeans_fit(df, vec_col, id_col, k=k, iters=iters)
    assigned = df.join(
        kmeans_predict(df, cent, id_col, vec_col), id_col)
    if method == "auto":
        # k-row aggregate: the price of never running a blind n^2 join
        sizes = assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n"))
        cells = sizes.agg(
            F.sum(F.col("n") * F.col("n"))).collect()[0][0] or 0
        method = "exact" if cells <= max_cluster_pair_cells else "lsh"
    if method == "exact":
        a = assigned.select(F.col("cluster"),
                            F.col(id_col).alias("id_a"),
                            F.col(vec_col).alias("__va"))
        b = assigned.select(F.col("cluster"),
                            F.col(id_col).alias("id_b"),
                            F.col(vec_col).alias("__vb"))
        pairs = (
            a.join(b, "cluster")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("sim", cosine(F.col("__va"), F.col("__vb")))
            .filter(F.col("sim") >= threshold)
            .select("id_a", "id_b")
        )
    else:
        dim = assigned.select(
            F.size(F.col(vec_col)).alias("d")).first()["d"]
        sig = hyperplane_signature(vec_col, _planes(bits, dim, seed), bands)
        h = assigned.select(F.col(id_col), F.col("cluster"),
                            sig.alias("__sig"))
        expl = h.select(
            id_col, "cluster",
            F.posexplode("__sig").alias("band", "band_val"))
        ca = expl.select(F.col(id_col).alias("id_a"),
                         "cluster", "band", "band_val")
        cb = expl.select(F.col(id_col).alias("id_b"),
                         "cluster", "band", "band_val")
        cand = (
            ca.join(cb, on=["cluster", "band", "band_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        va = assigned.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
        vb = assigned.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
        pairs = (
            cand.join(va, "id_a").join(vb, "id_b")
            .withColumn("sim", cosine(F.col("__va"), F.col("__vb")))
            .filter(F.col("sim") >= threshold)
            .select("id_a", "id_b")
        )
    from .dedup import connected_components

    comps = connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def ivfpq_train_residual(
    index: IvfIndex,
    m: int = 8,
    ks: int = 256,
    train_sample: int = 100_000,
    kmeans_iters: int = 10,
    seed: int = 42,
) -> PqModel:
    """Train PQ codebooks on coarse-quantizer RESIDUALS
    (``normalized(v) - centroid[cell]``) — the FAISS IVFPQ default:
    residuals concentrate near the origin with far less variance than
    raw vectors, so the same ``m``/``ks`` budget spends its codewords
    on the fine structure the coarse cells can't express (measured
    here: ~1.5-1.8x lower reconstruction error on the planted-cluster
    fixture, tests/test_pq.py — the gap widens as cluster count
    outgrows the codebook budget).  The sample is
    :func:`_hash_sample`'s, bounded by ``train_sample``."""
    rows = _hash_sample(index.assigned, index.id_col,
                        [index.vec_col, "__cell"], train_sample, seed)
    cells = np.array([r[1] for r in rows], dtype="int64")
    res = _unit_rows(_stack([r[0] for r in rows])) - index.centroids[cells]
    return PqModel(codebooks=_train_codebooks(
        res, m, ks, kmeans_iters, seed))


def ivfpq_encode(
    index: IvfIndex,
    model: PqModel,
    code_col: str = "pq_code",
    residual: bool = False,
) -> DataFrame:
    """PQ-encode an IVF index's assigned corpus: ``(id, __cell, code)``
    — the FAISS-IVFPQ storage layout (coarse cell for routing, byte
    codes for scanning).  Persist partitioned by ``__cell`` and a
    probed search reads ``n_probe/n_clusters`` of the FILES and only
    ``m`` bytes per row of those.

    ``residual=True`` encodes ``normalized(v) - centroid[cell]`` with a
    residual-trained model (:func:`ivfpq_train_residual`) — pass the
    SAME flag to :func:`ivfpq` so the ADC adds the coarse term
    back.  ``residual=False`` encodes exactly as :func:`pq_encode`."""
    if residual:
        code = _pq_encoder(model, index.centroids)(
            F.col(index.vec_col), F.col("__cell"))
    else:
        code = _pq_encoder(model)(F.col(index.vec_col))
    return index.assigned.select(
        F.col(index.id_col), F.col("__cell"), code.alias(code_col))


def ivfpq(
    index: IvfIndex,
    model: PqModel,
    codes: DataFrame | None = None,
    n_probe: int = 4,
    shortlist: int = 50,
    residual: bool = False,
):
    """FAISS-style IVF-PQ candidates: coarse-probe ``n_probe`` cells per
    query (driver numpy over the tiny centroid matrix), ADC-scan ONLY
    the probed cells' codes (``m`` table lookups per row — and
    file-level pruning when the codes frame is cell-partitioned
    parquet), and keep a ``shortlist``-deep candidate set per query for
    the exact rerank.  ``codes`` defaults to :func:`ivfpq_encode` of the
    index (pass ``residual`` as encoded).

    The three approximations (probe subset, PQ distance, shortlist cut)
    are each exact at full width (n_probe=all, shortlist=corpus) —
    prune for speed, widen for recall, the contract every ANN
    deployment tunes."""
    cent = index.centroids
    n_probe = min(n_probe, len(cent))

    def candidates(corpus, queries, c):
        coded = (codes if codes is not None
                 else ivfpq_encode(index, model, residual=residual))
        qmat, qid_arr, adc = _adc_kernel(queries, c.id, c.vec, model)
        probes = _nearest_cells(qmat, cent, n_probe)      # (nq, n_probe)
        all_cells = sorted({int(x) for row in probes for x in row})
        # per-query probe sets as a literal map: query index -> cells
        probe_map = F.array(*[
            F.array(*[F.lit(int(x)) for x in row]) for row in probes
        ])
        scored = (
            coded.filter(F.col("__cell").isin(all_cells))  # union pruning
            .select(F.col(c.id), F.col("__cell"),
                    adc(F.col("pq_code")).alias("__s"))
            .select(F.col(c.id), F.col("__cell"),
                    F.posexplode("__s").alias("__qi", "adc_score"))
            # per-query pruning: the row's cell must be in THIS query's
            # probes
            .filter(F.array_contains(
                F.element_at(probe_map, F.col("__qi") + 1),
                F.col("__cell")))
        )
        if residual:
            # residual ADC approximates q.(c + r): the codes carry only
            # the residual term, so add back the per-(query, cell)
            # coarse dot product — an nq x n_clusters literal lookup,
            # JVM-side
            sims = qmat @ cent.T
            coarse = F.array(*[
                F.array(*[F.lit(round(float(sims[i, j]), 6))
                          for j in range(len(cent))])
                for i in range(len(qmat))
            ])
            scored = scored.withColumn(
                "adc_score",
                F.round(
                    F.col("adc_score")
                    + F.element_at(F.element_at(coarse, F.col("__qi") + 1),
                                   F.col("__cell") + 1), 6))
        scored = scored.select(
            F.element_at(qid_arr, F.col("__qi") + 1).alias(c.qid),
            F.col(c.id), F.col("adc_score"))
        return _shortlist(scored, shortlist, index.assigned, queries, c)

    return candidates


def opq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 256,
    train_sample: int = 100_000,
    kmeans_iters: int = 10,
    opq_iters: int = 5,
    seed: int = 42,
) -> "tuple[np.ndarray, PqModel]":
    """OPQ (Ge et al., "Optimized Product Quantization", CVPR 2013):
    learn an orthonormal rotation ``R`` so the rotated space's
    coordinate blocks carry balanced, decorrelated variance, then
    product-quantize THERE — the standard fix for PQ's blind spot
    (correlated dimensions straddling sub-space boundaries waste
    codewords).  Returns ``(R, model)``; encode with
    :func:`pq_encode` after :func:`opq_rotate`, and let :func:`pq`
    candidates score rotated queries.

    Training is the paper's alternating minimization on the bounded
    :func:`_hash_sample` (as :func:`pq_train`): fix R ->
    k-means each sub-space; fix codebooks -> R from the SVD of
    ``X^T Y`` (Procrustes solution, X = data, Y = reconstructions).
    All driver-side numpy on ``train_sample`` rows; the model is
    ``(d^2 + m*ks*dsub)`` floats — parameter-bounded, never
    corpus-bounded.  Verified in tests: rotated-space reconstruction
    error is never worse than plain PQ (equal when data is already
    axis-aligned), and full-width search stays exact-by-construction."""
    rows = _hash_sample(corpus.filter(F.col(vec_col).isNotNull()), id_col,
                        [vec_col], train_sample, seed)
    mat = _unit_rows(_stack([r[0] for r in rows]))
    d = mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    R = np.eye(d)
    books = None
    for _ in range(opq_iters):
        rot = mat @ R
        books = _train_codebooks(rot, m, ks, kmeans_iters, seed)
        # reconstruction in rotated space
        codes = _pq_codes(rot, books)
        recon = np.concatenate([books[j][codes[:, j]] for j in range(m)],
                               axis=1)
        # Procrustes: R = argmin ||X R - recon||_F over orthonormal R
        u, _, vt = np.linalg.svd(mat.T @ recon)
        R = u @ vt
    return R, PqModel(codebooks=books)


def opq_rotate(
    df: DataFrame,
    R: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Apply the learned OPQ rotation to (L2-normalized) vectors:
    ``(id, rotated)`` — one numpy matmul per Arrow batch with the
    ``d x d`` rotation riding the closure, zero shuffle.  Rotation
    preserves inner products up to the shared orthonormal transform,
    so cosine rankings computed in rotated space equal the originals
    (the property the exactness tests pin)."""
    out_col = out_col or vec_col
    rot = np.asarray(R, dtype="float64")

    @pandas_udf("array<double>")
    def apply_rot(vecs: pd.Series) -> pd.Series:
        return pd.Series(list(_unit_rows(_stack(vecs)) @ rot))

    return df.select(F.col(id_col), apply_rot(F.col(vec_col)).alias(out_col))


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    k: int = 10,
    mode: str = "hard",
    margin: float = 0.2,
) -> DataFrame:
    """Mine negatives for contrastive / metric training: for each query
    vector, the top-``k`` most-cosine-similar corpus rows whose
    ``label_col`` DIFFERS from the query's label.

    ``mode="hard"`` keeps the overall most-similar wrong-label rows —
    the DPR-style "hardest negatives" that dominate the gradient.
    ``mode="semi_hard"`` applies the FaceNet (Schroff et al. 2015)
    band: keep only negatives scoring BELOW the query's best positive
    (its most-similar same-label row, self excluded) but within
    ``margin`` of it — negatives that are wrong yet close enough to be
    informative, skipping both trivial and false-positive-prone ones.
    Queries with no positive produce no semi-hard rows (there is no
    anchor band), matching the triplet-mining convention.

    Output: ``(query_id, vec_id, cos_sim)`` (+ ``pos_sim`` for
    semi_hard), deterministic tie-break on corpus id.

    Plan: the wrong-label pairs are :func:`knn_topk`'s candidates —
    queries broadcast against the corpus (the corpus NEVER shuffles),
    and the plan's exact cosine, self-match filter and (cos_sim desc,
    id) cut.  semi_hard adds one extra broadcast — the per-query
    positive max is ≤ |Q| rows aggregated map-side, joined again onto
    the k-bounded result for ``pos_sim``.
    """
    if mode not in ("hard", "semi_hard"):
        raise ValueError(f"mode must be 'hard' or 'semi_hard', got {mode!r}")
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("__qvec"),
            F.col(label_col).alias("__qlabel"),
        )
    )
    pairs = corpus.select(id_col, vec_col, label_col).crossJoin(q)
    neg = pairs.filter(F.col(label_col) != F.col("__qlabel"))
    if mode == "semi_hard":
        # the band needs the anchor: the query's most-similar same-label
        # row, itself excluded
        sim = cosine(F.col(vec_col), F.col("__qvec"))
        pos_best = F.broadcast(
            pairs.filter((F.col(label_col) == F.col("__qlabel"))
                         & (F.col(id_col) != F.col(query_id_col)))
            .groupBy(query_id_col)
            .agg(F.max(sim).alias("pos_sim"))
        )
        neg = (
            neg.join(pos_best, query_id_col)
            .filter((sim < F.col("pos_sim"))
                    & (sim >= F.col("pos_sim") - F.lit(margin)))
        )

    def wrong_label(*_):
        return neg

    top = knn_topk(corpus, queries, k, candidates=wrong_label,
                   id_col=id_col, vec_col=vec_col, query_id_col=query_id_col)
    if mode == "hard":
        return top
    return top.join(pos_best, query_id_col).select(
        query_id_col, id_col, "cos_sim", "pos_sim")


def embedding_mmd(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Linear-kernel Maximum Mean Discrepancy between two embedding
    slices: ``MMD^2 = ||mean(A) - mean(B)||^2`` — the embedding-space
    drift check next to the token-space :func:`~.corpus.token_jsd`
    ("same tokenizer, same text stats, but did the REPRESENTATIONS
    move?" — a re-embedded corpus or a new encoder version shifts this
    first).  The linear kernel keeps it exactly distributable: two
    per-dimension mean vectors, one subtraction — no pairwise kernel
    matrix (the RBF variant is quadratic by construction and belongs
    in a sampled offline check, not a corpus operator).

    Output: one row ``(dim, n_a, n_b, mmd2)``.

    Plan: one ``posexplode`` + per-dimension average per slice (rows x
    dim values stream through a dim-bounded partial agg), a
    dim-row join, a scalar rollup.  Everything past the scans is
    dimension-bounded.
    """
    def dim_means(df: DataFrame, m: str, n: str) -> DataFrame:
        return (
            df.select(F.posexplode(F.col(vec_col)).alias("i", "x"))
            .groupBy("i")
            .agg(F.avg("x").alias(m), F.count(F.lit(1)).alias(n))
        )

    a = dim_means(corpus_a, "ma", "na")
    b = dim_means(corpus_b, "mb", "nb")
    return (
        a.join(b, "i")
        .agg(
            F.count(F.lit(1)).alias("dim"),
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.round(
                F.sum(F.pow(F.col("ma") - F.col("mb"), F.lit(2.0))), 6)
            .alias("mmd2"))
    )
