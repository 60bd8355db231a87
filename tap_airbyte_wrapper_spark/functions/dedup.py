"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The dedup family a 100 TB training-data pipeline needs (the reference has
no dedup at all — PKs are metadata only, reference tap.py:934-943).
Tokenize/shingle/per-element hashing stays JVM-side (cheap higher-order
expressions, one xxhash64 per element); the k-way signature reductions
(minhash minima, simhash bit sums) run in Arrow-batched pandas UDFs as
single vectorized numpy passes — narrow, shuffle-free, and without the
k-wide generated aggregate code whose JIT compile dominates one-shot
runs.  Rows only multiply at the LSH band stage, where candidate
generation genuinely requires a shuffle:

  exact:    fingerprint groupBy                    1 shuffle (on the hash)
  minhash:  sig (narrow, no shuffle) -> bands explode (xB) -> bucket join
  simhash:  sig (narrow, no shuffle) -> pigeonhole segs -> bucket join
  jaccard:  shingle explode -> hashed-shingle postings self-join (exact;
            use on LSH candidates or behind blocking keys at scale)

Canonicalization is greedy by default (keep lowest doc id of each pair);
``minhash_dedup(transitive=True)`` upgrades to full transitive closure
via :func:`connected_components` (iterative min-label propagation).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from ..casefold import lower
from . import hamming, index_store as store
from ._cache import cache_bounded
from .text import _let

__all__ = [
    "simhash_index_write", "simhash_dedup_delta", "simhash_index_append",
    "shingles",
    "exact_dedup",
    "soft_dedup_weights",
    "paragraph_dedup",
    "boilerplate_removal",
    "minhash_signature",
    "minhash_signatures_df",
    "lsh_candidate_pairs",
    "minhash_near_dup_pairs",
    "minhash_dedup",
    "dedup_keep_best",
    "connected_components",
    "simhash",
    "simhash_near_dup_pairs",
    "ngram_jaccard_pairs",
    "containment_pairs",
    "exact_jaccard_on_pairs",
    "minhash_verified_pairs",
    "simhash_verified_pairs",
    "minhash_index_write",
    "containment_prefix_candidates",
    "lsh_plan",
    "minhash_index_append",
    "minhash_dedup_delta",
]


def _norm_words(col: Column) -> Column:
    """Casefolded whitespace-split word array (one regexp pass)."""
    return F.split(lower(F.trim(col)), r"\s+")


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (casefolded, whitespace-normalized).
    Shorter docs yield their single full-text shingle.

    Built by zipping the word array with its own shifted slices
    (``zip_with(words, words[k:], concat_ws)``) — O(words) with cheap
    per-element ops, ~5x faster than the transform-over-indices +
    per-shingle ``slice`` formulation (HOFs are interpreted, so the
    per-element work must be minimal)."""
    def shingles_of(words):
        cnt = F.size(words)
        acc = words
        for k in range(1, n):
            shifted = F.slice(words, k + 1, F.greatest(cnt - k, F.lit(0)))
            # zip_with pads the shorter side with null; concat_ws skips
            # nulls, so trailing partial shingles exist until the final
            # slice drops them
            acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
        full = F.slice(acc, 1, F.greatest(cnt - (n - 1), F.lit(1)))
        return F.when(cnt >= n, full).otherwise(
            F.array(F.concat_ws(" ", words)))

    # the word array is bound once per row: each zip_with would otherwise
    # re-split (and re-fold) the text
    return _let(_norm_words(col), shingles_of)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on the md5 fingerprint; survivor = min id (deterministic).
    One shuffle, on the 128-bit hash — never on the raw text.

    Shape: ``row_number() over (partition by fingerprint order by id)``,
    NOT groupBy-winner + semi-join-back.  Both shuffle the full rows once,
    but the join formulation executes the upstream plan on BOTH sides —
    measured 2x the runtime when the input is a derived pipeline (scored +
    filtered corpus_curation); the window scans the input once."""
    from pyspark.sql import Window

    from .text import fingerprint

    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    return (
        df.withColumn("__fp", fingerprint(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def soft_dedup_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    alpha: float = 1.0,
) -> DataFrame:
    """Soft deduplication: instead of DROPPING exact duplicates, keep
    every copy and attach a training weight ``1 / n_copies^alpha`` —
    the sampling-pressure variant of dedup (duplicated text still
    contributes, but its total gradient mass matches a single copy;
    ``alpha < 1`` interpolates toward no-dedup, the knob the
    soft-dedup literature sweeps).  Use when hard dropping is too
    blunt: boilerplate-adjacent pages with small unique payloads, or
    license/citation text that SHOULD stay represented.

    Output: the input rows + ``(n_copies, weight)``; weights feed
    :func:`~.sampling.weighted_sample` or a loss-weighting column in
    the packed output.  Groups key on the same normalized md5
    fingerprint as :func:`exact_dedup`, so hard-drop and soft-weight
    agree on what "a copy" is.

    Plan: ONE count-window over the fingerprint shuffle — same
    single-scan shape (and the same measured 2x argument) as
    :func:`exact_dedup`'s row_number; no groupBy + join-back.
    """
    from pyspark.sql import Window

    from .text import fingerprint

    w = Window.partitionBy("__fp")
    return (
        df.withColumn("__fp", fingerprint(F.col(text_col)))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .withColumn(
            "weight",
            F.round(F.pow(1.0 / F.col("n_copies"), F.lit(float(alpha))), 6))
        .drop("__fp")
    )


def minhash_signature(
    col: Column, num_hashes: int = 128, shingle_len: int = 3
) -> Column:
    """MinHash signature as array<long>: per seed, min over shingles of
    xxhash64(seed, shingle).  Pure codegen — no explode, no UDF.

    Shape matters: the shingle array is the ``aggregate`` INPUT, so it is
    evaluated once per row; the running k-vector of minima folds over it
    with ``zip_with(least)``.  The transposed formulation (``transform``
    over seeds, ``array_min`` inside) inlines and recomputes the shingle
    expression per seed — measured 60x slower at 5k docs x 64 hashes.
    """
    sh = shingles(col, shingle_len)
    long_max = F.lit(9223372036854775807).cast("long")
    return F.aggregate(
        sh,
        F.array_repeat(long_max, num_hashes),
        lambda acc, s: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda seed: F.xxhash64(seed, s),
            ),
            lambda a, b: F.least(a, b),
        ),
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    sig_col: str = "sig",
    bands: int = 32,
) -> DataFrame:
    """Candidate pairs from banded LSH: split each signature into ``bands``
    chunks, hash each chunk, bucket-join docs sharing any (band, hash).

    Output: (id_a, id_b) with id_a < id_b, distinct.  The only row
    explosion is x``bands`` per doc; the self-join shuffles on the band
    hash, whose cardinality AQE handles (a degenerate bucket = docs all
    identical — exact-dedup first to keep buckets small).
    """
    sig_size_expr = F.size(F.col(sig_col))
    return _band_pairs(sig_df, id_col, F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            b,
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        F.col(sig_col),
                        b * (sig_size_expr / bands).cast("int") + 1,
                        (sig_size_expr / bands).cast("int"),
                    ),
                    lambda x: x.cast("string"),
                ),
            ),
        ),
    ))


def _band_pairs(df: DataFrame, id_col: str,
                band_hashes: Column) -> DataFrame:
    """(id_a, id_b), id_a < id_b, distinct: the docs sharing any
    ``(band, band_hash)`` bucket of their ``band_hashes`` array — the
    banded-LSH self-join, id-only."""
    rows = df.select(F.col(id_col),
                     F.posexplode(band_hashes).alias("band", "band_hash"))
    a = rows.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    b = rows.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    return (
        a.join(b, on=["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _sig_agreement(sig_a: Column, sig_b: Column) -> Column:
    """Fraction of agreeing minhash positions — the Jaccard estimator."""
    eq = F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int"))
    return F.aggregate(eq, F.lit(0), lambda acc, x: acc + x) / F.size(sig_a)


def _mix64(x):
    """murmur3 finalizer, vectorized over uint64 ndarrays (wraparound)."""
    x = x ^ (x >> np.uint64(33))
    x = x * np.uint64(0xFF51AFD7ED558CCD)
    x = x ^ (x >> np.uint64(33))
    x = x * np.uint64(0xC4CEB9FE1A85EC53)
    return x ^ (x >> np.uint64(33))


def minhash_signatures_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 128,
    shingle_len: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """(id, sig) for a whole corpus, zero shuffles: each shingle string is
    hashed ONCE JVM-side (``transform + xxhash64`` — one cheap HOF), then
    an Arrow-batched pandas UDF derives the k minhashes per doc as a
    single vectorized numpy pass: flatten all hash arrays, outer-mix with
    k seed constants (murmur finalizer), ``minimum.reduceat`` back to per-
    doc signatures.

    This shape wins twice over the k-aggregate-columns formulation: no
    doc_id shuffle, and no k-wide generated aggregate code (whose JIT
    compile dominated single-shot runs — 6s of codegen for 64 mins).

    With ``bands`` set, also emits ``band_hashes`` (array<long>, one
    combined hash per signature band) from the same numpy pass — the LSH
    banding then needs no further expression work, just a posexplode."""
    seeds = _mix64(np.arange(1, num_hashes + 1, dtype=np.uint64)
                   * np.uint64(0x9E3779B97F4A7C15))
    out_type = ("sig: array<long>, band_hashes: array<long>"
                if bands else "array<long>")

    def _mins_for(chunk: pd.Series) -> "np.ndarray":
        arrs = [np.asarray(a, dtype=np.int64).view(np.uint64) for a in chunk]
        lens = np.array([len(a) for a in arrs])
        flat = np.concatenate(arrs) if arrs else np.empty(0, np.uint64)
        mixed = _mix64(flat[:, None] ^ seeds[None, :])       # M x k
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        return np.minimum.reduceat(mixed, starts, axis=0)     # docs x k

    @pandas_udf("array<long>")
    def sig(hash_arrays: pd.Series) -> pd.Series:
        out = []
        # chunk to bound the (n_shingles x k) intermediate
        for lo in range(0, len(hash_arrays), 2048):
            mins = _mins_for(hash_arrays.iloc[lo:lo + 2048])
            out.extend(m.view(np.int64) for m in mins)
        return pd.Series(out)

    @pandas_udf(out_type)
    def sig_bands(hash_arrays: pd.Series) -> pd.DataFrame:
        sigs, bhs = [], []
        per = num_hashes // bands
        for lo in range(0, len(hash_arrays), 2048):
            mins = _mins_for(hash_arrays.iloc[lo:lo + 2048])
            folded = mins.reshape(-1, bands, per)
            acc = np.zeros((folded.shape[0], bands), dtype=np.uint64)
            for j in range(per):
                acc = _mix64(acc ^ folded[:, :, j])
            sigs.extend(m.view(np.int64) for m in mins)
            bhs.extend(b.view(np.int64) for b in acc)
        return pd.DataFrame({"sig": sigs, "band_hashes": bhs})

    hashes = F.transform(
        shingles(F.col(text_col), shingle_len), lambda s: F.xxhash64(s))
    if bands:
        return df.select(
            F.col(id_col), sig_bands(hashes).alias("__sb")
        ).select(id_col, "__sb.sig", "__sb.band_hashes")
    return df.select(F.col(id_col), sig(hashes).alias("sig"))


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_len: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs: MinHash -> banded LSH -> signature-agreement
    verification >= threshold.  Returns (id_a, id_b, jaccard_est)."""
    # Signatures feed both pair sides; persist so the hash aggregation
    # runs once.  The band self-join and the candidate dedup are ID-ONLY:
    # the banded explode is x``bands`` rows per doc, so carrying the
    # ~1 KB signature through it shuffles bands x |corpus| x sig bytes —
    # measured 65 s vs 13 s at 50k replica-heavy docs.  Signatures rejoin
    # AFTER the (id_a, id_b) dedup, costing 2 corpus-sized sig shuffles
    # instead of a bands-times-corpus one.
    sigs = cache_bounded(minhash_signatures_df(
        df, id_col, text_col, num_hashes, shingle_len, bands=bands))
    pairs = _band_pairs(sigs, id_col, F.col("band_hashes"))
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, on="id_a").join(sb, on="id_b")
        .withColumn("jaccard_est", _sig_agreement(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide paragraph-level dedup (C4/RefinedWeb-style): split each
    doc on ``sep``, keep only the FIRST occurrence of every distinct
    paragraph across the whole corpus (first = lowest (doc id, position)),
    and reassemble docs from their surviving paragraphs in order.  Docs
    whose paragraphs all lose vanish.

    Plan shape: posexplode -> xxhash64 paragraph key -> min_by over a
    single hash aggregate picks winners -> semi-join back -> groupBy doc
    reassembly via sorted collect_list.  Two shuffles (winner agg + doc
    reassembly), both on narrow keys; paragraph text itself never
    shuffles twice (the winner join carries only hashes + positions).
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias("__pos", "__p"),
    ).filter(F.trim("__p") != "")
    keyed = paras.withColumn("__h", F.xxhash64("__p"))
    winners = keyed.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__w"))
    kept = keyed.join(
        winners,
        (keyed["__h"] == winners["__h"])
        & (keyed[id_col] == winners["__w"][id_col])
        & (keyed["__pos"] == winners["__w"]["__pos"]),
        "left_semi",
    )
    return (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("__pos", "__p"))).alias("__ps"))
        .select(
            F.col(id_col),
            F.concat_ws(sep, F.transform("__ps", lambda s: s["__p"]))
            .alias(text_col),
        )
    )


def boilerplate_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_docs: int | None = None,
    min_doc_frac: float | None = None,
    broadcast_bad: bool = True,
) -> DataFrame:
    """Corpus-wide boilerplate removal (CCNet/RefinedWeb line-dedup):
    split each doc on ``sep`` into units (lines), drop EVERY occurrence
    of any unit appearing in at least ``min_docs`` distinct documents
    (or ``min_doc_frac`` of the corpus — scale-invariant), and
    reassemble the survivors in order.  Docs whose units all lose
    vanish (C4 behaviour).

    Differs from :func:`paragraph_dedup` (keep FIRST occurrence): a
    nav menu on a million pages must not survive even once — frequency
    past the threshold marks the unit itself as template noise.

    Plan shape: posexplode -> xxhash64 unit key -> doc-frequency agg on
    the hash (map-side partial, rows = distinct units) -> the
    over-threshold "bad" set is bounded by (total units / threshold),
    so for fractional thresholds it BROADCASTS into a left-anti probe —
    the unit text itself never joins or reshuffles — then one
    reassembly shuffle per doc.  With ``min_doc_frac`` the corpus doc
    count arrives as a broadcast one-row cross join, never a driver
    collect.  A LOW absolute ``min_docs`` (say 10) on a web-scale
    corpus makes the bad set corpus-sized — pass
    ``broadcast_bad=False`` there and the anti-join shuffles on the
    8-byte hash instead.
    """
    if (min_docs is None) == (min_doc_frac is None):
        raise ValueError("pass exactly one of min_docs / min_doc_frac")
    units = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias("__pos", "__u"),
    ).filter(F.trim("__u") != "")
    keyed = units.withColumn("__h", F.xxhash64("__u"))
    freq = keyed.groupBy("__h").agg(
        F.count_distinct(F.col(id_col)).alias("__df"))
    if min_docs is not None:
        bad = freq.filter(F.col("__df") >= min_docs)
    else:
        n_docs = df.select(
            F.count_distinct(F.col(id_col)).alias("__n"))
        bad = freq.crossJoin(F.broadcast(n_docs)).filter(
            F.col("__df") >= F.col("__n") * min_doc_frac)
    bad = bad.select("__h")
    kept = keyed.join(
        F.broadcast(bad) if broadcast_bad else bad, "__h", "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("__pos", "__u"))).alias("__us"))
        .select(
            F.col(id_col),
            F.concat_ws(sep, F.transform("__us", lambda s: s["__u"]))
            .alias(text_col),
        )
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    max_driver_pairs: int | None = 2_000_000,
) -> DataFrame:
    """(node, component) for every node in the pair graph, where the
    component label is the minimum node id in the component.

    Two execution paths, auto-selected like the exact/LSH routing in
    :func:`~..similarity.embedding_near_dup_pairs`:

    * pair graphs at or under ``max_driver_pairs`` edges collect the ID
      PAIRS ONLY (two scalars per row — the expensive part, pair
      *generation*, stays fully distributed) and run union-find with
      path compression driver-side.  Near-dup graphs are tiny relative
      to their corpus (edges ≪ documents after LSH banding), so this is
      the common case and replaces ~diameter × 2 Spark jobs with one
      collect.
    * larger graphs (or ``max_driver_pairs=None``) run distributed
      iterative min-label propagation: one shuffle join + one grouped
      min per round, lineage cut with ``localCheckpoint`` so the plan
      stays O(1) deep.  Rounds needed = graph diameter; ``max_iter``
      bounds adversarial chains.
    """
    if max_driver_pairs is not None:
        # +1 sentinel: detect overflow without a full count
        head = pairs.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).limit(max_driver_pairs + 1).collect()
        if len(head) <= max_driver_pairs:
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in head:
                a, b = r["src"], r["dst"]
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
            comp_min: dict = {}
            for n in parent:
                root = find(n)
                m = comp_min.get(root)
                if m is None or n < m:
                    comp_min[root] = n
            node_type = pairs.schema[src_col].dataType
            out_schema = T.StructType([
                T.StructField("node", node_type),
                T.StructField("component", node_type),
            ])
            return pairs.sparkSession.createDataFrame(
                [(n, comp_min[find(n)]) for n in parent], out_schema)

    edges = pairs.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
        .distinct().persist()
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "comp", F.col("node"))
    try:
        for _ in range(max_iter):
            nb_min = (
                edges.join(labels.withColumnRenamed("node", "dst"), on="dst")
                .groupBy("src").agg(F.min("comp").alias("nb_comp"))
                .withColumnRenamed("src", "node")
            )
            new_labels = (
                labels.join(nb_min, on="node", how="left")
                .select("node", F.least(
                    "comp", F.coalesce("nb_comp", "comp")).alias("comp"))
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.join(labels.withColumnRenamed("comp", "old"),
                                on="node")
                .filter(F.col("comp") != F.col("old")).limit(1).count()
            )
            labels = new_labels
            if changed == 0:
                break
    finally:
        edges.unpersist()
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    transitive: bool = False,
    **kwargs,
) -> DataFrame:
    """Near-dup removal.

    ``transitive=False`` (default): greedy — drop any doc that is the
    higher-id member of a near-dup pair.  Cheap, over-deletes bridge docs
    whose only pair partner was itself dropped.

    ``transitive=True``: full transitive closure via
    :func:`connected_components` — exactly one survivor (the min id) per
    near-dup cluster."""
    pairs = minhash_near_dup_pairs(df, id_col, text_col, **kwargs)
    if transitive:
        comps = connected_components(pairs)
        losers = comps.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col))
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Near-dup removal keeping the BEST-scoring copy per cluster.

    The min-id survivor rule (:func:`minhash_dedup`,
    ``transitive=True``) is arbitrary about WHICH copy survives; real
    curation wants the best one — the longest crawl of a page, the
    highest quality-classifier score, the latest snapshot.  Transitive
    clusters come from any (id_a, id_b) pair frame; within each cluster
    the max-``score_col`` row survives (ties break on min id, so the
    survivor set is deterministic and engine-recomputable).

    Scale shape: component resolution on the pair graph (edges <<
    corpus), one broadcast-friendly left join to attach cluster labels,
    one window over cluster members only — unclustered docs (the vast
    majority) take the ``component IS NULL`` fast path with no window
    at all, so the shuffle is bounded by clustered rows, not corpus
    rows.
    """
    from pyspark.sql import Window

    comp = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias(id_col), "component")
    labeled = df.join(comp, id_col, "left")
    clustered = labeled.filter(F.col("component").isNotNull())
    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col))
    best = (clustered.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1).drop("__rk"))
    return (labeled.filter(F.col("component").isNull())
            .unionByName(best).drop("component"))


def simhash(col: Column, bits: int = 64) -> Column:
    """SimHash: sign-aggregated token-hash bits packed into one long.

    Per token: xxhash64 -> for each bit position, +1/-1; accumulate over
    tokens with zip_with; pack sign bits.  All higher-order expressions."""
    # fold, then collapse whitespace (a case map never makes or removes
    # whitespace): the higher-order functions below get no subexpression
    # elimination, so the fold must not take the regex as its argument
    words = F.split(F.trim(F.regexp_replace(lower(col), r"\s+", " ")), " ")
    zeros = F.array_repeat(F.lit(0), bits)
    # Hash each word ONCE (transform), then fold bit contributions over the
    # hash array — bit positions are unrolled Python-side (shift amounts
    # must be literals) but operate on the bound hash value, not a
    # recomputed xxhash64 per bit.
    counts = F.aggregate(
        F.transform(words, lambda w: F.xxhash64(w)),
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[
                F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("int")
                for i in range(bits)
            ]),
            lambda a, bit: a + F.when(bit == 1, 1).otherwise(-1),
        ),
    )
    packed = F.lit(0).cast("long")
    for i in range(bits):
        # bit 63 is the sign bit: 1<<63 overflows signed long, use its
        # two's-complement value
        bit_val = (1 << i) if i < 63 else -(1 << 63)
        packed = packed.bitwiseOR(
            F.when(F.element_at(counts, i + 1) > 0,
                   F.lit(bit_val).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return packed


def simhash_df(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """(id, simhash) for a whole corpus, zero shuffles: tokens are hashed
    JVM-side (one ``xxhash64`` per word via ``transform``), then an
    Arrow-batched pandas UDF does the per-bit sign aggregation as one
    vectorized numpy pass (unpack bits -> ``add.reduceat`` per doc ->
    majority sign -> repack).  Same semantics as the per-row expression
    :func:`simhash` (identical word hashes, identical sign rule) at a
    fraction of the runtime and none of the k-wide codegen."""
    positions = np.arange(bits, dtype=np.uint64)

    @pandas_udf("long")
    def sh(hash_arrays: pd.Series) -> pd.Series:
        out = np.empty(len(hash_arrays), dtype=np.int64)
        pos = 0
        for lo in range(0, len(hash_arrays), 2048):
            chunk = hash_arrays.iloc[lo:lo + 2048]
            arrs = [np.asarray(a, dtype=np.int64).view(np.uint64)
                    for a in chunk]
            lens = np.array([max(len(a), 1) for a in arrs])
            flat = np.concatenate(
                [a if len(a) else np.zeros(1, np.uint64) for a in arrs])
            bits_m = ((flat[:, None] >> positions[None, :])
                      & np.uint64(1)).astype(np.int32)       # M x bits
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            ones = np.add.reduceat(bits_m, starts, axis=0)   # docs x bits
            majority = (2 * ones) > lens[:, None]            # bit set iff +
            packed = (majority.astype(np.uint64)
                      << positions[None, :]).sum(axis=1, dtype=np.uint64)
            n = len(chunk)
            out[pos:pos + n] = packed.view(np.int64)
            pos += n
        return pd.Series(out)

    # null text -> empty string, so the UDF always sees an array
    hashes = F.transform(
        _norm_words(F.coalesce(F.col(text_col), F.lit(""))),
        lambda w: F.xxhash64(w))
    return df.select(F.col(id_col), sh(hashes).alias("sh"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs with pigeonhole blocking: split the 64-bit
    hash into ``chunks`` segments; any pair within ``max_hamming <
    chunks`` must agree on >= 1 whole segment, so candidates = pairs
    sharing a (segment_idx, segment_value) bucket; verify with exact
    bit_count(xor) <= max_hamming (see ``hamming``)."""
    # feeds both pair sides — bounded-pool persist so tokenize+hash
    # runs once AND repeated identical calls hit the plan-matched cache
    # (eviction bounds the round-6 leak; see functions/_cache.py)
    hashed = cache_bounded(simhash_df(df, id_col, text_col))
    return hamming.hamming_near_dup_pairs(hashed, id_col, "sh",
                                          max_hamming, chunks=chunks)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    blocking_cols: list[str] | None = None,
    prefix_filter: bool = False,
    sh_table: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity pairs via shingle postings.

    Default: explode(distinct shingle hashes) -> self-join on the 64-bit
    hash (+ blocking keys) -> |A ∩ B| counts -> jaccard.  Joining on the
    hash instead of the string is the same pair set (collisions inflate
    |A∩B| with p~2^-64) at ~4x narrower shuffle.

    ``prefix_filter=True``: PPJoin-style prefix filtering (Bayardo et
    al., "Scaling Up All Pairs Similarity Search", WWW'07) — with
    shingle hashes in a canonical (ascending) order, any pair with
    jaccard >= t must share its SMALLEST common element inside both
    docs' first ``|X| - ceil(t*|X|) + 1`` elements, so only that prefix
    is posted; a size-ratio filter (``t*|A| <= |B| <= |A|/t``) prunes
    further, and candidates are verified with an exact
    ``array_intersect`` on the full hash arrays.  Still exact: same
    result set as the default path (equivalence-tested).

    When to flip it on: HIGH thresholds (prefix length ~ (1-t)|X|) over
    corpora whose shingles are mostly rare (web-scale text), where the
    grouped-count join's posting lists explode but candidates are few.
    Measured on the driver's dense word-soup corpus the default grouped
    count wins at every t (its cost is candidate-bounded, and the
    verify join-back pays two array-carrying shuffles) — so the default
    stays off."""
    blocking_cols = blocking_cols or []
    # canonical-order hash arrays feed every stage — bounded-pool
    # persist: built once, plan-matched reuse, finite cache (_cache.py).
    # ``sh_table`` (no blocking cols only): a caller-shared
    # :func:`_shingle_hash_table` build, so verified-family callers
    # pay the tokenize+shingle+hash pass once across generator and
    # verifier.
    if sh_table is not None and not blocking_cols:
        sh = sh_table
    else:
        sh = cache_bounded(df.select(
            F.col(id_col), *[F.col(c) for c in blocking_cols],
            F.array_sort(
                F.array_distinct(
                    F.transform(shingles(F.col(text_col), n),
                                lambda s: F.xxhash64(s)))
            ).alias("hs"),
        ).withColumn("sh_size", F.size("hs")))

    if not prefix_filter:
        posting = sh.select(
            id_col, *blocking_cols, "sh_size", F.explode("hs").alias("shingle"))
        a = posting.select(
            *[F.col(c) for c in blocking_cols],
            F.col(id_col).alias("id_a"), F.col("sh_size").alias("size_a"),
            "shingle")
        b = posting.select(
            *[F.col(c) for c in blocking_cols],
            F.col(id_col).alias("id_b"), F.col("sh_size").alias("size_b"),
            "shingle")
        common = (
            a.join(b, on=blocking_cols + ["shingle"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "size_a", "size_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
        return (
            common.withColumn(
                "jaccard",
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    cands = _prefix_candidates(sh, id_col, threshold, blocking_cols)
    ha =sh.select(F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a"),
                   F.col("sh_size").alias("size_a"))
    hb = sh.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b"),
                   F.col("sh_size").alias("size_b"))
    return (
        cands.join(ha, "id_a").join(hb, "id_b")
        .withColumn("__common",
                    F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.col("__common")
            / (F.col("size_a") + F.col("size_b") - F.col("__common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """PPJoin prefix-filter candidate pairs with DETERMINISTIC total
    recall: every pair with n-gram ``jaccard >= threshold`` appears
    (Bayardo et al., WWW'07 — a qualifying pair must share an element
    inside both canonical prefixes of length ``|X| - ceil(t*|X|) + 1``).
    Candidate-only variant of :func:`ngram_jaccard_pairs`'s
    ``prefix_filter`` path, for composing with sketch-based generators
    whose recall is probabilistic.  Output: (id_a, id_b), id_a < id_b.
    """
    return _prefix_candidates(
        _shingle_hash_table(df, id_col, text_col, n), id_col, threshold)


def _prefix_candidates(sh: DataFrame, id_col: str, threshold: float,
                       blocking_cols=()) -> DataFrame:
    """(id_a, id_b), id_a < id_b, distinct: the PPJoin prefix postings
    self-join over a canonical shingle-hash table ``(id, blocking...,
    hs, sh_size)`` (``hs`` sorted ascending), size-ratio filtered."""
    prefix_len = (
        F.col("sh_size") - F.ceil(F.col("sh_size") * F.lit(threshold)) + 1
    ).cast("int")
    posting = sh.select(
        id_col, *blocking_cols, "sh_size",
        F.explode(F.slice("hs", F.lit(1), prefix_len)).alias("shingle"))
    a = posting.select(*blocking_cols, F.col(id_col).alias("id_a"),
                       F.col("sh_size").alias("size_a"), "shingle")
    b = posting.select(*blocking_cols, F.col(id_col).alias("id_b"),
                       F.col("sh_size").alias("size_b"), "shingle")
    return (
        a.join(b, on=[*blocking_cols, "shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        # size-ratio bound: jaccard >= t forces t*|A| <= |B| <= |A|/t
        .filter((F.col("size_b") >= F.col("size_a") * threshold)
                & (F.col("size_a") >= F.col("size_b") * threshold))
        .select("id_a", "id_b")
        .distinct()
    )


def _containment_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    blocking_cols: list[str],
) -> DataFrame:
    """(id, blocking..., hs, sh_size) distinct-shingle-hash frame shared
    by candidate generation and verification — bounded-pool persisted
    (keyed by plan semanticHash, so both consumers hit one entry) since
    the interpreted zip_with shingling dominates its cost."""
    return cache_bounded(df.select(
        F.col(id_col), *[F.col(c) for c in blocking_cols],
        F.array_distinct(
            F.transform(shingles(F.col(text_col), n),
                        lambda s: F.xxhash64(s))).alias("hs"),
    ).withColumn("sh_size", F.size("hs")))


def containment_prefix_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    blocking_cols: list[str] | None = None,
    _sh: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs for directed n-gram containment with
    DETERMINISTIC total recall and a DF-BOUNDED posting join — the
    asymmetric analogue of :func:`prefix_filter_candidates`.

    A pair with ``max(cont_a_in_b, cont_b_in_a) >= t`` has
    ``common >= ceil(t * min(|A|,|B|))`` (the smaller side's
    containment is always the larger ratio), so under ANY fixed total
    order on shingles the SMALLER doc must share an element inside its
    first ``|S| - ceil(t*|S|) + 1`` sorted positions (pigeonhole) —
    only that prefix of the smaller side needs posting; the other side
    posts all shingles.

    The total order is (global document frequency ASC, hash) — the
    canonical PPJoin ordering (Bayardo et al., WWW'07; Xiao et al.,
    WWW'08): a near-universal boilerplate shingle (license header,
    nav chrome — exactly what web corpora are full of) has maximal df,
    sorts LAST in every doc, and enters a prefix only when a doc has
    almost nothing else, so its posting list on the prefix side stays
    near-empty instead of generating ~n^2/2 candidates.  Costs one
    extra vocabulary-sized groupBy + one per-doc window next to the
    naive full self-join it replaces.  Output: (id_a, id_b),
    id_a < id_b, a superset of all qualifying pairs.
    """
    from pyspark.sql import Window

    blocking_cols = blocking_cols or []
    sh = _sh if _sh is not None else _containment_shingles(
        df, id_col, text_col, n, blocking_cols)
    posting = sh.select(
        id_col, *blocking_cols, "sh_size", F.explode("hs").alias("shingle"))
    df_tbl = posting.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("__df"))
    # the 1e-9 guard keeps float ceil from overshooting an exactly-
    # integer t*|S| (which would shorten the prefix and lose recall);
    # the verification pass is exact, so a one-longer prefix only costs
    # candidates, never correctness
    need = F.greatest(
        F.lit(1),
        F.ceil(F.col("sh_size") * F.lit(threshold) - F.lit(1e-9)))
    prefix_len = F.col("sh_size") - need + 1
    pre = (
        posting.join(df_tbl, "shingle")
        .withColumn("__rn", F.row_number().over(
            Window.partitionBy(id_col).orderBy("__df", "shingle")))
        .filter(F.col("__rn") <= prefix_len)
    )
    a = pre.select(
        *[F.col(c) for c in blocking_cols],
        F.col(id_col).alias("id_p"), F.col("sh_size").alias("size_p"),
        "shingle")
    b = posting.select(
        *[F.col(c) for c in blocking_cols],
        F.col(id_col).alias("id_f"), F.col("sh_size").alias("size_f"),
        "shingle")
    return (
        a.join(b, on=blocking_cols + ["shingle"])
        # the prefix side must be the pair's SMALLER set (equal sizes:
        # either works — id tiebreak generates the pair exactly once)
        .filter((F.col("size_p") < F.col("size_f"))
                | ((F.col("size_p") == F.col("size_f"))
                   & (F.col("id_p") < F.col("id_f"))))
        .select(F.least("id_p", "id_f").alias("id_a"),
                F.greatest("id_p", "id_f").alias("id_b"))
        .distinct()
    )


def lsh_plan(
    spark,
    num_hashes: int = 128,
    thresholds: tuple = (0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """The MinHash-LSH parameter planner: one row per (bands,
    rows_per_band) factorization of ``num_hashes`` x candidate Jaccard
    threshold, with the S-curve capture probability ``p_capture =
    1 - (1 - s^r)^b`` (probability a pair at similarity ``s`` shares at
    least one band bucket) and the band scheme's inflection similarity
    ``s50 = (1/b)^(1/r)``.

    Choosing (bands, rows) is the ONE decision that sets a MinHash
    deployment's recall/cost tradeoff — more bands = higher recall at
    threshold AND more candidate pairs to verify — and getting it wrong
    at 100 TB means either missed duplicates or a verification bill in
    the billions of pairs.  The planner makes the standard closed form
    (Leskovec et al., MMDS ch.3) a queryable table next to the sketch
    ops it configures (``minhash_near_dup_pairs`` defaults b=32, r=4:
    s50 ≈ 0.42).  Metadata-sized by construction (divisors x
    thresholds); built from SQL VALUES so the plan is stable across
    calls."""
    divs = [b for b in range(1, num_hashes + 1) if num_hashes % b == 0]
    bands = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"({b}, {num_hashes // b})" for b in divs)
        + " AS t(bands, rows_per_band)")
    th = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"(CAST({float(t)} AS DOUBLE))" for t in thresholds)
        + " AS t(threshold)")
    return (
        bands.crossJoin(F.broadcast(th))
        .select(
            "bands", "rows_per_band", "threshold",
            F.round(
                F.lit(1.0) - F.pow(
                    F.lit(1.0) - F.pow(F.col("threshold"),
                                       F.col("rows_per_band")),
                    F.col("bands")), 6).alias("p_capture"),
            F.round(F.pow(1.0 / F.col("bands"),
                          1.0 / F.col("rows_per_band")), 6).alias("s50"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    blocking_cols: list[str] | None = None,
) -> DataFrame:
    """EXACT directed n-gram CONTAINMENT pairs: how much of doc A's
    shingle set lives inside doc B (``|A ∩ B| / |A|``) and vice versa,
    keeping pairs where either direction reaches ``threshold``.

    Jaccard is symmetric and misses the asymmetric duplication web
    corpora are full of — a tweet quoted inside an article, a doc page
    embedded in a scrape, a subset re-crawl: |A| << |B| caps jaccard at
    |A|/|B| no matter how completely A is contained, while
    ``containment(A in B) = 1.0``.  Near-dup curation pipelines
    (supersets of Lee et al.'s exact-substring work) want both signals.

    Plan shape: :func:`containment_prefix_candidates` (df-ordered
    asymmetric prefix postings — total recall, and the posting join is
    bounded on boilerplate-heavy corpora where a naive shared-shingle
    self-join degenerates to ~n^2/2 rows on one universal shingle),
    then exact verification per candidate via the two distinct-hash
    arrays: both containment ratios from one ``array_intersect``
    count.  Output: (id_a, id_b, cont_a_in_b, cont_b_in_a),
    id_a < id_b.
    """
    blocking_cols = blocking_cols or []
    sh = _containment_shingles(df, id_col, text_col, n, blocking_cols)
    cand = containment_prefix_candidates(
        df, id_col, text_col, n, threshold, blocking_cols, _sh=sh)
    arr = sh.select(F.col(id_col), "hs", "sh_size")
    return (
        cand
        .join(arr.select(F.col(id_col).alias("id_a"),
                         F.col("hs").alias("__ha"),
                         F.col("sh_size").alias("size_a")), "id_a")
        .join(arr.select(F.col(id_col).alias("id_b"),
                         F.col("hs").alias("__hb"),
                         F.col("sh_size").alias("size_b")), "id_b")
        .withColumn("common", F.size(F.array_intersect("__ha", "__hb")))
        .withColumn("cont_a_in_b", F.col("common") / F.col("size_a"))
        .withColumn("cont_b_in_a", F.col("common") / F.col("size_b"))
        .filter((F.col("cont_a_in_b") >= threshold)
                | (F.col("cont_b_in_a") >= threshold))
        .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")
    )


def _shingle_hash_table(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Canonical per-doc shingle-hash table ``(id, hs, sh_size)`` —
    ``hs`` is the SORTED distinct xxhash64 array of the doc's word
    ``n``-grams.  One bounded-pool-cached build shared by the exact
    postings generator and the pair verifier (round 14: they used to
    build two near-identical tables from the same text — one
    tokenize+shingle+hash pass each — that the plan-keyed cache could
    never unify because one sorted and one didn't; sorting is
    irrelevant to both consumers' counts, so one spelling serves
    both)."""
    return cache_bounded(df.select(
        F.col(id_col),
        F.array_sort(
            F.array_distinct(
                F.transform(shingles(F.col(text_col), n),
                            lambda s: F.xxhash64(s)))
        ).alias("hs"),
    ).withColumn("sh_size", F.size("hs")))


def exact_jaccard_on_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    broadcast_arrays: bool = True,
    sh_table: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard, computed only for the given candidate pairs.

    The verification half of the sketch-for-recall / exact-for-precision
    pattern: ``pairs`` (id_a, id_b) comes from any candidate generator
    (MinHash LSH bands, SimHash pigeonhole buckets, blocking keys);
    each candidate joins its two distinct-shingle hash arrays and gets
    ``|A ∩ B| / |A ∪ B|`` exactly.  Joining hash arrays instead of
    shingle strings is the same pair set (collision p~2^-64) at ~4x
    narrower shuffle.

    ``broadcast_arrays=True`` (default) broadcasts the per-doc array
    side, so candidate rows never shuffle and the intersect runs
    map-side — the right plan whenever the array table fits an executor
    (weak sketches emit millions of candidates whose ~KB arrays
    otherwise dominate the shuffle: measured 14s -> 3s on the simhash
    verify at sf0.1).  For corpora whose array table exceeds broadcast
    range set False — candidates then shuffle by id against the
    (id-partitioned) array table, the standard big-big path.
    """
    # both join sides read this — bounded-pool persist so the
    # shingle+hash pass runs once, not once per broadcast build
    # (aliasing defeats ReuseExchange; measured ~2x the verify cost
    # without the cache), with eviction bounding the session cache.
    # ``sh_table``: callers that already built the canonical table
    # (:func:`_shingle_hash_table`) pass it in so the pass is shared
    # (sorted arrays — array_intersect and size are order-blind).
    sh = sh_table.select(F.col(id_col), F.col("hs").alias("__hs")) \
        if sh_table is not None else cache_bounded(df.select(
            F.col(id_col),
            F.array_distinct(
                F.transform(shingles(F.col(text_col), n),
                            lambda s: F.xxhash64(s))).alias("__hs"),
        ))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__hs").alias("__hs_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__hs").alias("__hs_b"))
    if broadcast_arrays:
        a, b = F.broadcast(a), F.broadcast(b)
    inter = F.size(F.array_intersect("__hs_a", "__hs_b"))
    return (
        pairs.select("id_a", "id_b").distinct()
        .join(a, "id_a").join(b, "id_b")
        .withColumn(
            "jaccard",
            inter.cast("double")
            / (F.size("__hs_a") + F.size("__hs_b") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 32,
    shingle_len: int = 3,
    threshold: float = 0.5,
    broadcast_verify: bool = True,
) -> DataFrame:
    """Near-dup pairs with MinHash LSH recall and EXACT Jaccard precision.

    :func:`minhash_near_dup_pairs` emits the signature-agreement
    *estimate* — fast, but not oracle-reproducible.  This variant runs
    the same banded LSH candidate generation, then verifies each
    candidate with :func:`exact_jaccard_on_pairs`, so the output is
    exactly the >= ``threshold`` pair set whenever every true pair
    surfaces as a candidate.  Miss probability per pair is
    ``(1 - j^r)^b`` with r = num_hashes/bands rows per band: at the
    defaults (r=2, b=32) a j=0.8 pair is missed with p ~= 5e-15, j=0.9
    with ~1e-23 — r=2 buys *better* recall than r=4 at half the
    signature cost, at the price of more false candidates
    (P ~ 32*j^2 for unrelated docs, ~1% at j=0.02) which the exact
    verification prunes anyway (the verify is broadcast map-side, so
    false candidates cost CPU, not shuffle).

    Scale shape: signatures narrow (no shuffle), band join id-only,
    exact verification only on candidates, and the whole sketch runs on
    one representative per exact-duplicate text group
    (:func:`_collapse_expand_verified` — replica cliques otherwise grow
    candidate pairs quadratically).  ``broadcast_verify`` forwards to
    :func:`exact_jaccard_on_pairs`.
    """

    def verified_of(reps: DataFrame) -> DataFrame:
        # both band-join sides read the signatures — bounded-pool
        # persist or the pandas-UDF signature pass runs twice
        # (measured 5s -> 2s for this stage); eviction bounds the cache
        sigs = cache_bounded(minhash_signatures_df(
            reps, id_col, text_col, num_hashes, shingle_len,
            bands=bands))
        return exact_jaccard_on_pairs(
            reps, _band_pairs(sigs, id_col, F.col("band_hashes")), id_col,
            text_col, shingle_len, threshold,
            broadcast_arrays=broadcast_verify)

    return _collapse_expand_verified(
        df, id_col, text_col, verified_of, threshold)


def simhash_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 13,
    chunks: int = 8,
    shingle_len: int = 3,
    threshold: float = 0.5,
    broadcast_verify: bool = True,
    guarantee_recall: bool = True,
    guarantee_via_prefix: bool = False,
) -> DataFrame:
    """Near-dup pairs with SimHash pigeonhole recall and EXACT Jaccard
    precision.

    Candidates come from :func:`simhash_near_dup_pairs`.  Pigeonhole
    guarantees candidate recall only for pairs within ``chunks - 1``
    hamming bits (8 8-bit segments => hamming <= 7); pairs at hamming
    8..``max_hamming`` surface with high probability (a 9-over-8-
    segments split leaves a shared exact segment with p ~ 0.99) and
    pairs beyond ``max_hamming`` not at all — and SimHash hamming
    bounds Jaccard only probabilistically in the first place.  Since
    the *verified* family's contract is "emit exactly the >= threshold
    Jaccard set", ``guarantee_recall=True`` (default) unions the
    pigeonhole candidates with a deterministic-recall exact generator —
    making the OUTPUT exact by construction on any corpus, not just the
    measured ones.  Set it False to benchmark the pure-sketch path.

    The exact generator is :func:`ngram_jaccard_pairs`'s grouped-count
    postings (measured 2.4x faster than the PPJoin prefix path on the
    dense driver corpus at sf0.1: 1.3s vs 3.2s on full documents);
    ``guarantee_via_prefix=True`` switches to
    :func:`prefix_filter_candidates` for high-threshold sparse-shingle
    corpora where posting lists explode (the regime documented in
    ``ngram_jaccard_pairs``).

    Scale/perf knobs: 8-bit segments bucket ~n/256 docs (32x fewer
    bucket pairs than 4-bit), ``max_hamming=13`` halves the candidates
    the exact-Jaccard verify must score versus 15, and the verify is
    broadcast map-side (:func:`exact_jaccard_on_pairs`).  Measured
    14s -> ~2s at sf0.1 for the sketch path.
    """
    def verified_of(reps: DataFrame) -> DataFrame:
        sh = _shingle_hash_table(reps, id_col, text_col, shingle_len)
        sketch = simhash_near_dup_pairs(
            reps, id_col, text_col,
            max_hamming=max_hamming, chunks=chunks).select("id_a", "id_b")
        if not guarantee_recall:
            return exact_jaccard_on_pairs(
                reps, sketch, id_col, text_col, shingle_len, threshold,
                broadcast_arrays=broadcast_verify, sh_table=sh)
        if guarantee_via_prefix:
            cands = sketch.unionByName(prefix_filter_candidates(
                reps, id_col, text_col, n=shingle_len,
                threshold=threshold))
            return exact_jaccard_on_pairs(
                reps, cands, id_col, text_col, shingle_len, threshold,
                broadcast_arrays=broadcast_verify, sh_table=sh)
        # Round 14: the grouped-count generator's output IS already the
        # verified >= threshold pair set WITH its exact jaccard (same
        # distinct-hash sets, same |A∩B|/(|A|+|B|-|A∩B|) double), so
        # re-scoring those pairs through the verify join was pure
        # duplicate work — as was the union's own pre-verify
        # ``distinct`` shuffle.  Only sketch candidates NOT in the
        # exact set still go through the verifier (output-exact by
        # construction, not by the subset argument: any such pair that
        # scored >= threshold would still be emitted), and both sides
        # read ONE shared shingle table instead of building two.
        # pair-table persist: ``exact`` feeds both a union leg and the
        # anti-join build side — without it the whole postings DAG
        # runs twice (it is a threshold-filtered PAIR table, tiny next
        # to the corpus, so the bounded-pool cache holds rows, not
        # text)
        exact = cache_bounded(ngram_jaccard_pairs(
            reps, id_col, text_col, n=shingle_len, threshold=threshold,
            sh_table=sh))
        extras = sketch.join(exact.select("id_a", "id_b"),
                             ["id_a", "id_b"], "left_anti")
        return exact.unionByName(exact_jaccard_on_pairs(
            reps, extras, id_col, text_col, shingle_len, threshold,
            broadcast_arrays=broadcast_verify, sh_table=sh))

    return _collapse_expand_verified(
        df, id_col, text_col, verified_of, threshold)


def _collapse_expand_verified(
    df: DataFrame,
    id_col: str,
    text_col: str,
    verified_fn,
    threshold: float,
) -> DataFrame:
    """Dedup-then-expand: run sketch + exact verification on ONE
    representative per exact-duplicate text group, then expand verified
    representative pairs back to all member pairs.  ``verified_fn``
    maps the representative frame to its VERIFIED ``(id_a, id_b,
    jaccard)`` pairs (round 14: callers own the verify so the
    guaranteed-recall path can reuse its generator's exact scores
    instead of re-deriving them).

    On replica-heavy corpora (the common case dedup exists for) this is
    the difference between quadratic and linear candidate work: k exact
    copies of a document put k rows in every sketch bucket, so
    candidate PAIRS grow k^2 per clique — measured 113s at 10x data
    (90% replicas) for the direct simhash path vs ~8s collapsed.  The
    output is bit-identical: members of one group share the exact
    normalized text, so jaccard(x, y) = jaccard(rep_x, rep_y) for
    inter-group pairs and exactly 1.0 intra-group.

    Groups key on the md5 of the normalized word sequence — the same
    normalization the shingles use, so "same group" == "identical
    shingle set".
    """
    fp = F.md5(F.concat_ws(" ", _norm_words(F.col(text_col))))
    members = cache_bounded(df.select(
        F.col(id_col).alias("__mid"), fp.alias("__fp")))
    reps = cache_bounded(
        members.groupBy("__fp").agg(F.min("__mid").alias("__rid")))
    rep_df = df.join(
        reps.select(F.col("__rid").alias(id_col)), on=id_col, how="semi")

    rep_pairs = verified_fn(rep_df)

    # intra-group: every pair inside an exact-dup group, jaccard 1.0
    m2 = members.join(reps, on="__fp")
    intra = (
        m2.alias("x").join(m2.alias("y"), on="__fp")
        .filter(F.col("x.__mid") < F.col("y.__mid"))
        .select(F.col("x.__mid").alias("id_a"),
                F.col("y.__mid").alias("id_b"),
                F.lit(1.0).alias("jaccard"))
    )
    if 1.0 < threshold:  # degenerate threshold > 1: nothing qualifies
        intra = intra.filter(F.lit(False))

    # inter-group: expand each verified rep pair to member x member
    ga = reps.join(members, on="__fp").select(
        F.col("__rid").alias("id_a"), F.col("__mid").alias("__ma"))
    gb = reps.join(members, on="__fp").select(
        F.col("__rid").alias("id_b"), F.col("__mid").alias("__mb"))
    inter = (
        rep_pairs.join(ga, on="id_a").join(gb, on="id_b")
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            "jaccard")
    )
    return inter.unionByName(intra)


def _posting_key() -> Column:
    """Single 64-bit posting key for an LSH band bucket: the band index
    mixed into the band hash, so one column carries the (band, value)
    identity and joins/bucketing need exactly one key."""
    return F.xxhash64(F.col("band"), F.col("band_hash"))


def _minhash_postings(sigs: DataFrame, id_col: str) -> DataFrame:
    """``(id, bkey)`` band-bucket postings of a signature frame."""
    return (
        sigs.select(
            F.col(id_col),
            F.posexplode("band_hashes").alias("band", "band_hash"))
        .select(F.col(id_col), _posting_key().alias("bkey"))
    )


def minhash_index_write(
    df: DataFrame,
    id_col: str,
    text_col: str,
    table_name: str,
    path: str,
    num_hashes: int = 128,
    shingle_len: int = 3,
    bands: int = 32,
    n_buckets: int = 32,
) -> None:
    """Persist the corpus MinHash-LSH index as BUCKETED tables so later
    delta batches dedup against the corpus without ever reshuffling it
    (lifecycle and liveness: ``index_store``):

    * ``{table_name}_postings`` (bkey, id) — bucketed+sorted by the
      band-bucket key.  A delta's postings (small) shuffle into the
      same bucketing; the corpus side sort-merge-joins shuffle-free.
    * ``{table_name}_sigs`` (id, sig) — bucketed by id, so candidate
      verification fetches corpus signatures without a corpus shuffle
      either.
    * the meta records (num_hashes, shingle_len, bands), so
      :func:`minhash_dedup_delta` computes delta signatures with the
      exact same sketch.

    This is the 100 TB production shape: the O(corpus) signature +
    bucketing cost is paid ONCE at index build (or maintained
    incrementally by appending new postings), and each daily delta costs
    O(delta) + a co-located join — not a fresh corpus-wide pair
    generation per batch.
    """
    sigs = minhash_signatures_df(
        df, id_col, text_col, num_hashes, shingle_len, bands=bands).persist()
    try:
        store.build(df.sparkSession, "minhash", path,
                    {"postings": _minhash_postings(sigs, id_col),
                     "sigs": sigs.select(id_col, "sig")},
                    {"id_col": id_col, "num_hashes": num_hashes,
                     "shingle_len": shingle_len, "bands": bands,
                     "n_buckets": n_buckets}, table_name)
    finally:
        sigs.unpersist()


def minhash_index_append(
    delta: DataFrame,
    table_name: str,
    path: str,
    id_col: str,
    text_col: str,
) -> None:
    """Fold a delta batch INTO the persisted index at O(delta):
    signatures/postings are computed with the index's own recorded
    parameters and appended under the store's append contract (dedup
    the delta against the index FIRST; a re-crawl is an
    ``index_delete`` of its ids, then this append).  Appends add files
    per bucket, so
    run ``index_compact`` — NOT the flat ``compact_parquet``, which
    would drop the bucket metadata — when batch count grows."""
    spark = delta.sparkSession
    meta = store.read_meta(spark, path)
    sigs = minhash_signatures_df(
        delta, id_col, text_col, meta["num_hashes"], meta["shingle_len"],
        bands=meta["bands"]).persist()
    try:
        store.append(spark, path, meta, id_col,
                     {"postings": _minhash_postings(sigs, id_col),
                      "sigs": sigs.select(id_col, "sig")}, table_name)
    finally:
        sigs.unpersist()


def minhash_dedup_delta(
    delta: DataFrame,
    table_name: str,
    path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup a DELTA batch against a persisted corpus index (and
    within itself) — the incremental form of :func:`minhash_near_dup_pairs`.

    Returns ``(id_a, id_b, jaccard_est, kind)`` where ``kind`` is
    ``'corpus'`` (delta doc id_a duplicates existing corpus doc id_b)
    or ``'delta'`` (two new docs duplicate each other, id_a < id_b).

    Scale shape (delta << corpus, the production contract):
    delta signatures are one Arrow pass over the delta; the
    corpus-candidate join shuffles ONLY delta postings into the index's
    bucketing (the corpus postings scan is bucket-co-located, zero
    corpus shuffle — plan-asserted in tests); verification joins
    corpus signatures bucketed by id (again corpus-shuffle-free) with
    the delta's own signatures broadcast.  Nothing anywhere costs
    O(corpus) compute or shuffle.
    """
    spark = delta.sparkSession
    meta = store.read_meta(spark, path)

    # eager localCheckpoint, not persist(): the signature pass feeds
    # two branches (postings + broadcast sigs) so it must materialize,
    # but a persist() with no unpersist() leaks cache across calls —
    # fatal for per-micro-batch callers (streaming/dedup.py).  The
    # checkpoint's blocks are reclaimed when the reference drops.
    dsigs = minhash_signatures_df(
        delta, id_col, text_col, meta["num_hashes"], meta["shingle_len"],
        bands=meta["bands"]).localCheckpoint(eager=True)
    dpost = _minhash_postings(dsigs, id_col) \
        .withColumnRenamed(id_col, "__did")
    cpost = store.live(spark, path, meta, "postings", table_name) \
        .withColumnRenamed(meta["id_col"], "__cid")
    cand_x = (
        dpost.join(cpost, on="bkey")
        .select("__did", "__cid").distinct()
    )
    a = dpost.select(F.col("__did").alias("id_a"), "bkey")
    b = dpost.select(F.col("__did").alias("id_b"), "bkey")
    cand_d = (
        a.join(b, on="bkey")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )

    d_sig = F.broadcast(
        dsigs.select(F.col(id_col).alias("__did"), F.col("sig").alias("__dsig")))
    csigs = store.live(spark, path, meta, "sigs", table_name).select(
        F.col(meta["id_col"]).alias("__cid"), F.col("sig").alias("__csig"))
    est_x = (
        cand_x.join(csigs, on="__cid")
        .join(d_sig, on="__did")
        .withColumn("jaccard_est",
                    _sig_agreement(F.col("__dsig"), F.col("__csig")))
        .filter(F.col("jaccard_est") >= threshold)
        .select(F.col("__did").alias("id_a"), F.col("__cid").alias("id_b"),
                "jaccard_est", F.lit("corpus").alias("kind"))
    )
    da = dsigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("__sa"))
    db = dsigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("__sb"))
    est_d = (
        cand_d.join(F.broadcast(da), on="id_a")
        .join(F.broadcast(db), on="id_b")
        .withColumn("jaccard_est",
                    _sig_agreement(F.col("__sa"), F.col("__sb")))
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est", F.lit("delta").alias("kind"))
    )
    return est_x.unionByName(est_d)


# ---------------------------------------------------------------------------
# Persisted EXACT-fingerprint index — the exact-dedup counterpart of the
# MinHash index above: a continuously-arriving corpus drops byte-identical
# (normalized) re-crawls at O(delta) cost without ever scanning the
# corpus.  Probes are bucket-co-located joins on the 128-bit fingerprint,
# the same zero-corpus-shuffle contract minhash_dedup_delta asserts.
# Lifecycle and liveness: ``index_store``.
# ---------------------------------------------------------------------------

def fingerprint_index_write(
    df: DataFrame,
    table_name: str,
    path: str,
    id_col: str,
    text_col: str,
    n_buckets: int = 16,
) -> None:
    """Build the persisted fingerprint index: one ``(fp, id)`` row per
    distinct normalized text (survivor = min id), written
    ``bucketBy(fp)`` so delta probes scan co-located buckets (zero
    corpus shuffle).  The survivor id is stored for the same reason the
    MinHash index keeps ids: a replayed doc then matches ITSELF and is
    kept, making the gate's output replay-deterministic without any
    special-casing (see ``streaming/dedup.py``)."""
    from .text import fingerprint

    fps = (
        df.select(fingerprint(F.col(text_col)).alias("fp"),
                  F.col(id_col).alias("fid"))
        .groupBy("fp").agg(F.min("fid").alias("fid"))
    )
    store.build(df.sparkSession, "fingerprint", path, {"fps": fps},
                {"n_buckets": n_buckets, "id_col": id_col}, table_name)


def fingerprint_dedup_delta(
    delta: DataFrame,
    table_name: str,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact-dedup a delta batch against the persisted index AND within
    itself: returns the SURVIVOR rows — per fingerprint, the min-id doc
    among those not already owned by a DIFFERENT corpus doc.  A doc
    whose fingerprint maps to its OWN id in the index survives (replay
    self-match, the same contract as ``minhash_dedup_delta``), so
    re-running a batch reproduces the first run's survivor set exactly.
    Cost is O(delta): delta fingerprints shuffle into the index's
    bucketing; the corpus side is a bucket-co-located scan."""
    from pyspark.sql import Window

    from .text import fingerprint

    spark = delta.sparkSession
    fps = delta.withColumn("__fp", fingerprint(F.col(text_col)))
    path = store.locate(spark, f"{table_name}_fps")
    corpus = store.live(spark, path, store.read_meta(spark, path), "fps",
                        table_name)
    fresh = fps.join(
        corpus,
        (F.col("__fp") == F.col("fp")) & (F.col(id_col) != F.col("fid")),
        "left_anti")
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def fingerprint_index_append(
    survivors: DataFrame,
    table_name: str,
    id_col: str,
    text_col: str,
) -> None:
    """Fold surviving docs' ``(fp, id)`` rows into the index (bucket
    spec respected, so the co-located probe property survives).
    Re-appending a survivor (at-least-once replay) duplicates its OWN
    ``(fp, id)`` row, which cannot change any probe's outcome — the
    drop test is "exists a row with my fp and a different id" — so the
    append is idempotent for the gate's output."""
    from .text import fingerprint

    spark = survivors.sparkSession
    rows = survivors.select(fingerprint(F.col(text_col)).alias("fp"),
                            F.col(id_col).alias("fid")).distinct()
    path = store.locate(spark, f"{table_name}_fps")
    store.append(spark, path, store.read_meta(spark, path), id_col,
                 {"fps": rows}, table_name)


# ---------------------------------------------------------------------------
# Persisted SIMHASH index — the hamming near-dup member of the persisted
# index family (MinHash=jaccard, fingerprint=exact, IVF=cosine,
# BM25=retrieval, novelty=span overlap): a continuously-arriving corpus
# drops small-edit near-dups at O(delta) cost.  One table of pigeonhole
# segments of each doc's 64-bit simhash; the segment encoding, the
# recall contract and the probe are ``hamming``'s, lifecycle and
# liveness ``index_store``'s.
# ---------------------------------------------------------------------------

def simhash_index_write(
    df: DataFrame,
    table_name: str,
    path: str,
    id_col: str,
    text_col: str,
    chunks: int = 4,
    max_hamming: int = 3,
    n_buckets: int = 16,
) -> None:
    """Build the persisted SimHash index: ``{table}_segs``
    (seg_key, sid, sh, __ver) bucketed+sorted by ``seg_key``.
    ``max_hamming`` (``< chunks``) is RECORDED as the index's contract
    — probes verify against it by default."""
    hamming.index_build(
        "simhash", simhash_df(df, id_col, text_col), table_name, path,
        {"id_col": id_col, "chunks": chunks, "max_hamming": max_hamming,
         "n_buckets": n_buckets})


def simhash_dedup_delta(
    delta: DataFrame,
    table_name: str,
    path: str,
    id_col: str,
    text_col: str,
    max_hamming: int | None = None,
) -> DataFrame:
    """Hamming near-dup a DELTA batch against the persisted index (and
    within itself) — the incremental form of
    :func:`simhash_near_dup_pairs`.  Returns ``(id_a, id_b, hamming,
    kind)`` with ``kind`` ``'corpus'`` (delta doc id_a matches corpus
    doc id_b) or ``'delta'`` (two new docs match, id_a < id_b).  One
    Arrow simhash pass over the delta; the corpus side is read with zero
    shuffle."""
    meta = store.read_meta(delta.sparkSession, path)
    return hamming.delta_probe(simhash_df(delta, id_col, text_col),
                               table_name, path, meta, max_hamming)


def simhash_index_append(
    delta: DataFrame,
    table_name: str,
    path: str,
    id_col: str,
    text_col: str,
) -> None:
    """Fold a delta's segments into the index at O(delta) with the
    index's own recorded parameters, under the store's append contract
    (dedup the delta first; a re-crawl is an ``index_delete`` of its
    ids, then this append)."""
    meta = store.read_meta(delta.sparkSession, path)
    hamming.index_append(simhash_df(delta, id_col, text_col), table_name,
                         path, meta, id_col)
