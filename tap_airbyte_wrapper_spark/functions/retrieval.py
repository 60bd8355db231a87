"""BM25 lexical retrieval over a document corpus.

The curation stack's retrieval gap: tf-idf (`corpus.tfidf_top_terms`)
characterizes GROUPS, but pipelines also need per-QUERY ranked document
retrieval — benchmark-decontamination sweeps ("which training docs
score high against this eval question"), targeted quality audits, and
RAG-corpus preparation all reduce to BM25 top-k.  Scoring follows the
Lucene/Okapi formulation:

    idf(t)  = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
    s(q, d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

Scale shape: the query set is small by definition and broadcasts
everywhere; corpus-side work is one tokenize+explode pass into a
(doc, term) count table, a doc-length aggregate, then an EARLY
broadcast semi-join to query terms, so document frequencies and the
scoring join only ever touch postings whose term appears in some query
— never the full vocabulary.  Nothing all-pairs; the final top-k is a
per-query window over candidate docs.  On a standing 100 TB corpus the
(doc, term) tf table and the doc-length table are exactly the pieces a
deployment would precompute once and reuse across query batches — the
function takes them as optional precomputed inputs for that reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from . import index_store as store
from ._cache import cache_bounded
from .corpus import words

__all__ = ["bm25_topk", "doc_term_freq", "rrf_fuse", "rank_eval",
           "prf_expand_topk",
           "bm25_index_write", "bm25_index_append", "bm25_index_search"]


def doc_term_freq(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf) counts — the precomputable corpus half of BM25.

    One tokenize+explode pass, one partial-agg-friendly shuffle on
    (id, term).  Persist this (and its ``groupBy(id).sum`` doc-length
    rollup) for a standing corpus; both are linear in corpus tokens.
    """
    return (
        df.select(F.col(id_col), F.explode(words(F.col(text_col)))
                  .alias("term"))
        .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    tf_table: DataFrame | None = None,
    dl_table: DataFrame | None = None,
    prune_term_scan: bool = False,
) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    ``queries`` is a small (query_id, query_text) frame — it is
    broadcast; never pass a corpus-scale frame here (per-doc-vs-doc
    similarity is the dedup family's job, not retrieval's).
    ``tf_table``: optional precomputed :func:`doc_term_freq` output for
    a standing corpus (skips the tokenize pass; ``df`` may then be
    ``None``).  ``dl_table``: optional precomputed ``(id, dl)`` doc
    lengths — with a term-bucketed postings table it also skips the
    id-keyed length shuffle (see :func:`bm25_index_write`).

    Returns (query_id, id, bm25, rank), rank 1..k per query.  Ranking
    orders by ``round(bm25, 6)`` then doc id, so the order — and with
    it the returned row set — is reproducible across engines and runs
    (raw float sums are partition-order-dependent in the last ulp).
    """
    qterms = queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(words(F.col(query_text_col))))
        .alias("term"))
    if tf_table is not None:
        tf = tf_table
        dl = dl_table if dl_table is not None else \
            tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
        return _bm25_from_terms(tf, dl, qterms, id_col, query_id_col,
                                k, k1, b,
                                prune_term_scan=prune_term_scan)
    # Text path (round 14, guide §2.3/§2.4): the old shape aggregated
    # the FULL vocabulary into (id, term, tf) — a corpus-token shuffle
    # — then rolled doc lengths out of it with a second id-keyed
    # shuffle, only to immediately prune postings down to query terms.
    # Both full-corpus shuffles are removable: tokens are filtered to
    # query terms BEFORE the (id, term) aggregation (the broadcast
    # join runs map-side, so the aggregation shuffle carries only
    # query-matching tokens), the doc length is ``size(words(text))``
    # carried through the group key (identical integer: dl was the sum
    # of ALL the doc's tf, i.e. its token count), and N/avgdl come
    # from a one-row token-length aggregate (docs with zero tokens
    # were absent from the old tf-derived dl — the ``> 0`` filter
    # reproduces that).  Scores are bit-identical; the corpus now pays
    # two tokenize passes and ZERO full-vocabulary shuffles.
    ws = df.select(F.col(id_col), words(F.col(text_col)).alias("__ws"))
    toks = ws.select(F.col(id_col), F.size("__ws").alias("__dl"),
                     F.explode("__ws").alias("term"))
    tf = (toks.join(F.broadcast(qterms.select("term").distinct()), "term")
          .groupBy(id_col, "__dl", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    totals = (ws.select(F.size("__ws").alias("__dl"))
              .filter(F.col("__dl") > 0)
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("__dl").alias("avgdl")))
    return _bm25_from_terms(tf, None, qterms, id_col, query_id_col,
                            k, k1, b, dl_col="__dl", totals=totals)


def _bm25_from_terms(
    tf: DataFrame,
    dl: DataFrame,
    qterms: DataFrame,
    id_col: str,
    query_id_col: str,
    k: int,
    k1: float,
    b: float,
    prune_term_scan: bool = False,
    max_pruned_terms: int = 10_000,
    dl_col: str | None = None,
    totals: DataFrame | None = None,
) -> DataFrame:
    """Scoring core shared by text-query BM25 and the PRF-expanded
    second pass: ``qterms`` is a small (query_id, term) frame (distinct
    per query) that broadcasts everywhere.

    ``prune_term_scan``: a broadcast hash join still SCANS the whole
    postings side — on a persisted term-bucketed index that made
    search cost O(corpus postings) per call (the round-10 x100 study
    measured 3.4 s -> 19.6 s across a 10x corpus).  With the flag on,
    the distinct query terms (query-sized by the caller's contract)
    are collected and pushed down as a LITERAL ``isin`` — Spark then
    bucket-prunes the term-bucketed scan and skips row groups via the
    sorted-by-term min/max stats, so both postings subtrees read only
    the buckets that can contain query terms.  Guarded by
    ``max_pruned_terms``: past the cap the literal would bloat the
    plan, so it falls back to the full-scan broadcast join.  Scores
    are identical either way (the filter removes only rows that could
    never join).

    ``dl_col`` (round 14): the text path carries each doc's length as
    a column of ``tf`` itself (it is constant per id), so the id-keyed
    length join disappears; ``totals`` then supplies the (n_docs,
    avgdl) one-row frame the caller computed without a doc-length
    table."""
    if prune_term_scan:
        terms = [r[0] for r in qterms.select("term").distinct()
                 .limit(max_pruned_terms + 1).collect()]
        if len(terms) <= max_pruned_terms:
            tf = tf.filter(F.col("term").isin(terms))
    if totals is None:
        totals = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                        F.avg("dl").alias("avgdl"))
    # document frequency for QUERY terms only: the semi-join prunes the
    # vocabulary-sized aggregate down to |query terms| rows (a no-op
    # when the caller already term-filtered tf, as the text path does)
    dfreq = (
        tf.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term").agg(F.count(F.lit(1)).alias("dft"))
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
    )
    scored = scored if dl_col is not None else scored.join(dl, id_col)
    scored = (
        scored.withColumn(
            "dl", F.col(dl_col) if dl_col is not None else F.col("dl"))
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "idf",
            F.log(1 + (F.col("n_docs") - F.col("dft") + 0.5)
                  / (F.col("dft") + 0.5)))
        .withColumn(
            "contrib",
            F.col("idf") * F.col("tf") * (k1 + 1)
            / (F.col("tf")
               + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))))
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("contrib"), 6).alias("bm25"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("bm25").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "bm25", "rank")
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two ranked
    retrieval lists: ``rrf(d) = sum_lists 1 / (c + rank_list(d))``, the
    standard score-free way to combine lexical (BM25) and embedding
    (KNN) retrieval into one hybrid ranking — no score calibration
    between the two systems is needed, only their ranks.

    Inputs are ``(query_id, id, rank)`` frames (extra columns pass
    through from neither side); a document absent from one list simply
    contributes nothing for it.  Returns ``(query_id, id, rrf, rank)``
    with rank 1..k per query, ordered by ``(rrf desc, id)`` so the
    result is reproducible across engines (the two-term sum is a fixed
    IEEE expression, not an order-dependent aggregate).

    Scale shape: both inputs are top-k-per-query lists — |queries| * k
    rows, metadata-sized next to the corpus the retrievers scanned —
    so the full-outer join and the per-query window are trivially
    cheap; the expensive work already happened inside the retrievers.
    """
    a = ranked_a.select(
        F.col(query_id_col), F.col(id_col),
        F.col(rank_col).alias("__ra"))
    b = ranked_b.select(
        F.col(query_id_col), F.col(id_col),
        F.col(rank_col).alias("__rb"))
    fused = (
        a.join(b, [query_id_col, id_col], "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (F.lit(c) + F.col("__ra")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(c) + F.col("__rb")), F.lit(0.0)),
                6))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("rrf").desc(), F.col(id_col))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rrf", "rank")
    )


def rank_eval(
    ranked: DataFrame,
    truth: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str | None = None,
    k: int = 10,
) -> DataFrame:
    """Per-query IR metrics for a ranked retrieval result against a
    relevance set: ``(query_id, n_rel, n_hit, recall_at_k,
    precision_at_k, rr, ndcg)`` — the evaluation half every retrieval
    deployment needs next to :func:`bm25_topk`/:func:`rrf_fuse`
    (sweeping k1/b, comparing fusion variants, regression-gating an
    index rebuild).

    ``truth`` is ``(query_id, id[, rel])``; without ``rel_col`` every
    judged doc counts relevance 1.  With ``rel_col``, rows with
    ``rel <= 0`` are judged-non-relevant (standard graded qrels): they
    never count as relevant or as hits, and a query whose judgments
    are all non-relevant is absent from the output (trec_eval drops
    such queries too).  Metrics: recall@k and precision@k
    on the top-``k`` cut, reciprocal rank of the first relevant hit,
    and nDCG@k with the standard ``rel / log2(rank+1)`` discounted
    gain against the ideal ordering of the query's judgments.

    Scale shape: both inputs are per-query lists (k-bounded results,
    author-bounded judgments) — joins key on (query, id), aggregates
    are one partial-agg pass each, and the ideal-DCG ranking windows
    over judgment lists only.  Queries with no judged docs are absent
    (metrics are undefined there), matching trec_eval."""
    rel = (F.col(rel_col).cast("double") if rel_col
           else F.lit(1.0))
    # deliberately uncached: the judgment table feeds three subtrees,
    # but their shuffle stages are plan-identical and Spark's
    # ReusedExchange already computes them once — a persist here
    # measured SLOWER (3.0 -> 4.2 s on the fleet entry at sf0.1, where
    # the lineage is itself a BM25 run) by blocking that reuse behind
    # an InMemoryRelation materialization.
    t = truth.select(
        F.col(query_id_col), F.col(id_col), rel.alias("__rel"))
    # graded judgment files (trec qrels) carry explicit rel=0 rows for
    # judged-NON-relevant docs: they must not count toward n_rel, hits,
    # recall/precision, or set the reciprocal-rank first hit (their
    # nDCG gain is already zero)
    pos = t.filter(F.col("__rel") > 0)
    n_rel = pos.groupBy(query_id_col).agg(
        F.count(F.lit(1)).alias("n_rel"))
    cut = ranked.filter(F.col(rank_col) <= k).select(
        F.col(query_id_col), F.col(id_col), F.col(rank_col))
    hits = cut.join(pos, [query_id_col, id_col])
    per_q = hits.groupBy(query_id_col).agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.min(rank_col).alias("__first"),
        F.sum(F.col("__rel")
              / F.log2(F.col(rank_col) + 1)).alias("__dcg"))
    # ideal DCG: the query's judgments in best order, discounted at
    # ranks 1..n — windows over author-bounded judgment lists only
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__rel").desc(), F.col(id_col))
    idcg = (
        pos.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .groupBy(query_id_col)
        .agg(F.sum(F.col("__rel") / F.log2(F.col("__r") + 1))
             .alias("__idcg"))
    )
    return (
        n_rel.join(per_q, query_id_col, "left")
        .join(idcg, query_id_col)
        .select(
            F.col(query_id_col),
            F.col("n_rel"),
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(F.coalesce(F.col("n_hit"), F.lit(0))
                    / F.col("n_rel"), 6).alias("recall_at_k"),
            F.round(F.coalesce(F.col("n_hit"), F.lit(0))
                    / F.lit(float(k)), 6).alias("precision_at_k"),
            F.round(F.coalesce(1.0 / F.col("__first"), F.lit(0.0)), 6)
            .alias("rr"),
            F.round(F.coalesce(F.col("__dcg"), F.lit(0.0))
                    / F.col("__idcg"), 6).alias("ndcg"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted BM25 index — the retrieval member of the engine's persisted-
# index family: build the corpus-side tables once, search any number of
# query batches, fold new documents in at O(delta).  Lifecycle, liveness
# and compaction: ``index_store``.
# ---------------------------------------------------------------------------

def _doclen(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, dl)`` per document with at least one term.  The sum of a
    doc's term frequencies IS its token count, so this tokenizes only
    instead of re-running the postings aggregate."""
    return (df.select(F.col(id_col),
                      F.size(words(F.col(text_col))).cast("long")
                      .alias("dl"))
            .filter(F.col("dl") > 0))


def bm25_index_write(
    df: DataFrame,
    table_name: str,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
) -> None:
    """Build the persisted BM25 index: the ``(term, id, tf)`` postings
    table bucketed+sorted by ``term`` (query-term lookups and the
    document-frequency aggregate scan co-located buckets with ZERO
    postings shuffle) and the ``(id, dl)`` doc-length table bucketed by
    ``id`` (the scoring join's length lookup needs no length shuffle
    either).  N and avgdl derive from the length table at search time —
    one metadata-sized aggregate — so appends never maintain running
    totals that could drift."""
    store.build(df.sparkSession, "bm25", path,
                {"postings": doc_term_freq(df, id_col, text_col),
                 "doclen": _doclen(df, id_col, text_col)},
                {"id_col": id_col, "n_buckets": n_buckets}, table_name)


def bm25_index_append(
    delta: DataFrame,
    table_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Fold documents into the index at O(delta) under the store's
    append contract: delta ids must not be live (a deleted id revives
    here, so a re-crawled doc is an ``index_delete`` of its id, then
    this append)."""
    spark = delta.sparkSession
    path = store.locate(spark, f"{table_name}_postings")
    store.append(spark, path, store.read_meta(spark, path), id_col,
                 {"postings": doc_term_freq(delta, id_col, text_col),
                  "doclen": _doclen(delta, id_col, text_col)}, table_name)


def bm25_index_sync(
    new_corpus: DataFrame,
    diff: DataFrame,
    table_name: str,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Drive index maintenance from a :func:`..corpus.corpus_diff`
    churn report — the composition the two layers exist for: every
    ``added`` / ``changed`` / ``removed`` id is deleted, then the
    ``added`` / ``changed`` docs are appended (a replace); ``unchanged``
    docs cost nothing.  Total cost is
    O(churn), never O(corpus): the upsert set semi-joins out of the
    new corpus on id, and both maintenance ops are tombstone appends +
    churn-sized postings inserts.  Post-sync search equals a
    from-scratch index built on the new corpus (pinned by the
    composition test)."""
    spark = new_corpus.sparkSession
    # one evaluation of the diff (it costs two corpus fingerprint
    # scans): the churn rows are id+status-sized, so checkpoint them
    # eagerly and let the guard counts, the delete and the semi-join
    # all read the materialized churn instead of re-diffing
    churn = (diff.filter(F.col("status").isin("added", "changed",
                                              "removed"))
             .select(id_col, "status").localCheckpoint(eager=True))
    upsert_ids = (churn.filter(F.col("status") != "removed")
                  .select(id_col))
    if churn.limit(1).count():
        store.index_delete(spark, path, churn.select(id_col))
    if upsert_ids.limit(1).count():
        bm25_index_append(new_corpus.join(upsert_ids, id_col, "left_semi"),
                          table_name, id_col, text_col)


def bm25_index_search(
    spark,
    table_name: str,
    queries: DataFrame,
    path: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Search the persisted index: identical output contract (and
    scores) to running :func:`bm25_topk` over the full current corpus —
    pinned by the fleet's build-half/append-half oracle entry.  The
    corpus never re-tokenizes; the query-term literal pushdown
    bucket-prunes the postings scan (``prune_term_scan`` — queries are
    query-sized by contract, so collecting their distinct terms is the
    same scale as the broadcasts the scorer already does) and N/avgdl
    come from one doc-length aggregate."""
    meta = store.read_meta(spark, path)
    return bm25_topk(
        None, queries,
        id_col=meta["id_col"],
        query_id_col=query_id_col, query_text_col=query_text_col,
        k=k, k1=k1, b=b,
        tf_table=store.live(spark, path, meta, "postings", table_name),
        dl_table=store.live(spark, path, meta, "doclen", table_name),
        prune_term_scan=True)


def prf_expand_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    r: int = 5,
    e: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    tf_table: DataFrame | None = None,
    dl_table: DataFrame | None = None,
) -> DataFrame:
    """Pseudo-relevance-feedback BM25 (Rocchio-style two-pass): a
    first BM25 pass retrieves the top ``r`` docs per query, the ``e``
    highest-mass terms of those docs (summed tf, minus the original
    query terms) expand the query, and the second pass ranks the
    corpus against the expanded term set — the classic recall lever
    when exact query vocabulary misses relevant docs (benchmark
    decontamination sweeps: an eval question's paraphrases surface via
    the expansion terms).

    Fully deterministic, so the DuckDB oracle replays both passes:
    expansion terms tie-break on (mass desc, term), both ranking
    passes on (round(bm25,6) desc, id).  Returns
    ``(query_id, id, bm25, rank)`` for the SECOND pass, rank 1..k.

    Scale shape: everything query-sized stays broadcast (first-pass
    top-r lists, expansion term sets are r- and e-bounded); the corpus
    pays the tokenize pass ONCE (the tf/dl tables feed both passes —
    pass precomputed ``tf_table``/``dl_table`` or the persisted BM25
    index's tables on a standing corpus), and each pass prunes
    postings to its query terms before any aggregation."""
    # tf deliberately UNCACHED (round-8 re-measure): with a
    # plan-stable queries frame, Spark's ReusedExchange already dedups
    # the term-filtered tf subtrees across both passes, and persisting
    # forces materializing the FULL postings table — measured 3.4 s
    # cached vs 1.4 s uncached median (11.6 vs 3.6 s cold) at
    # sf0.1/local[32] in the bench harness.  (Round 14: the
    # filter-before-aggregate restructure that replaced bm25_topk's
    # text path was measured HERE too and reverted — PRF reads the
    # postings under THREE different term sets (pass 1, the
    # expansion-mass join, pass 2), so per-term-set token re-scans
    # cost three tokenize+explode passes where the one full
    # (id, term) aggregate is shared by every subtree via
    # ReusedExchange: 1.59 s -> 2.10 s median at sf0.1.  On a
    # standing corpus pass tf_table/dl_table or the persisted BM25
    # index, which is the real scale path.)
    tf = tf_table if tf_table is not None else \
        doc_term_freq(df, id_col, text_col)
    dl = dl_table if dl_table is not None else \
        tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    orig = cache_bounded(queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(words(F.col(query_text_col))))
        .alias("term")))
    first = _bm25_from_terms(tf, dl, orig, id_col, query_id_col,
                             r, k1, b)
    # expansion-term mass: summed tf over each query's top-r docs —
    # the candidate table is (r * per-doc-vocab)-bounded per query
    cand = first.select(query_id_col, id_col).join(tf, id_col)
    cand = cand.join(
        orig.select(F.col(query_id_col), F.col("term")),
        on=[query_id_col, "term"], how="left_anti")
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__mass").desc(), F.col("term"))
    expansion = (
        cand.groupBy(query_id_col, "term")
        .agg(F.sum("tf").alias("__mass"))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= e)
        .select(query_id_col, "term")
    )
    # the expanded term set EMBEDS the whole first pass — the second
    # pass broadcasts it from three subtrees (dfreq semi-join, the
    # postings join's qterms, and their distinct), each of which would
    # re-run pass 1 end-to-end.  It is a query-sized frame (<= |Q| *
    # (orig terms + e) rows): persist it so pass 1 runs once
    # (measured 5.9 s -> 3.5 s at sf0.1).
    expanded = cache_bounded(orig.unionByName(expansion).distinct())
    return _bm25_from_terms(tf, dl, expanded, id_col, query_id_col,
                            k, k1, b)
