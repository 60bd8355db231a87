"""Corpus-level analytics for training-data curation: vocabulary
statistics, repetition (quality) signals, per-source token-budget
packing, and benchmark-contamination detection.

None of these exist in the reference (its row-level surface stops at
stream maps, SURVEY.md §2.2); they extend the LLM-pipeline layer next to
``functions/text.py`` and ``functions/dedup.py``.  Everything stays in
Catalyst expressions / built-in DataFrame ops — no Python UDFs — so the
hot path is JVM codegen and every aggregation gets map-side partial
combine for free.

Scale notes (100 TB):
- ``vocab_topk`` is explode → partial-agg → global top-k; the shuffle
  carries one row per *distinct* (partition, token), not per occurrence,
  and the final top-k is a ``TakeOrderedAndProject`` (no global sort).
- ``repetition_signals`` is purely per-row: cost bounded by document
  length, embarrassingly parallel, zero shuffle.
- ``pack_token_budget`` shuffles once on the mixture key (source/domain).
  A cumulative sum is inherently sequential *within* a key, so a single
  giant domain serializes; for the degenerate few-domain case use the
  two-phase global-ranks pattern (``operators/windows.py``
  ``global_distribution_ranks``) keyed on (domain, range-bucket).
- ``ngram_contamination`` broadcasts the (small) benchmark gram set when
  it fits, else falls back to a shuffled semi-join on the gram hash;
  corpus grams are deduped per doc *before* the join so the join input
  is one row per distinct (doc, gram).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..casefold import lower
from . import index_store as store

__all__ = [
    "pmi_collocations",
    "words",
    "word_ngrams",
    "tfidf_top_terms",
    "vocab_topk",
    "heavy_hitters",
    "heavy_hitter_values",
    "chunk_documents",
    "repetition_signals",
    "ngram_diversity",
    "vocab_coverage",
    "token_jsd",
    "token_jsd_matrix",
    "pack_token_budget",
    "ngram_contamination",
    "ngram_novelty",
    "novelty_index_write",
    "novelty_probe",
    "novelty_index_append",
    "corpus_diff",
    "dataset_card",
    "dup_span_stats",
    "remove_dup_spans",
    "pack_sequences",
    "char_ngram_entropy",
    "zipf_fit",
    "chunk_by_sentences",
    "source_overlap",
]


def words(col: Column) -> Column:
    """Lower-cased whitespace tokens (empty text → empty array).

    Mirrors the DuckDB oracle expression
    ``regexp_extract_all(lower(trim(text)), '\\S+')`` exactly.
    """
    return F.regexp_extract_all(lower(F.trim(col)), F.lit(r"\S+"), 0)


def word_ngrams(ws: Column, n: int) -> Column:
    """Space-joined word ``n``-grams of a token array; fewer than ``n``
    tokens → empty array.

    Built by zipping the token array with its own shifted slices
    (``zip_with(acc, ws[k:], concat_ws)``) — O(words) with cheap
    per-element ops.  The transform-over-indices + per-gram ``slice``
    formulation re-slices O(n) per element inside an interpreted HOF;
    same lesson as :func:`..dedup.shingles` (~5x measured there)."""
    cnt = F.size(ws)
    acc = ws
    for k in range(1, n):
        shifted = F.slice(ws, k + 1, F.greatest(cnt - k, F.lit(0)))
        # zip_with pads with null; concat_ws skips nulls, so trailing
        # partial grams survive until the final slice drops them
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(cnt < n, F.array().cast("array<string>")).otherwise(
        F.slice(acc, 1, cnt - F.lit(n - 1)))


def vocab_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 100,
) -> DataFrame:
    """Corpus vocabulary: top-``k`` tokens by total occurrences with
    document frequency; ties broken by token for determinism.

    Plan shape: explode → ``groupBy(token)`` with map-side partial
    aggregation (occurrences) + two-phase distinct (doc_freq) →
    ``orderBy().limit(k)`` which Spark executes as
    ``TakeOrderedAndProject`` — per-partition heaps, no global sort.
    """
    tok = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("token")
    )
    agg = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("occurrences"),
        F.countDistinct(id_col).alias("doc_freq"),
    )
    return agg.orderBy(F.desc("occurrences"), F.asc("token")).limit(k)


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    k: int = 100,
) -> DataFrame:
    """Top-``k`` collocations (adjacent word pairs) by pointwise
    mutual information — the corpus-analysis lens that separates
    "statistically glued" phrases ("new york", "machine learning")
    from merely frequent ones ("of the"): ``PMI = ln(p(x,y) /
    (p(x) p(y)))`` with bigram probability over bigram mass and
    unigram probabilities over token mass (Church & Hanks 1990).
    ``min_count`` applies the standard rare-pair floor (a hapax pair
    maximizes PMI by accident; Church & Hanks recommend cutting it).

    Plan: bigrams come from a per-row array expression (``transform``
    over the token array — zero shuffle to build), then one
    ``groupBy(bigram)`` with map-side combine; unigram counts join on
    each side token (vocab-bounded tables, token-keyed shuffles);
    totals arrive as one broadcast row; final top-k is
    ``TakeOrderedAndProject``.  PMI is computed from exact integer
    counts with the division order mirrored in the SQL oracle, so the
    ranking (and the k-boundary) agrees bit-for-bit across engines.
    Output: ``(w1, w2, pair_count, pmi)`` ordered by pmi desc."""
    # tokenize ONCE into a materialized column, then build bigrams
    # from the COLUMN: an array HOF applied to the raw regex
    # expression re-evaluates the regex per array element (measured
    # 9.5 s vs 0.5 s at sf0.1 — a 17x trap), and three downstream
    # consumers would each re-pay the scan without the checkpoint.
    # Null text is dropped up front: words(NULL) is a null array and
    # size(null) = -1 under legacy sizeOfNull, which would silently
    # shrink the bigram total by one per null row
    toks = (df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col),
                    words(F.col(text_col)).alias("__ws"))
            .localCheckpoint(eager=True))
    c = F.col("__ws")
    blen = F.greatest(F.size(c) - 1, F.lit(0))
    bigrams = F.arrays_zip(F.slice(c, 1, blen).alias("w1"),
                           F.slice(c, 2, blen).alias("w2"))
    uni = (toks.select(F.explode("__ws").alias("t"))
           .groupBy("t").agg(F.count(F.lit(1)).alias("__cx"))
           .localCheckpoint(eager=True))  # totals + two join sides
    bi = (toks.select(F.explode(bigrams).alias("b"))
          .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__cxy"))
          .filter(F.col("__cxy") >= min_count))
    # total bigrams = total tokens - docs with >= 1 token (no third
    # explode): each nonempty doc contributes len-1 bigrams
    totals = (uni.agg(F.sum("__cx").cast("double").alias("__nu"))
              .crossJoin(toks.agg(
                  (F.sum(F.size("__ws"))
                   - F.count(F.when(F.size("__ws") > 0, 1)))
                  .cast("double").alias("__nb"))))
    joined = (bi.join(uni.withColumnRenamed("t", "w1")
                      .withColumnRenamed("__cx", "__c1"), "w1")
              .join(uni.withColumnRenamed("t", "w2")
                    .withColumnRenamed("__cx", "__c2"), "w2")
              .crossJoin(F.broadcast(totals)))
    pmi = F.log((F.col("__cxy") / F.col("__nb"))
                / ((F.col("__c1") / F.col("__nu"))
                   * (F.col("__c2") / F.col("__nu"))))
    return (joined.select("w1", "w2",
                          F.col("__cxy").alias("pair_count"),
                          F.round(pmi, 6).alias("pmi"))
            .orderBy(F.desc("pmi"), "w1", "w2").limit(k))


def _mg_summary(col_name: str, capacity: int):
    """``mapInPandas`` generator: reduce a partition's values to a
    Misra-Gries summary (<= ``capacity`` candidates with surviving
    counts) plus a NULL-keyed row carrying the partition's total.

    Batch-merge formulation (Agarwal et al.'s mergeable-summaries MG):
    add the batch's vectorized ``value_counts`` into the summary, and
    when it exceeds ``capacity``, subtract the (capacity+1)-th largest
    count from everything and drop the non-positives.  Per eviction at
    least ``capacity+1`` entries absorb the subtraction, so the total
    undercount of any key stays <= N/capacity — the same guarantee as
    the one-token-at-a-time loop at a fraction of the Python cost (one
    ``value_counts`` + one sort per Arrow batch instead of a dict op
    per token).
    """

    def gen(batches):
        import pandas as pd

        d: dict[str, int] = {}
        n = 0
        for pdf in batches:
            vc = pdf[col_name].dropna().value_counts()
            n += int(vc.sum())
            for val, c in vc.items():
                d[val] = d.get(val, 0) + int(c)
            if len(d) > capacity:
                sub = sorted(d.values(), reverse=True)[capacity]
                d = {k: v - sub for k, v in d.items() if v > sub}
        yield pd.DataFrame({col_name: list(d.keys()) + [None],
                            "n": list(d.values()) + [n]})

    return gen


def _hh_threshold_filter(counts: DataFrame, total: DataFrame,
                         min_count: int, min_fraction: float,
                         capacity: int, fn_name: str) -> DataFrame:
    """Shared exact-recount tail: threshold filter PLUS a runtime
    completeness guard.  The two-pass scheme is exact only when
    ``threshold > N/capacity`` (equivalently ``threshold * capacity >
    N`` — integer-exact); below that a token can evade every per-task
    summary and the "exact" result silently under-reports.  The fleet's
    own parameters honor the bound, but a caller passing e.g.
    ``min_count=1`` on a corpus larger than ``capacity`` would not —
    so the guarantee is enforced lazily via ``assert_true`` riding the
    broadcast 1-row total (no driver collect, raises at execution with
    the capacity to pass instead).
    """
    thresh = F.greatest(
        F.lit(min_count).cast("long"),
        F.ceil(F.lit(float(min_fraction)) * F.col("n_total")))
    guard = F.assert_true(
        thresh * F.lit(capacity) > F.col("n_total"),
        F.concat(
            F.lit(f"{fn_name}: completeness guarantee violated — "
                  f"threshold "),
            thresh.cast("string"),
            F.lit(f" <= N/capacity with N="), F.col("n_total").cast("string"),
            F.lit(f", capacity={capacity}; raise capacity above "),
            F.ceil(F.col("n_total") / thresh).cast("string"),
            F.lit(" or raise min_count/min_fraction")))
    out_cols = [c for c in counts.columns if c != "cnt"] + ["cnt"]
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(guard.isNull())
        .filter(F.col("cnt") >= thresh)
        .select(*out_cols)
    )


def heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    min_fraction: float = 0.0,
    capacity: int = 65536,
) -> DataFrame:
    """Exact frequent tokens — ``(word, cnt)`` for every token whose
    global count reaches ``max(min_count, ceil(min_fraction * N))`` —
    WITHOUT ever shuffling the full vocabulary.

    Two passes (the classic Misra-Gries + exact-recount scheme):

    1. one ``mapInPandas`` scan reduces each task to at most
       ``capacity`` candidate tokens (MG summary) plus its token total.
       Union-of-candidates guarantee: a token absent from every summary
       has per-task count <= N_task/capacity, hence global count
       <= N/capacity — so the candidate set contains every token at or
       above the threshold whenever ``threshold > N/capacity`` (always
       true for the fraction form when ``capacity > 1/min_fraction``,
       *independent of corpus size* — the right knob at 100 TB).  The
       condition is ENFORCED at execution time: a parameterization
       that cannot guarantee completeness raises instead of silently
       under-reporting (see :func:`_hh_threshold_filter`).
    2. one JVM explode scan recounts ONLY the candidates (broadcast
       left-semi on the <= tasks*capacity candidate words) — the shuffle
       carries candidate words only, with map-side combine.

    Everything stays lazy (the threshold joins in as a broadcast 1-row
    aggregate, no driver collect).  Versus :func:`vocab_topk` (which
    shuffles one row per distinct (task, token)): this bounds the
    shuffle by the candidate budget even on heavy-tailed web-scale
    vocabularies.  BOTH passes tokenize with the same JVM
    :func:`words` expression — a Python ``\\S+`` in pass 1 is
    Unicode-aware where the JVM/oracle regex is ASCII, and a token
    containing e.g. a no-break space would then never become a
    candidate and be silently dropped from the exact result.
    """

    partials = df.select(
        F.explode(words(F.col(text_col))).alias("word")
    ).mapInPandas(_mg_summary("word", capacity),
                  schema="word string, n long")
    cand = partials.filter(F.col("word").isNotNull()).select("word").distinct()
    total = partials.filter(F.col("word").isNull()).agg(
        F.sum("n").alias("n_total"))
    counts = (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .join(F.broadcast(cand), "word", "left_semi")
        .groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _hh_threshold_filter(counts, total, min_count, min_fraction,
                                capacity, "heavy_hitters")


def heavy_hitter_values(
    df: DataFrame,
    value_col: str,
    min_count: int = 1,
    min_fraction: float = 0.0,
    capacity: int = 65536,
) -> DataFrame:
    """:func:`heavy_hitters` over a COLUMN's values instead of text
    tokens — hot-key detection: which user/tenant/join-key exceeds a
    count (or traffic-fraction) threshold.  At 100 TB this is the skew
    probe you run BEFORE a big join or groupBy — its output is exactly
    the key list to salt (``operators/joins.py`` ``salted_join``) or to
    route through AQE skew handling.

    Same two-pass scheme and guarantee (``threshold > N/capacity``;
    fraction thresholds need only ``capacity > 1/min_fraction``, corpus-
    size-independent): Misra-Gries candidates per task, then an exact
    broadcast-semi recount of candidates only — the shuffle is bounded
    by the candidate budget, never by the key cardinality.  Values
    compare as strings (``(value, cnt)`` output) so one output schema
    serves any key type; nulls are ignored.  The string rendering is
    Spark's ``cast('string')`` in BOTH passes — a Python ``str()`` in
    pass 1 would render booleans/binary/timestamps differently and the
    recount semi-join would silently match nothing.
    """

    partials = df.select(
        F.col(value_col).cast("string").alias("value")
    ).mapInPandas(_mg_summary("value", capacity),
                  schema="value string, n long")
    cand = partials.filter(F.col("value").isNotNull()).select("value").distinct()
    total = partials.filter(F.col("value").isNull()).agg(
        F.sum("n").alias("n_total"))
    counts = (
        df.select(F.col(value_col).cast("string").alias("value"))
        .filter(F.col("value").isNotNull())
        .join(F.broadcast(cand), "value", "left_semi")
        .groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _hh_threshold_filter(counts, total, min_count, min_fraction,
                                capacity, "heavy_hitter_values")


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-size overlapping token windows —
    ``(id, chunk_id, chunk_text, n_tokens)`` — the context-window
    chunking step of a training/RAG pipeline.

    Windows start every ``chunk_tokens - overlap`` tokens; the last
    window starts at the final stride position whose tail is not fully
    covered by the previous window (``start <= n - overlap - 1``), so
    every token appears in at least one chunk, short docs yield exactly
    one chunk, and empty docs yield none.

    Pure Catalyst array algebra (tokenize once per row, ``posexplode``
    over the start sequence, per-chunk ``slice``): per-row cost, zero
    shuffle, fully reproducible in the SQL oracle (``generate_series``
    + ``list_slice``).  Output rows ~= tokens/stride — the explosion IS
    the product, not an intermediate.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    ws = F.regexp_extract_all(F.trim(F.col(text_col)), F.lit(r"\S+"), 0)
    n = F.size(ws)
    starts = F.when(n > 0, F.sequence(
        F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select(F.col(id_col), ws.alias("__ws"), n.alias("__n"),
                  F.posexplode(starts).alias("chunk_id", "__start"))
        .select(
            id_col, "chunk_id",
            F.concat_ws(" ", F.slice(
                F.col("__ws"), F.col("__start") + 1, chunk_tokens)
            ).alias("chunk_text"),
            F.least(F.lit(chunk_tokens),
                    F.col("__n") - F.col("__start")).alias("n_tokens"),
        )
    )


def repetition_signals(col: Column) -> Column:
    """Gopher-style repetition quality signals as a struct:
    ``n_tokens``, ``distinct_ratio`` (distinct/total words) and
    ``top_word_ratio`` (most frequent word's share).

    Whole computation is per-row array algebra, zero shuffle, trivially
    parallel.  The top-word count is the longest equal-run of the SORTED
    token array — one JVM ``array_sort`` plus an O(n) ``aggregate``
    fold, not the O(distinct × total) nested ``transform``/``filter``
    scan (HOF lambdas run interpreted; the quadratic form cost ~260k
    lambda evaluations per ~750-word document, measured ~2s for 5k
    docs vs ~0.4s for this form).  Empty text → (0, null, null).
    """
    ws = words(col)
    run = F.aggregate(
        F.array_sort(ws),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_freq = run.best
    distinct = F.array_distinct(ws)
    n = F.size(ws)
    return F.struct(
        n.cast("long").alias("n_tokens"),
        F.when(n > 0, F.round(F.size(distinct) / n, 6)).alias("distinct_ratio"),
        F.when(n > 0, F.round(top_freq / n, 6)).alias("top_word_ratio"),
    )


def ngram_diversity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    by: str | None = None,
) -> DataFrame:
    """Corpus-level distinct-n diversity (Li et al. 2016 "A
    Diversity-Promoting Objective Function for Neural Conversation
    Models"): per ``by`` group (or the whole corpus), the ratio of
    DISTINCT word ``n``-grams to total ``n``-gram occurrences, plus the
    singleton fraction (grams seen exactly once / distinct grams — a
    mode-collapse / templated-text early-warning: boilerplate-heavy or
    model-generated slices show low diversity and low singleton mass
    long before per-doc repetition rules fire).

    Output: ``(by?, total_grams, distinct_grams, diversity,
    singleton_frac)``.

    Plan: one tokenize+gram pass, occurrence counts via (by, gram)
    groupBy — map-side partial combine means the shuffle carries one
    row per distinct gram per map partition, never per occurrence —
    then a tiny per-group rollup.  Nothing all-pairs, nothing
    collected; gram keys could be xxhash64-narrowed at 100 TB, kept
    as strings here for cross-engine oracle exactness (collision-free
    by construction).
    """
    keys = [by] if by else []
    grams = df.select(
        *keys,
        F.explode(word_ngrams(words(F.col(text_col)), n)).alias("__g"),
    )
    occ = grams.groupBy(*keys, "__g").agg(F.count(F.lit(1)).alias("__c"))
    return (
        occ.groupBy(*keys)
        .agg(
            F.sum("__c").alias("total_grams"),
            F.count(F.lit(1)).alias("distinct_grams"),
            F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).alias("__ones"),
        )
        .select(
            *keys,
            "total_grams",
            "distinct_grams",
            F.round(F.col("distinct_grams") / F.col("total_grams"), 6)
            .alias("diversity"),
            F.round(F.col("__ones") / F.col("distinct_grams"), 6)
            .alias("singleton_frac"),
        )
    )


def pack_token_budget(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
    order_col: str = "n_chars",
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "auto",
    num_ranges: int | None = None,
    n_rows: int | None = None,
    n_groups: int | None = None,
    rows_per_group_threshold: int = 2_000_000,
) -> DataFrame:
    """Greedy per-group token-budget packing for mixture construction:
    within each ``group_col`` take documents in ``order_col``-descending
    (quality) order until the running token total would exceed
    ``budget``.  Returns the kept rows with their running total
    ``cum_tokens``.

    Two physical strategies, same answer (equivalence-tested):

    * ``window``: one shuffle on the mixture key, running sum as a
      ROWS-frame window inside each group.  Parallelism = number of
      groups — fine for many groups, serial for a 100 TB corpus with 5
      domains (5 tasks carry everything).
    * ``two_phase``: the ``global_distribution_ranks`` pattern
      (operators/windows.py) generalized to per-group cumulative sums.
      Range-repartition on (group, order desc, id) — pinned with
      ``localCheckpoint`` because the RangePartitioner re-samples
      boundaries per job — then (1) per-(partition, group) token sums,
      a metadata-sized aggregate, get prefix-summed into offsets with a
      tiny window and (2) each partition computes its LOCAL running sum
      and adds its group's offset via broadcast join.  Parallelism =
      ``num_ranges`` regardless of group count, and no driver collect
      (the offsets stay distributed, unlike the rank variant's
      guarded (pid, count) collect).
    * ``auto`` (default): ONE column-pruned probe scan returns both
      ``approx_count_distinct(group_col)`` and the row count, and
      ``two_phase`` is taken only when groups are FEW (< default
      parallelism) AND the per-group row load is LARGE
      (``n_rows / n_groups > rows_per_group_threshold``).  Group count
      alone is not enough: a small corpus with few groups pays the
      probe + eager checkpoint for nothing and the plain window wins
      outright (measured 3.3x at sf0.1 — the round-5 perf weak); the
      two-phase plan only earns its overhead when single-group window
      tasks would each sort millions of rows.  Callers with catalog
      stats can pass ``n_rows``/``n_groups`` to skip the probe scan
      entirely.

    Token counting and the range exchange both run on a pruned
    (id, group, order, n_tokens) projection — the text column never
    shuffles or checkpoints.
    """
    from pyspark.sql.window import Window

    n_tok = F.size(words(F.col(text_col))).cast("long")
    slim_cols = list(dict.fromkeys([id_col, group_col, order_col]))
    slim = df.select(*slim_cols, n_tok.alias("n_tokens"))
    out_cols = [id_col, group_col, "n_tokens", "cum_tokens"]
    order = [F.desc(order_col), F.asc(id_col)]

    if mode == "auto":
        if n_rows is None or n_groups is None:
            probed = slim.agg(
                F.approx_count_distinct(group_col).alias("g"),
                F.count(F.lit(1)).alias("n")).collect()[0]
            n_groups = n_groups if n_groups is not None else probed["g"]
            n_rows = n_rows if n_rows is not None else probed["n"]
        few_groups = (
            n_groups < df.sparkSession.sparkContext.defaultParallelism)
        heavy_groups = n_rows > max(n_groups, 1) * rows_per_group_threshold
        mode = "two_phase" if (few_groups and heavy_groups) else "window"

    if mode == "window":
        w = (
            Window.partitionBy(group_col)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            slim.withColumn("cum_tokens", F.sum("n_tokens").over(w))
            .filter(F.col("cum_tokens") <= budget)
            .select(*out_cols)
        )
    if mode != "two_phase":
        raise ValueError(f"unknown mode: {mode!r}")

    spark = df.sparkSession
    num_ranges = num_ranges or spark.sparkContext.defaultParallelism
    parts = (
        slim.repartitionByRange(num_ranges, F.col(group_col), *order)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    psums = parts.groupBy("__pid", group_col).agg(
        F.sum("n_tokens").alias("__psum"))
    off_w = Window.partitionBy(group_col).orderBy("__pid")
    offsets = psums.withColumn(
        "__offset",
        F.coalesce(
            F.sum("__psum").over(off_w) - F.col("__psum"), F.lit(0)),
    ).select("__pid", group_col, "__offset")
    local_w = (
        Window.partitionBy("__pid", group_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        parts.join(F.broadcast(offsets), on=["__pid", group_col])
        .withColumn(
            "cum_tokens", F.sum("n_tokens").over(local_w) + F.col("__offset"))
        .filter(F.col("cum_tokens") <= budget)
        .select(*out_cols)
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark-contamination detection: flag corpus documents sharing
    at least one exact (normalized) word ``n``-gram with any benchmark
    document.  Returns ``(id_col, n_hit_grams)`` — the count of
    *distinct* contaminated grams per document.

    Both sides dedupe grams before the join (benchmark globally,
    corpus per document), so join input is one row per distinct
    (doc, gram) — never per occurrence, and both sides join on the
    64-bit xxhash64 of the gram instead of the string: the broadcast
    ships 8 bytes/gram instead of ~n words, and the probe is a long
    compare (collision p ~ |corpus grams| x |bench grams| / 2^64 —
    vanishing, and only ever inflates a hit count by 1).  The benchmark
    side of a contamination check is small by definition (an eval set),
    so it is broadcast by default; pass ``broadcast_benchmark=False``
    to fall back to a shuffled semi-join when it is not.
    """
    bench_grams = (
        benchmark.select(
            F.explode(
                F.transform(word_ngrams(words(F.col(text_col)), n),
                            lambda g: F.xxhash64(g))).alias("gram_h")
        )
        .distinct()
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    corpus_grams = corpus.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(word_ngrams(words(F.col(text_col)), n),
                            lambda g: F.xxhash64(g)))).alias("gram_h"),
    )
    return (
        corpus_grams.join(bench_grams, "gram_h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


def ngram_novelty(
    df: DataFrame,
    reference: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_reference: bool = False,
) -> DataFrame:
    """Per-document novelty against a REFERENCE corpus: for each doc,
    the fraction of its distinct word ``n``-grams NOT present anywhere
    in the reference — ``(id, n_grams, n_seen, novelty)`` with
    ``novelty = 1 - n_seen/n_grams`` (docs with no grams carry
    ``n_grams = 0, novelty = 1.0``).

    The cross-corpus measurement the within-corpus
    :func:`dup_span_stats` and the hit-count-only
    :func:`ngram_contamination` don't give: how much of a NEW crawl is
    already in the landed corpus (admission / budget decisions), or how
    much of a model's generated text is verbatim training data
    (memorization audits, Lee et al. 2022 / Carlini et al. 2022 style).

    Plan: both sides dedupe grams before the join and join on the
    64-bit gram hash (8 bytes/gram on the wire); the reference gram
    set is a distinct-hash table — shuffled semi-join by default
    because a reference CORPUS is usually big (pass
    ``broadcast_reference=True`` when it is eval-sized); the per-doc
    rollup is one partial-agg pass.  A left join (not inner) keeps
    fully-novel docs in the output."""
    ref_grams = (
        reference.select(
            F.explode(
                F.transform(word_ngrams(words(F.col(text_col)), n),
                            lambda g: F.xxhash64(g))).alias("gram_h"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    if broadcast_reference:
        ref_grams = F.broadcast(ref_grams)
    doc_grams = df.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(
                F.transform(word_ngrams(words(F.col(text_col)), n),
                            lambda g: F.xxhash64(g)))).alias("gram_h"),
    )
    return (
        doc_grams.join(ref_grams, "gram_h", "left")
        .groupBy(id_col)
        .agg(
            F.count("gram_h").alias("n_grams"),
            F.count("__hit").alias("n_seen"))
        .withColumn(
            "novelty",
            F.when(F.col("n_grams") == 0, F.lit(1.0)).otherwise(
                F.round(1.0 - F.col("n_seen") / F.col("n_grams"), 6)))
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-level diff between two corpus versions (old crawl vs
    re-crawl): one row per doc id with ``status`` in ``added`` (id only
    in new), ``removed`` (only in old), ``changed`` (both, normalized
    fingerprint differs), ``unchanged`` — the churn report that decides
    what feeds the index maintenance ops (``added``/``changed`` ->
    replace, ``removed`` -> delete) and how much of a re-crawl is worth
    reprocessing at all.

    The row-level :func:`..operators.quality.snapshot_diff` compares
    columns; this compares CONTENT identity (the same casefolded
    whitespace-collapsed md5 the exact-dedup family keys on), so
    cosmetic re-serializations don't count as changes.  One
    fingerprint pass per side + one id-keyed full-outer join — both
    linear, shuffle keyed on id."""
    from .text import fingerprint

    o = old.select(F.col(id_col),
                   fingerprint(F.col(text_col)).alias("__ofp"))
    n = new.select(F.col(id_col),
                   fingerprint(F.col(text_col)).alias("__nfp"))
    return (
        o.join(n, id_col, "full_outer")
        .select(
            id_col,
            F.when(F.col("__ofp").isNull(), F.lit("added"))
            .when(F.col("__nfp").isNull(), F.lit("removed"))
            .when(F.col("__ofp") == F.col("__nfp"), F.lit("unchanged"))
            .otherwise(F.lit("changed")).alias("status"))
    )


# ---------------------------------------------------------------------------
# Persisted novelty (reference-gram) index — the cross-corpus member of the
# persisted-index family: probe any delta batch's n-gram novelty against
# everything landed so far at O(delta), never rescanning the corpus.
# Lifecycle, liveness and compaction: ``index_store``.
# ---------------------------------------------------------------------------

def novelty_index_write(
    df: DataFrame,
    table_name: str,
    path: str,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
) -> None:
    """Persist the reference corpus's gram POSTING pairs as a bucketed
    ``(gram_h, owner)`` table — one row per (distinct gram, contributing
    doc) — with ``n`` recorded in the meta.  Delta probes shuffle only
    the delta's grams into this bucketing — the corpus side is a
    bucket-co-located scan, the same zero-corpus-shuffle contract as
    the MinHash/fingerprint/BM25 indexes.

    The owner column is the gram's exact contributor set, which buys
    two things:

    * **replay safety is exact**: :func:`novelty_probe` counts a gram
      as SEEN only when some live contributor OUTSIDE the probing batch
      holds it;
    * **per-doc deletion is expressible** (right-to-be-forgotten on the
      memorization-audit use): ``index_delete`` tombstones owners at
      O(delete batch), and a gram dies exactly when ALL its
      contributors are deleted, with no rebuild.  Postings cost
      corpus-token-linear storage (the BM25-postings scale) instead of
      distinct-gram storage — the price of an exact owner set.

    Appends stay O(delta) and write-only (:func:`novelty_index_append`
    inserts the delta's pairs without reading the corpus table);
    replayed appends may duplicate rows, which probes are insensitive
    to (``distinct`` on the bucket key, co-located) and compaction
    folds away."""
    store.build(df.sparkSession, "novelty", path,
                {"grams": _novelty_pairs(df, n, id_col, text_col)},
                {"n": n, "n_buckets": n_buckets, "id_col": id_col},
                table_name)


def _novelty_pairs(df, n, id_col, text_col):
    """(gram_h, owner) posting pairs of a corpus/delta — distinct by
    construction (array_distinct per doc; owners distinguish docs)."""
    return df.select(
        F.col(id_col).alias("owner"),
        F.explode(
            F.array_distinct(
                F.transform(word_ngrams(words(F.col(text_col)), n),
                            lambda g: F.xxhash64(g)))).alias("gram_h"),
    ).select("gram_h", "owner")


def novelty_probe(
    batch: DataFrame,
    table_name: str,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc novelty of a delta batch against the persisted gram
    index: ``(id, n_grams, n_seen, novelty)`` — the incremental form
    of :func:`ngram_novelty` (same output contract), at O(delta) cost.
    A gram counts as seen only when some live contributor OUTSIDE the
    batch holds it — exact under the posting schema; the in-batch
    owner list and the tombstone counts broadcast, the gram distinct
    runs on the bucket key co-located."""
    spark = batch.sparkSession
    meta = store.read_meta(spark, path)
    n = meta["n"]
    excluded = batch.select(F.col(id_col).alias("owner")).distinct()
    seen = (
        store.live(spark, path, meta, "grams", table_name)
        .join(F.broadcast(excluded), "owner", "left_anti")
        .select("gram_h").distinct()
        .withColumn("__hit", F.lit(1))
    )
    doc_grams = batch.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(
                F.transform(word_ngrams(words(F.col(text_col)), n),
                            lambda g: F.xxhash64(g)))).alias("gram_h"))
    return (
        doc_grams.join(seen, "gram_h", "left")
        .groupBy(id_col)
        .agg(F.count("gram_h").alias("n_grams"),
             F.count("__hit").alias("n_seen"))
        .withColumn(
            "novelty",
            F.when(F.col("n_grams") == 0, F.lit(1.0)).otherwise(
                F.round(1.0 - F.col("n_seen") / F.col("n_grams"), 6)))
    )


def novelty_index_append(
    delta: DataFrame,
    table_name: str,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Fold a delta's posting pairs into the index at O(delta), WRITE
    ONLY — the corpus table is never read: under the posting schema a
    delta doc's pair must land even when the gram already exists, or
    deleting the original contributor would kill a gram this doc still
    holds.  A deleted owner revives here.  Replayed appends duplicate
    rows harmlessly: probes are distinct-on-bucket-key and compaction
    folds duplicates away — semantic convergence, not storage
    idempotence."""
    spark = delta.sparkSession
    meta = store.read_meta(spark, path)
    store.append(spark, path, meta, id_col,
                 {"grams": _novelty_pairs(delta, meta["n"], id_col,
                                          text_col)}, table_name)


def dup_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-document duplicated-span coverage (the measurement side of
    exact substring dedup, Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better"): for each doc, the fraction of its
    DISTINCT word ``n``-grams that also occur in at least one OTHER
    document.  High coverage = the doc is largely stitched from text
    that exists elsewhere (mirrors, quotes, template farms) even when
    no whole-doc or paragraph duplicate exists.

    Returns ``(id, n_grams, n_dup_grams, dup_frac)``; docs shorter than
    ``n`` words keep a row with ``n_grams = 0`` and null ``dup_frac``.

    Plan shape: ONE tokenize+hash pass (grams travel as 8-byte
    xxhash64 values, never strings) exploded to distinct (doc, gram)
    pairs and PERSISTED; the gram's corpus doc-count is a hash
    aggregate over the persisted pairs joined back onto them — the
    bare agg-then-rejoin form tokenizes three times (measured ~3x this
    plan's wall at sf0.1), and the earlier count-window form avoided
    that but paid a full per-partition SORT of every (doc, gram) pair
    (round 14: windows sort, hash aggregates don't — sf0.1 medians
    2.9 s window vs 1.3 s persisted agg+join).  The persisted pair
    table is linear in corpus tokens and spills to disk; the per-doc
    rollup is the last shuffle; docs with no grams rejoin via the
    pruned (id) side.  No all-pairs comparison anywhere, no sort:
    cost is linear in corpus token count, the heaviest shuffle
    carries (doc_id, gram_h) longs.
    """
    from ._cache import cache_bounded

    grams = cache_bounded(df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(word_ngrams(words(F.col(text_col)), n),
                            lambda g: F.xxhash64(g)))).alias("gram_h"),
    ))
    counts = grams.groupBy("gram_h").agg(
        F.count(F.lit(1)).alias("__df"))
    flagged = grams.join(counts, "gram_h")
    per_doc = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count(F.when(F.col("__df") >= 2, 1)).alias("n_dup_grams"),
    )
    return (
        df.select(id_col).join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.when(
                F.col("n_grams").isNotNull() & (F.col("n_grams") > 0),
                F.round(F.col("n_dup_grams") / F.col("n_grams"), 6),
            ).alias("dup_frac"),
        )
    )


def remove_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup REMOVAL (the rewrite side of
    :func:`dup_span_stats`, Lee et al. 2022): drop every token covered
    by a word ``n``-gram occurring in at least ``min_docs`` distinct
    documents, and reassemble the survivors in order.  Unlike
    whole-doc or paragraph dedup this erases the duplicated span from
    EVERY copy — memorization pressure comes from the repeated
    substring itself, not from which document carries it.

    Returns ``(id, n_tok, n_removed, text)`` — ``text`` is the kept
    tokens space-joined (docs shorter than ``n`` words pass through
    untouched; a fully-covered doc keeps its row with empty text, so
    the caller decides whether to drop empties).

    Plan shape: the tokenized base (words + gram hashes) is ONE
    tokenize+hash pass, PERSISTED — it feeds both the frequency side
    and the rewrite join-back, which otherwise re-tokenizes the corpus
    (round 14; the cache is query-scoped and linear in corpus tokens).
    Doc-frequency is a hash aggregate over the exploded distinct
    (doc, gram-xxhash64) pairs joined back onto them (the earlier
    count-window spelling paid a full per-partition sort of every
    pair — same finding as :func:`dup_span_stats`; the join keeps only
    grams at or above ``min_docs``, so it carries the DUPLICATED gram
    set, not the corpus), reduced to a per-doc array of its OWN
    duplicated gram start-able hashes, joined back on the id.  The
    rewrite is then pure Catalyst array algebra per row: token i
    survives unless some gram starting in ``[i-n+1, i]`` is in the
    doc's dup set.  Membership tests are linear in the per-doc
    dup-set size — bounded by doc length, never corpus size; nothing
    all-pairs, no sort, shuffles carry 8-byte hashes plus ids.
    """
    from ._cache import cache_bounded

    base = cache_bounded(df.select(
        F.col(id_col), words(F.col(text_col)).alias("__ws")
    ).withColumn(
        "__gh",
        F.transform(word_ngrams(F.col("__ws"), n), lambda g: F.xxhash64(g)),
    ))
    pairs = base.select(
        F.col(id_col), F.explode(F.array_distinct("__gh")).alias("__h"))
    dup_grams = (
        pairs.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("__h")
    )
    dup_sets = (
        pairs.join(dup_grams, "__h")
        .groupBy(id_col)
        .agg(F.collect_set("__h").alias("__dup"))
    )
    joined = base.join(dup_sets, id_col, "left").select(
        F.col(id_col), F.col("__ws"), F.col("__gh"),
        F.coalesce(F.col("__dup"), F.array().cast("array<bigint>"))
        .alias("__dup"),
    )
    n_tok = F.size("__ws")
    n_grams = F.size("__gh")
    # gram starts are 0-based here; token i is covered iff a dup gram
    # starts in [max(i-n+1, 0), min(i, n_grams-1)] — the bounds are
    # always ordered for i in [0, n_tok) when n_grams > 0
    covered = F.transform(
        F.sequence(F.lit(0), n_tok - 1),
        lambda i: F.exists(
            F.sequence(F.greatest(i - (n - 1), F.lit(0)),
                       F.least(i, n_grams - 1)),
            lambda j: F.array_contains(
                F.col("__dup"), F.element_at("__gh", j + 1)),
        ),
    )
    marked = joined.withColumn(
        "__cov",
        F.when((n_tok == 0) | (n_grams <= 0) | (F.size("__dup") == 0),
               F.array().cast("array<boolean>")).otherwise(covered),
    )
    kept = F.when(
        F.size("__cov") == 0, F.col("__ws")
    ).otherwise(
        F.transform(
            F.filter(
                F.arrays_zip(F.col("__ws").alias("w"),
                             F.col("__cov").alias("c")),
                lambda s: ~s["c"],
            ),
            lambda s: s["w"],
        )
    )
    return marked.select(
        F.col(id_col),
        n_tok.alias("n_tok"),
        (n_tok - F.size(kept)).alias("n_removed"),
        F.concat_ws(" ", kept).alias(text_col),
    )


def tfidf_top_terms(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-``k`` characteristic terms per group by tf-idf.

    tf = term occurrences within the group; idf = ln(n_groups /
    groups-containing-term), so terms every group shares score 0 and
    group-specific vocabulary rises.  Returns (group, term, tf, tfidf
    rounded, rank).

    Scale shape: one explode, then every aggregate is partial-agg
    friendly — (group, term) counts shuffle once; the per-term group
    frequency reuses those counts (second shuffle on term, rows =
    distinct terms, not occurrences); n_groups arrives as a broadcast
    one-row cross join (never a driver collect); final top-k is a
    window over the (group, term) rows — bounded by vocabulary size,
    not corpus size.
    """
    from pyspark.sql import Window

    tokens = df.select(
        F.col(group_col).alias("grp"),
        F.explode(words(F.col(text_col))).alias("term"),
    )
    tf = tokens.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("tf"))
    gf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("n_groups_with"))
    n_groups = df.select(
        F.countDistinct(F.col(group_col)).alias("n_groups"))
    scored = (
        tf.join(gf, "term")
        .crossJoin(F.broadcast(n_groups))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_groups") / F.col("n_groups_with")), 6),
        )
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "term", "tf", "tfidf", "rank")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 2048,
    num_ranges: int | None = None,
) -> DataFrame:
    """Concat-then-chunk sequence packing (the GPT-style training
    layout): documents concatenated in ``id_col`` order and cut into
    fixed ``seq_len``-token training sequences; each doc's row reports
    its global token offset and which sequences it lands in.

    Returns ``(id, n_tok, tok_start, seq_start, seq_end)`` —
    ``tok_start`` is the doc's 0-based offset in the concatenated
    token stream, ``seq_start``/``seq_end`` the first/last sequence
    index it touches (equal when the doc fits inside one sequence;
    empty docs report ``seq_end < seq_start`` — they occupy nothing).
    Downstream sharded writers group by ``seq_start`` bucket to land
    co-sequence docs together.

    The global running sum over 100 TB of token counts is the whole
    problem: a naive ``Window.orderBy(id)`` is a single-task funnel.
    This uses :func:`~..operators.windows.global_cumsum` — value-
    bucketed two-phase cumulative sum, parallelism = ``num_ranges``,
    no materialization — and everything after the cumsum is per-row
    arithmetic.  Token counting itself is per-row, zero shuffle.

    String doc-ids are supported directly: the concat order becomes
    ``(xxhash64(id), id)`` — deterministic and partitioning-
    independent, which is all a packing layout needs (and hash order
    doubles as a free document shuffle for training).
    """
    from ..operators.windows import global_cumsum
    from .text import token_count

    with_tok = df.select(
        F.col(id_col), token_count(F.col(text_col)).alias("n_tok"))
    cum = global_cumsum(with_tok, id_col, "n_tok", out_col="__cum",
                        num_ranges=num_ranges)
    tok_start = (F.col("__cum") - F.col("n_tok")).cast("bigint")
    return cum.select(
        F.col(id_col),
        F.col("n_tok").cast("bigint").alias("n_tok"),
        tok_start.alias("tok_start"),
        F.floor(tok_start / seq_len).cast("bigint").alias("seq_start"),
        F.floor((tok_start + F.col("n_tok") - 1) / seq_len)
        .cast("bigint").alias("seq_end"),
    )


def char_ngram_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document character n-gram Shannon entropy and distinct
    ratio — the RefinedWeb/CCNet-style "natural text vs boilerplate /
    keyword-stuffing / generated spam" quality signal (repetitive text
    has low entropy, random byte soup has high distinct ratio AND high
    entropy; natural prose sits in a narrow band of both).

    Returns ``(id, n_grams, n_distinct, distinct_ratio, entropy)``
    over documents with at least one ``n``-gram (shorter docs carry no
    signal and are absent).  ``entropy`` is the natural-log Shannon
    entropy of the gram distribution, computed from the per-gram
    integer counts as ``ln(N) - sum(c*ln(c))/N`` — one identity, no
    per-gram probability column.

    Scale shape: text normalizes (casefold, whitespace collapse)
    per-row, then the DOCS are hash-repartitioned by ``id`` BEFORE the
    gram explode — every aggregation key below is ``id``-prefixed, so
    one text-sized exchange satisfies both groupBys and the exploded
    ``(id, gram)`` rows never cross the wire (round 14: the previous
    shape shuffled one row per distinct gram per doc, ~L rows carrying
    ~30 bytes each vs the doc's L text bytes shipped once; both gram
    exchanges vanish from the plan).  Zero Python, no window, no
    all-pairs; cost stays linear in corpus grams.
    """
    norm = lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    L = F.length(norm)
    grams = (
        df.select(F.col(id_col), norm.alias("__t"), L.alias("__l"))
        .filter(F.col("__l") >= n)
        .repartition(F.col(id_col))
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(1), F.col("__l") - (n - 1)))
            .alias("__i"),
            F.col("__t"))
        .select(F.col(id_col),
                F.substring(F.col("__t"), F.col("__i"), n).alias("__g"))
    )
    counts = grams.groupBy(id_col, "__g").agg(
        F.count(F.lit(1)).alias("__c"))
    return (
        counts.groupBy(id_col)
        .agg(F.sum("__c").alias("n_grams"),
             F.count(F.lit(1)).alias("n_distinct"),
             F.sum(F.col("__c").cast("double")
                   * F.log(F.col("__c").cast("double"))).alias("__clc"))
        .select(
            F.col(id_col),
            F.col("n_grams"),
            F.col("n_distinct"),
            F.round(F.col("n_distinct") / F.col("n_grams"), 6)
            .alias("distinct_ratio"),
            (F.round(
                F.log(F.col("n_grams").cast("double"))
                - F.col("__clc") / F.col("n_grams"), 6) + F.lit(0.0))
            .alias("entropy"),
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: the least-squares
    slope of ``ln(freq)`` against ``ln(rank)`` for the ``top`` most
    frequent tokens (natural corpora fit slope ~ -1; heavily
    deduplicated, templated, or synthetic corpora drift — a one-row
    distribution-health diagnostic to watch across ingest batches).

    Returns one row ``(n_terms, slope, intercept, r2)``.

    Scale shape: the token count table is one explode + partial agg
    (vocabulary-sized, not corpus-sized); the top-``top`` cut is
    ``orderBy(...).limit(top)`` which Spark executes as
    TakeOrderedAndProject — a per-partition heap + driver merge, never
    a global sort; ranking and the regression then run on ``top`` rows
    (bounded by the parameter, independent of corpus size).  Count
    ties break on the token string so the ranked set — and the fit —
    is deterministic across engines and partitionings.
    """
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(top)
    )
    # `top` rows at most: the unpartitioned rank window is bounded by
    # the parameter, not the data (same contract as sketch tables)
    ranked = counts.withColumn(
        "r", F.row_number().over(
            Window.orderBy(F.col("c").desc(), F.col("w"))))
    xy = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"))
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov = F.col("sxy") - sx * sy / n
    varx = F.col("sxx") - sx * sx / n
    vary = F.col("syy") - sy * sy / n
    return s.select(
        n.cast("bigint").alias("n_terms"),
        F.round(cov / varx, 4).alias("slope"),
        F.round((sy - (cov / varx) * sx) / n, 4).alias("intercept"),
        F.round(cov * cov / (varx * vary), 4).alias("r2"),
    )


def chunk_by_sentences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget_tokens: int = 128,
) -> DataFrame:
    """Sentence-aware chunking for RAG/embedding prep: sentences never
    split across chunks; sentence ``i`` lands in chunk
    ``floor(tokens_before_i / budget_tokens)`` — GLOBAL-boundary
    bucketing on the document's running token count, then a dense
    renumber.  This is NOT the greedy-reset contract (where the token
    counter restarts at each emitted chunk): with 100-token sentences
    at budget 128, bucketing puts the first TWO sentences in chunk 0
    (tokens_before = 0 and 100 both floor to 0) where greedy-reset
    would emit one sentence per chunk.  Bucketing keeps chunk
    boundaries a closed-form expression of the prefix sum — one
    window, no sequential recurrence — at the cost of chunks
    overshooting the budget by up to one sentence more often than
    greedy-reset would.  :func:`chunk_documents` is the fixed-window
    token alternative.

    Returns ``(id, chunk_id, chunk_text, n_sentences, n_tokens)`` with
    ``chunk_id`` densely numbered 0.. per document; docs with no
    sentences are absent.

    Plan: sentence split via the marker-char rewrite (portable to
    RE2-based engines: no lookbehind), posexplode to sentence rows,
    ONE doc-keyed shuffle that serves both per-doc windows (running
    token count -> raw chunk of ``floor(tokens_before/budget)``, then
    a dense renumber), and a (doc, chunk) rollup that reassembles
    chunk text in sentence order.  Window state per doc is
    sentences-per-document (tens) — never corpus-scale.

    Why not a zero-shuffle per-row HOF chain: Catalyst has no scan
    primitive, so the prefix sum becomes aggregate-with-array-concat —
    O(sentences^2) array copies per document, evaluated interpreted —
    and chunk assembly re-filters the sentence array per chunk.
    Measured at sf0.1/local[32]: 6.8 s for that formulation vs ~1 s
    for this one; at 100 TB the explode adds rows but every stage
    stays linear and codegen'd.
    """
    from pyspark.sql import Window

    sents_raw = F.split(
        F.regexp_replace(F.trim(F.col(text_col)),
                         r"([.!?])\s+", "$1\x01"), "\x01")
    sents = F.filter(
        F.transform(sents_raw, lambda s: F.trim(s)),
        lambda s: s != "")
    ex = (
        df.select(F.col(id_col),
                  F.posexplode(sents).alias("idx", "sentence"))
        .withColumn("t", F.size(F.regexp_extract_all(
            F.col("sentence"), F.lit(r"\S+"), 0)))
    )
    w = Window.partitionBy(id_col).orderBy("idx")
    pre = ex.withColumn(
        "tok_before",
        F.coalesce(F.sum("t").over(
            w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)))
    dense = (
        pre.withColumn(
            "__raw", F.floor(F.col("tok_before") / budget_tokens))
        .withColumn(
            "chunk_id",
            (F.dense_rank().over(
                Window.partitionBy(id_col).orderBy("__raw")) - 1)
            .cast("int"))
    )
    return (
        dense.groupBy(id_col, "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("idx", "sentence"))),
                    lambda x: x["sentence"]),
                " ").alias("chunk_text"),
            F.count(F.lit(1)).cast("int").alias("n_sentences"))
        .withColumn(
            "n_tokens",
            F.size(F.regexp_extract_all(
                F.col("chunk_text"), F.lit(r"\S+"), 0)).cast("int"))
    )


def source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise content overlap between corpus slices (sources, crawls,
    snapshots, mixture components): for every pair of ``group_col``
    values sharing at least one exact-duplicate document, the distinct
    normalized-text fingerprint counts, their intersection, Jaccard,
    and both containments — the ingest-audit matrix that answers "is
    this new dump mostly a re-crawl of one we already have?" before
    any expensive near-dup pass runs.

    Returns ``(group_a, group_b, n_a, n_b, n_common, jaccard,
    containment_a, containment_b)`` with ``group_a < group_b``;
    ``containment_a`` = share of A's distinct docs also in B.
    Disjoint pairs are absent (their Jaccard is 0).

    Scale shape: ONE distinct over ``(group, fingerprint)`` (map-side
    combined), group sizes as a groups-bounded aggregate, then a
    fingerprint-keyed self-join — candidates exist only where a
    fingerprint co-occurs in two groups, so the join is linear in
    shared content (never all-pairs of docs), and a fingerprint seen
    in G groups fans out to at most C(G,2) rows — bounded by the
    number of slices, not the corpus.  Output is group-pair-bounded.
    The md5 fingerprint keeps the whole audit engine-portable
    (:func:`..text.fingerprint`).
    """
    from .text import fingerprint

    fps = df.select(
        F.col(group_col).alias("__g"),
        fingerprint(F.col(text_col)).alias("__fp")).distinct()
    sizes = fps.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    a = fps.select(F.col("__g").alias("group_a"), "__fp")
    b = fps.select(F.col("__g").alias("group_b"), "__fp")
    common = (
        a.join(b, "__fp")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("__g").alias("group_a"), F.col("__n").alias("n_a"))
    sb = sizes.select(F.col("__g").alias("group_b"), F.col("__n").alias("n_b"))
    return (
        common.join(F.broadcast(sa), "group_a").join(F.broadcast(sb), "group_b")
        .select(
            "group_a", "group_b", "n_a", "n_b", "n_common",
            F.round(F.col("n_common")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6)
            .alias("jaccard"),
            F.round(F.col("n_common") / F.col("n_a"), 6).alias("containment_a"),
            F.round(F.col("n_common") / F.col("n_b"), 6).alias("containment_b"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_col: str = "token",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Tokenizer/vocabulary fit audit: per document, how many of its
    (whitespace) tokens fall OUTSIDE ``vocab`` — the out-of-vocabulary
    rate a tokenizer/corpus pairing is judged by (high OOV on a slice
    means the vocab was trained on different text; the per-source
    rollup of this is the "which crawl broke my tokenizer" report).

    ``vocab`` is one column of tokens (e.g. :func:`vocab_topk` output
    or a BPE vocab table).  Output: ``(id, n_tok, n_oov, oov_rate)``,
    one row per input doc (empty docs: 0/0/null).

    Plan: explode → LEFT join the vocab (broadcast by default — a
    vocab is model-sized; pass ``broadcast_vocab=False`` for the
    token-keyed shuffle join when it is not) → per-doc conditional
    count.  One corpus pass, map-side partial agg.
    """
    v = vocab.select(F.col(vocab_col).alias("__vtok")).distinct() \
        .withColumn("__in", F.lit(1))
    if broadcast_vocab:
        v = F.broadcast(v)
    toks = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("__vtok"))
    per_doc = (
        toks.join(v, "__vtok", "left")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tok"),
             F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
             .alias("n_oov"))
    )
    return (
        df.select(id_col).join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tok", F.lit(0)).alias("n_tok"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.when(F.coalesce("n_tok", F.lit(0)) > 0,
                   F.round(F.coalesce("n_oov", F.lit(0))
                           / F.col("n_tok"), 6)).alias("oov_rate"),
        )
    )


def token_jsd(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence between two corpus slices' unigram
    distributions — the text-distribution drift check ("did the new
    crawl shift the vocabulary?") that complements the numeric-column
    drift detector: JSD is symmetric, bounded in [0, ln 2], and
    well-defined when either side has tokens the other lacks (where
    plain KL blows up).

    Output: one row ``(n_tok_a, n_tok_b, vocab_union, jsd)``.

    Plan: one tokenize + count pass per slice (map-side partial
    combine), a FULL OUTER join on the token key, per-token closed-form
    contributions, one scalar rollup; the two grand totals ride a
    broadcast.  Every per-token term is a pure IEEE expression of
    integer counts and totals — identical in the SQL oracle — and the
    only order-dependent float op is the final sum, absorbed by the
    6-decimal round.
    """
    ca = (df_a.select(F.explode(words(F.col(text_col))).alias("tok"))
          .groupBy("tok").agg(F.count(F.lit(1)).alias("ca")))
    cb = (df_b.select(F.explode(words(F.col(text_col))).alias("tok"))
          .groupBy("tok").agg(F.count(F.lit(1)).alias("cb")))
    j = ca.join(cb, "tok", "full_outer").select(
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"))
    totals = F.broadcast(j.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")))
    t = j.crossJoin(totals)
    pa = F.col("ca") / F.col("na")
    pb = F.col("cb") / F.col("nb")
    m = (pa + pb) / 2
    term = (
        F.when(F.col("ca") > 0, 0.5 * pa * F.log(pa / m)).otherwise(0.0)
        + F.when(F.col("cb") > 0, 0.5 * pb * F.log(pb / m)).otherwise(0.0)
    )
    return t.agg(
        F.max("na").alias("n_tok_a"),
        F.max("nb").alias("n_tok_b"),
        F.count(F.lit(1)).alias("vocab_union"),
        F.round(F.sum(term), 6).alias("jsd"),
    )


def token_jsd_matrix(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise :func:`token_jsd` between every pair of ``by`` groups
    in ONE pass — the drift dashboard ("which crawls diverge from
    which") without running k^2 separate two-slice jobs.

    Output: ``(a, b, jsd)`` for each unordered pair (a < b).

    Plan: per-group token counts once (one tokenize pass, partial-agg
    shuffle), group totals broadcast, then one token-keyed SELF-join
    restricted to ``a < b`` covers the SHARED vocabulary; tokens one
    side lacks never need a row because their contribution has the
    closed form ``0.5 * ln 2 * exclusive_mass`` (for an a-only token,
    ``m = p_a/2`` so the integrand collapses to ``p_a * ln 2``), and
    exclusive mass is ``1 - shared mass`` — already available from the
    same join.  So: no full-outer blowup, no per-pair jobs; join
    output is bounded by shared-vocabulary postings across pairs.
    """
    import math

    counts = (
        df.select(F.col(by).alias("g"),
                  F.explode(words(F.col(text_col))).alias("tok"))
        .groupBy("g", "tok").agg(F.count(F.lit(1)).alias("c"))
    )
    totals = F.broadcast(
        counts.groupBy("g").agg(F.sum("c").alias("n")))
    p = counts.join(totals, "g").select(
        "g", "tok", (F.col("c") / F.col("n")).alias("p"))
    a = p.select(F.col("g").alias("a"), "tok", F.col("p").alias("pa"))
    b = p.select(F.col("g").alias("b"), "tok", F.col("p").alias("pb"))
    shared = (
        a.join(b, "tok").filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.sum(0.5 * F.col("pa")
                  * F.log(F.col("pa")
                          / ((F.col("pa") + F.col("pb")) / 2))
                  + 0.5 * F.col("pb")
                  * F.log(F.col("pb")
                          / ((F.col("pa") + F.col("pb")) / 2)))
            .alias("__shared_term"),
            F.sum("pa").alias("__mass_a"),
            F.sum("pb").alias("__mass_b"))
    )
    ln2 = math.log(2.0)
    # every group pair appears in `shared` whenever ANY token is common;
    # fully-disjoint pairs (possible on tiny slices) are recovered from
    # the group list so the matrix is complete with jsd = ln 2
    gs = totals.select(F.col("g"))
    all_pairs = (gs.select(F.col("g").alias("a"))
                 .crossJoin(gs.select(F.col("g").alias("b")))
                 .filter(F.col("a") < F.col("b")))
    return (
        all_pairs.join(shared, ["a", "b"], "left")
        .select(
            "a", "b",
            F.round(
                F.coalesce("__shared_term", F.lit(0.0))
                + 0.5 * ln2 * (1.0 - F.coalesce("__mass_a", F.lit(0.0)))
                + 0.5 * ln2 * (1.0 - F.coalesce("__mass_b", F.lit(0.0))),
                6).alias("jsd"))
    )


def dataset_card(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    low_quality_threshold: float = 0.3,
) -> DataFrame:
    """Automated datasheet for a text corpus ("Datasheets for
    Datasets", Gebru et al. 2021): the long-form ``(section, metric,
    value)`` summary a release ships next to the data — volume,
    detected-language mix, quality distribution, length quantiles, and
    the exact-duplicate rate — in ONE corpus scan.

    Every signal is a per-row JVM expression (fingerprint, marker-
    stopword language ID, the pinned quality formula, token count)
    feeding a single global aggregate: counts/sums/conditional counts
    are plain partial-aggs, the token quantiles are mergeable
    ``approx_percentile`` (rank-exact below 10k distinct lengths), and
    the two exact distinct counts (fingerprints, sources) ride the same
    pass via Catalyst's Expand (single scan, x3 row expansion — the
    documented profile_table trade at 2 distincts).  The 17-row output
    assembles from the 1-row aggregate with ``stack`` — driver-free.

    Sections/metrics: ``volume``(n_docs, n_sources, sum_tokens,
    sum_chars), ``language``(frac_de/en/es/fr/und),
    ``quality``(avg, min, frac_low), ``length``(p50_tokens,
    p90_tokens), ``dedup``(distinct_frac, exact_dup_frac)."""
    from .text import fingerprint, language_id, quality_score, token_count

    sig = df.select(
        fingerprint(F.col(text_col)).alias("__fp"),
        language_id(F.col(text_col)).alias("__lang"),
        F.round(quality_score(F.col(text_col)), 4).alias("__q"),
        token_count(F.col(text_col)).alias("__tok"),
        F.length(F.col(text_col)).alias("__chars"),
        F.col(source_col).alias("__src"),
    )
    langs = ["de", "en", "es", "fr", "und"]
    row = sig.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("__fp").alias("nfp"),
        F.countDistinct("__src").alias("nsrc"),
        F.sum("__tok").alias("st"),
        F.sum("__chars").alias("sc"),
        *[F.count(F.when(F.col("__lang") == lg, 1)).alias(f"n_{lg}")
          for lg in langs],
        F.avg("__q").alias("avgq"),
        F.min("__q").alias("minq"),
        F.count(F.when(F.col("__q") < low_quality_threshold, 1))
        .alias("nlow"),
        F.expr("approx_percentile(__tok, 0.5, 10000)").alias("p50"),
        F.expr("approx_percentile(__tok, 0.9, 10000)").alias("p90"),
    )
    pairs = [
        ("volume", "n_docs", "CAST(n AS DOUBLE)"),
        ("volume", "n_sources", "CAST(nsrc AS DOUBLE)"),
        ("volume", "sum_tokens", "CAST(st AS DOUBLE)"),
        ("volume", "sum_chars", "CAST(sc AS DOUBLE)"),
    ] + [
        ("language", f"frac_{lg}",
         f"round(n_{lg} / CAST(n AS DOUBLE), 6)") for lg in langs
    ] + [
        ("quality", "avg", "round(avgq, 4)"),
        ("quality", "min", "CAST(minq AS DOUBLE)"),
        ("quality", "frac_low", "round(nlow / CAST(n AS DOUBLE), 6)"),
        ("length", "p50_tokens", "CAST(p50 AS DOUBLE)"),
        ("length", "p90_tokens", "CAST(p90 AS DOUBLE)"),
        ("dedup", "distinct_frac", "round(nfp / CAST(n AS DOUBLE), 6)"),
        ("dedup", "exact_dup_frac",
         "round(1.0 - nfp / CAST(n AS DOUBLE), 6)"),
    ]
    args = ", ".join(f"'{s}', '{m}', {v}" for s, m, v in pairs)
    return row.select(F.expr(
        f"stack({len(pairs)}, {args}) as (section, metric, value)"))
