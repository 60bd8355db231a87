"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units").

The reference has no tokenizer surface at all; this is the
training-data-pipeline layer's "learn the vocab FROM the corpus" step,
next to ``text.bpe_token_estimate`` (which consumes a learned-vocab
heuristic).

Why this scales: BPE training never needs the raw corpus after one
pass.  The classic algorithm operates on the WORD-FREQUENCY table —
each merge decision needs pair counts weighted by word frequency, and
the corpus only contributes ``(word, count)``.  So:

1. ONE corpus scan builds the word-frequency table (explode ->
   groupBy(word) with map-side combine): 100 TB of text collapses to
   |distinct words| rows (millions, not trillions).
2. Each merge iteration runs on that table: adjacent symbol pairs
   explode (bounded by total symbols across distinct words), a
   partial-agg count picks the max pair (ties broken lexicographically
   for determinism), and a vocabulary-level rewrite applies the merge.
   Per-iteration cost is independent of corpus size.
3. Iterative lineage is cut with ``localCheckpoint`` every few merges —
   the standard guard for loop-built plans (same discipline as
   ``dedup.connected_components``).

The merge application is an Arrow-batched pandas UDF: merging one
adjacent pair inside a symbol array is an inherently sequential
per-word loop, but it runs over DISTINCT WORDS (vocabulary-scale), so
Python cost is bounded by vocabulary, never corpus.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from ..casefold import lower

__all__ = ["train_bpe", "bpe_segment"]

_EOW = "</w>"


def _word_table(df: DataFrame, text_col: str) -> DataFrame:
    words = F.regexp_extract_all(
        lower(F.trim(F.col(text_col))), F.lit(r"\S+"), 0)
    return (
        df.select(F.explode(words).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_udf(a: str, b: str):
    merged = a + b

    @pandas_udf("array<string>")
    def apply_merge(syms: pd.Series) -> pd.Series:
        out = []
        for arr in syms:
            arr = list(arr)
            i, res = 0, []
            while i < len(arr):
                if i + 1 < len(arr) and arr[i] == a and arr[i + 1] == b:
                    res.append(merged)
                    i += 2
                else:
                    res.append(arr[i])
                    i += 1
            out.append(res)
        return pd.Series(out)

    return apply_merge


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 100,
    min_pair_freq: int = 2,
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from a corpus; returns the merge
    list in learned order (the tokenizer artifact).  Stops early when no
    adjacent pair reaches ``min_pair_freq``.

    Determinism: the winning pair each round is (max weighted count,
    then lexicographically smallest pair) — restart- and
    partitioning-stable, and equal to the sequential reference
    implementation under the same tie rule (equivalence-tested).
    """
    spark = df.sparkSession
    vocab = (
        _word_table(df, text_col)
        .withColumn(
            "syms",
            F.concat(
                F.filter(F.split(F.col("word"), ""), lambda x: x != ""),
                F.array(F.lit(_EOW))))
        .select("syms", "freq")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str]] = []
    for it in range(num_merges):
        pairs = vocab.select(
            F.col("freq"),
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )).alias("p"),
        )
        top = (
            pairs.groupBy("p").agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("p.a"), F.asc("p.b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_pair_freq:
            break
        a, b = top[0]["p"]["a"], top[0]["p"]["b"]
        merges.append((a, b))
        vocab = vocab.withColumn("syms", _merge_udf(a, b)(F.col("syms")))
        if (it + 1) % checkpoint_every == 0:
            # cut the per-iteration UDF lineage; eager so the cost is
            # paid here, bounded by vocabulary size
            vocab = vocab.localCheckpoint(eager=True)
    return merges


def bpe_segment(col, merges: list[tuple[str, str]]):
    """Column expression segmenting each whitespace word of ``col`` by a
    learned merge list; returns array<string> of subword tokens (with
    ``</w>`` end-of-word markers).  The merge table broadcasts inside
    the UDF closure; application is the same vocabulary-independent
    greedy loop, one Arrow batch at a time."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
        syms = list(word) + [_EOW]
        while len(syms) > 1:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            syms[best:best + 2] = [syms[best] + syms[best + 1]]
        return syms

    @pandas_udf("array<string>")
    def seg(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks: list[str] = []
            for w in (t or "").lower().split():
                toks.extend(encode_word(w))
            out.append(toks)
        return pd.Series(out)

    return seg(col)
