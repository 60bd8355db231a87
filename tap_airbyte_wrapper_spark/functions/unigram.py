"""Distributed unigram-LM tokenizer training (Kudo 2018, "Subword
Regularization: Improving Neural Network Translation Models with
Multiple Subword Candidates" — the SentencePiece ``unigram`` model).

Completes the tokenizer-training family next to ``bpe.train_bpe``:
BPE grows a vocabulary bottom-up by merges; the unigram LM starts from
a large seed vocabulary and PRUNES it down under an EM-fitted piece
distribution — the model behind most modern LLM tokenizers.

Why this scales (same argument as BPE): training never needs the raw
corpus after one pass.

1. ONE corpus scan builds the word-frequency table: 100 TB of text
   collapses to |distinct words| rows.
2. Seeding, every E-step, and every prune run over that table.  The
   per-word computation (substring generation, forward-backward over
   word positions) is an Arrow-batched pandas UDF whose cost is
   bounded by vocabulary size and word length — never corpus size.
   The piece table rides the UDF closure (it is ``seed_size`` entries,
   centroid-scale metadata), and the only driver materializations are
   that piece table and the 1-row total — the same bounded-collect
   discipline as ``similarity.ivf_build``.
3. M-step aggregation is a piece-keyed partial-agg sum.

Determinism caveat (documented, unlike BPE's integer counts): expected
counts are floating-point sums whose aggregation order varies with
partitioning, so counts can differ in the last ulp across runs; prune
ranking compares counts rounded to 9 decimals (ties then break on the
piece string), which makes the selected vocabulary stable unless two
pieces' true counts agree to 1e-9.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from ..casefold import lower

__all__ = ["UnigramModel", "train_unigram", "unigram_segment",
           "save_unigram", "load_unigram"]


@dataclass
class UnigramModel:
    """Learned piece table: piece -> natural-log probability."""

    pieces: dict[str, float]


def _word_table(df: DataFrame, text_col: str) -> DataFrame:
    words = F.regexp_extract_all(
        lower(F.trim(F.col(text_col))), F.lit(r"\S+"), 0)
    return (
        df.select(F.explode(words).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    )


def _substr_udf(max_len: int):
    @pandas_udf("array<string>")
    def subs(wordcol: pd.Series) -> pd.Series:
        out = []
        for w in wordcol:
            n = len(w)
            out.append([w[i:j] for i in range(n)
                        for j in range(i + 1, min(i + max_len, n) + 1)])
        return pd.Series(out)

    return subs


def _estep_udf(logp: dict[str, float], max_len: int):
    """Forward-backward expected piece counts per word (full EM, not
    Viterbi-hard): alpha/beta over word positions, each lattice edge
    (j -> i via piece w[j:i]) contributes exp(a[j]+lp+b[i]-Z)."""

    @pandas_udf("map<string,double>")
    def estep(wordcol: pd.Series) -> pd.Series:
        out = []
        neg = float("-inf")
        for w in wordcol:
            n = len(w)
            alpha = [neg] * (n + 1)
            alpha[0] = 0.0
            edges = []  # (j, i, piece, lp)
            for i in range(1, n + 1):
                for j in range(max(0, i - max_len), i):
                    lp = logp.get(w[j:i])
                    if lp is None:
                        continue
                    edges.append((j, i, w[j:i], lp))
                    if alpha[j] != neg:
                        v = alpha[j] + lp
                        m = max(alpha[i], v)
                        alpha[i] = m + math.log(
                            math.exp(alpha[i] - m) + math.exp(v - m)
                        ) if alpha[i] != neg else v
            z = alpha[n]
            if z == neg:          # unsegmentable (missing char) — skip
                out.append({})
                continue
            beta = [neg] * (n + 1)
            beta[n] = 0.0
            for i in range(n, 0, -1):
                if beta[i] == neg:
                    continue
                for j in range(max(0, i - max_len), i):
                    lp = logp.get(w[j:i])
                    if lp is None:
                        continue
                    v = lp + beta[i]
                    if beta[j] == neg:
                        beta[j] = v
                    else:
                        m = max(beta[j], v)
                        beta[j] = m + math.log(
                            math.exp(beta[j] - m) + math.exp(v - m))
            counts: dict[str, float] = {}
            for j, i, piece, lp in edges:
                if alpha[j] == neg or beta[i] == neg:
                    continue
                c = math.exp(alpha[j] + lp + beta[i] - z)
                counts[piece] = counts.get(piece, 0.0) + c
            out.append(counts)
        return pd.Series(out)

    return estep


def train_unigram(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 1000,
    seed_size: int = 4000,
    max_piece_len: int = 8,
    em_iters: int = 2,
    shrink: float = 0.75,
) -> UnigramModel:
    """Learn a unigram-LM piece vocabulary of ``vocab_size`` from the
    corpus; returns the :class:`UnigramModel` artifact.

    Procedure (the standard SentencePiece loop, with count-based
    pruning as the documented simplification of Kudo's
    likelihood-loss prune): seed with the ``seed_size``
    highest-frequency substrings up to ``max_piece_len`` chars (single
    characters always included and never pruned — full coverage by
    construction), then alternate ``em_iters`` EM fits with prune
    rounds keeping the top ``shrink`` fraction by expected count until
    ``vocab_size`` remains.
    """
    word_tbl = _word_table(df, text_col).localCheckpoint(eager=True)

    # ---- seed: frequency-weighted substring counts over the word table
    subs = word_tbl.select(
        "freq", F.explode(_substr_udf(max_piece_len)(F.col("word")))
        .alias("piece"))
    seed = (
        subs.groupBy("piece").agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("piece"))
        .limit(seed_size)
        .collect()
    )
    chars = {r["piece"] for r in seed if len(r["piece"]) == 1}
    # single chars outside the seed top-k (rare) must still be present
    extra_chars = (
        subs.filter(F.length("piece") == 1)
        .groupBy("piece").agg(F.sum("freq").alias("n"))
        .collect()
    )
    counts = {r["piece"]: float(r["n"]) for r in seed}
    for r in extra_chars:
        counts.setdefault(r["piece"], float(r["n"]))
        chars.add(r["piece"])

    def renorm(c: dict[str, float]) -> dict[str, float]:
        tot = sum(c.values())
        return {p: math.log(v / tot) for p, v in c.items() if v > 0}

    logp = renorm(counts)
    target = max(vocab_size, len(chars))
    while True:
        for _ in range(em_iters):
            est = _estep_udf(logp, max_piece_len)
            agg = (
                word_tbl.select(
                    "freq", F.explode(est(F.col("word")))
                    .alias("piece", "c"))
                .groupBy("piece")
                .agg(F.sum(F.col("freq") * F.col("c")).alias("n"))
                .collect()
            )
            counts = {r["piece"]: float(r["n"]) for r in agg
                      if r["n"] > 0 or r["piece"] in chars}
            for ch in chars:      # coverage floor: chars never die
                counts.setdefault(ch, 1e-9)
            logp = renorm(counts)
        if len(logp) <= target:
            break
        keep = max(target, int(len(logp) * shrink))
        ranked = sorted(
            ((p, lp) for p, lp in logp.items() if p not in chars),
            key=lambda x: (-round(counts.get(x[0], 0.0), 9), x[0]))
        survivors = {p for p, _ in ranked[:max(0, keep - len(chars))]}
        survivors |= chars
        counts = {p: c for p, c in counts.items() if p in survivors}
        logp = renorm(counts)
        if len(logp) <= target:
            # one final EM fit on the pruned vocabulary
            est = _estep_udf(logp, max_piece_len)
            agg = (
                word_tbl.select(
                    "freq", F.explode(est(F.col("word")))
                    .alias("piece", "c"))
                .groupBy("piece")
                .agg(F.sum(F.col("freq") * F.col("c")).alias("n"))
                .collect()
            )
            counts = {r["piece"]: float(r["n"]) for r in agg if r["n"] > 0}
            for ch in chars:
                counts.setdefault(ch, 1e-9)
            logp = renorm(counts)
            break
    return UnigramModel(pieces=logp)


def unigram_segment(col, model: UnigramModel):
    """Column expression: Viterbi-best segmentation of each whitespace
    word under the learned piece distribution; returns array<string>
    of pieces for the whole text.  The piece table rides the UDF
    closure (vocab-scale metadata); per-word cost is
    O(len * max_piece_len)."""
    logp = dict(model.pieces)
    max_len = max((len(p) for p in logp), default=1)

    def viterbi(w: str) -> list[str]:
        n = len(w)
        best = [float("-inf")] * (n + 1)
        back: list[tuple[int, str] | None] = [None] * (n + 1)
        best[0] = 0.0
        for i in range(1, n + 1):
            for j in range(max(0, i - max_len), i):
                lp = logp.get(w[j:i])
                if lp is None or best[j] == float("-inf"):
                    continue
                v = best[j] + lp
                if v > best[i]:
                    best[i], back[i] = v, (j, w[j:i])
        if back[n] is None:
            return [w]  # unsegmentable: pass through whole
        out: list[str] = []
        i = n
        while i > 0:
            j, piece = back[i]
            out.append(piece)
            i = j
        return out[::-1]

    @pandas_udf("array<string>")
    def seg(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks: list[str] = []
            for w in (t or "").lower().split():
                toks.extend(viterbi(w))
            out.append(toks)
        return pd.Series(out)

    return seg(col)


def save_unigram(model: UnigramModel, spark, path: str) -> None:
    """Persist the piece table as parquet (piece, logprob)."""
    rows = sorted(model.pieces.items())
    spark.createDataFrame(rows, "piece string, logprob double") \
        .coalesce(1).write.mode("overwrite").parquet(path)


def load_unigram(spark, path: str) -> UnigramModel:
    return UnigramModel(pieces={
        r["piece"]: r["logprob"]
        for r in spark.read.parquet(path).collect()})
