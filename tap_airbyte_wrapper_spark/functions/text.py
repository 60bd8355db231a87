"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

None of these exist in the reference (its row-level surface stops at stream
maps, SURVEY.md §2.2); they are the training-data extensions required of
this engine.  Every function is a pure Catalyst expression builder — string
in, Column out — so the hot path is JVM/codegen, never a Python UDF, and
each composes with any DataFrame pipeline:

    df.withColumn("tokens", token_count(F.col("text")))

Determinism note: all formulas are reproducible in ANSI SQL (DuckDB oracle
in ``__spark_entry__.py``) — md5 fingerprints, regex token counts, marker
stopword language scores.
"""

from __future__ import annotations

import hashlib
import re as _re

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from ..casefold import lower, lower_ascii

__all__ = [
    "phrase_hits", "phrase_blocklist_filter",
    "fold_confusables", "confusable_ratio", "CONFUSABLES",
    "code_blocks", "code_fraction", "fix_mojibake",
    "detect_license", "permissive_license_filter", "flesch_reading_ease",
    "token_count",
    "bpe_token_estimate",
    "language_id",
    "quality_score",
    "compression_ratio",
    "fingerprint",
    "minhash_fingerprints",
    "winnow_fingerprints",
    "normalize_text",
    "strip_html",
    "canonical_url",
    "gopher_rules",
    "c4_clean",
    "script_profile",
    "extract_links",
    "SCRIPT_CLASSES",
    "url_host",
    "parent_domains",
    "domain_filter",
]

# Marker stopwords per language — tiny n-gram-free heuristic: count marker
# hits, argmax with deterministic alphabetical tie-break.  Word-boundary
# regexes keep it exactly reproducible in any regex engine.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "und", "ist", "nicht"],
    "en": ["the", "and", "is", "of", "to"],
    "es": ["el", "los", "que", "es", "y"],
    "fr": ["le", "les", "et", "est", "que"],
}


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` computed once per row.  Higher-order
    functions get no subexpression elimination: an expression named
    inside a lambda, or as the input of several of them, is recomputed
    each time.  Binding it to a lambda variable computes it once."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _all_marker_matches(col: Column) -> Column:
    """ONE combined regex scan extracting every marker word of every
    language.  Both :func:`language_id` and :func:`quality_score` build on
    this identical expression, so when a projection computes both, Catalyst
    subexpression elimination runs the (dominant) regex scan once.
    Alternation matches are whole \\b-delimited words, so filtering the
    match array by a language's word set yields exactly that language's
    separate-scan counts."""
    all_words = sorted({w for ws in LANG_MARKERS.values() for w in ws})
    pattern = r"\b(" + "|".join(all_words) + r")\b"
    return F.regexp_extract_all(lower(col), F.lit(pattern), 1)


def token_count(col: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_token_estimate(col: Column) -> Column:
    """BPE-ish token estimate: count word/number/symbol regex tokens plus a
    length correction (long words split into multiple subword tokens,
    ~4 chars each) — the standard cheap stand-in for a real tokenizer."""
    pieces = F.size(
        F.regexp_extract_all(col, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), 1)
    )
    # extra subword tokens for words longer than 4 chars
    overflow = F.aggregate(
        F.transform(
            F.split(F.trim(col), r"\s+"),
            lambda w: F.floor((F.length(w) - 1) / F.lit(5)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (pieces + overflow).cast("long")


def language_id(col: Column) -> Column:
    """Marker-stopword language classifier: argmax of per-language marker
    hit counts, 'und' (undetermined) when nothing matches, alphabetical
    tie-break for determinism.

    One combined regex scan extracts every marker occurrence (each match
    is a whole \\b-delimited marker word, so per-language counts via set
    membership on the small match array are exactly the counts of four
    separate scans — at a quarter of the regex cost, which dominates)."""
    langs = sorted(LANG_MARKERS)

    def pick(counts):
        best = F.array_max(counts)
        out = F.lit("und")
        # reversed so earlier (alphabetical) languages win ties
        for i in reversed(range(len(langs))):
            out = F.when((counts[i] == best) & (best > 0),
                         F.lit(langs[i])).otherwise(out)
        return out

    # the scan and the four counts are each bound once per row: inside
    # filter() they would otherwise be recomputed at every reference
    return _let(_all_marker_matches(col), lambda matches: _let(F.array(*[
        F.size(F.filter(matches, lambda m: m.isin(LANG_MARKERS[lang])))
        for lang in langs]), pick))


def quality_score(col: Column) -> Column:
    """Document quality in [0,1]: length band + alpha ratio + stopword
    presence + word-length sanity.  The formula is the contract (tested +
    oracle-matched); weights follow common web-corpus filters (Gopher-style
    length/stopword gates).
    """
    n_chars = F.length(col)
    n_tokens = token_count(col)
    alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    # en-marker hits derived from the SAME combined-marker scan that
    # language_id uses — identical count to an en-only scan (whole-word
    # alternation matches can't overlap), and Catalyst subexpression
    # elimination shares the one regex pass when both scorers sit in the
    # same projection (the corpus_curation shape).
    en_words = LANG_MARKERS["en"]
    stop_hits = F.size(
        F.filter(_all_marker_matches(col), lambda m: m.isin(en_words)))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    mean_word = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))

    len_score = F.when((n_tokens >= 50) & (n_tokens <= 100000), F.lit(1.0)) \
        .when(n_tokens >= 10, F.lit(0.5)).otherwise(F.lit(0.0))
    word_score = F.when((mean_word >= 3) & (mean_word <= 12), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_score = F.least(stop_ratio * 5, F.lit(1.0))

    return (
        0.3 * len_score + 0.3 * alpha_ratio + 0.2 * stop_score + 0.2 * word_score
    )


def fingerprint(col: Column) -> Column:
    """Canonical document fingerprint: md5 of casefolded,
    whitespace-collapsed text — the exact-dedup key."""
    return F.md5(lower(F.trim(F.regexp_replace(col, r"\s+", " "))))


def minhash_fingerprints(col: Column, num_hashes: int = 16, shingle_len: int = 3) -> Column:
    """Array of ``num_hashes`` min-hashes over word shingles — a compact
    document sketch for near-dup detection (rolling-hash fingerprinting).

    Built entirely from higher-order array functions: shingle -> per-seed
    md5 -> array_min.  md5-on-string min keeps it engine-portable; the
    xxhash64 fast path lives in functions/dedup.py.
    """
    def shingles_of(words):
        n = F.size(words)
        idx = F.sequence(F.lit(0), F.greatest(n - shingle_len, F.lit(0)))
        return F.when(n >= shingle_len, F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, shingle_len))
        )).otherwise(F.array(F.concat_ws(" ", words)))

    # fold the raw column, then collapse whitespace (a case map never
    # makes or removes whitespace), so the fold names a column, not the
    # regex.  The word array is bound once per row; named inside the
    # transform lambda it would be re-split and re-folded per shingle.
    shingles = _let(F.split(F.trim(F.regexp_replace(
        lower(col), r"\s+", " ")), " "), shingles_of)
    # aggregate-over-shingles shape: shingle array evaluated once per row
    # (see functions/dedup.py minhash_signature).  "g" sorts after every
    # md5 hex digit, so it is a safe string +infinity.
    return F.aggregate(
        shingles,
        F.array_repeat(F.lit("g"), num_hashes),
        lambda acc, s: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda seed: F.md5(F.concat(seed.cast("string"), F.lit("|"), s)),
            ),
            lambda a, b: F.least(a, b),
        ),
    )


#: Rolling-hash parameters for the winnowing fast path.  The hash of a
#: gram g is ``sum(ord(g[k]) * B^(len(g)-1-k)) mod 2^32`` — a plain
#: polynomial hash.  B and the 2^32 modulus are chosen so EVERY term
#: stays below 2^53 (codepoint <= 0x10FFFF times a < 2^32 power), i.e.
#: exactly representable in BIGINT and DOUBLE alike — which is what
#: keeps the fast path ENGINE-PORTABLE: a DuckDB oracle recomputes the
#: identical fingerprints with unicode()+list_sum and no wraparound
#: semantics (mod-2^64 arithmetic would overflow-error there).  32-bit
#: collisions only ever ADD a shared fingerprint between unrelated
#: docs (winnowing's guarantee is about recall, not precision).
WINNOW_HASH_BASE = 1_000_003
WINNOW_HASH_MOD = 1 << 32


def winnow_fingerprints(
    df: "DataFrame", text_col: str, out_col: str = "fps",
    gram_len: int = 8, window: int = 4, min_parallelism: int | None = None,
    hash_fn: str = "rolling",
) -> "DataFrame":
    """Winnowing (MOSS-style rolling-hash) fingerprints: hash every
    ``gram_len``-char gram of the normalized text, take the minimum hash
    in each sliding window of ``window`` consecutive grams, and dedupe.
    Any substring shared between two documents of length >=
    ``gram_len + window - 1`` is guaranteed to contribute a shared
    fingerprint — the localizable near-dup/plagiarism sketch.  The
    guarantee holds for EITHER hash (it depends only on the window
    minimum being deterministic per gram):

    * ``rolling`` (default, the production path): vectorized polynomial
      hash — ``gram_len`` numpy multiply-adds over the whole codepoint
      array per doc instead of a Python hashlib call per gram (the
      round-5 fleet's most expensive query was ~10^14 md5 calls at
      100 TB; this removes the per-gram Python loop entirely).  Output
      ``array<bigint>``; exactly recomputable by the DuckDB oracle
      (see :data:`WINNOW_HASH_BASE`).
    * ``md5``: the engine-portable hex path kept for oracles/tools that
      can only compute md5.  Output ``array<string>``.

    Implemented as an Arrow pandas UDF on purpose: the per-gram hash is
    inherently per-element work, which Catalyst higher-order functions
    run INTERPRETED — and CollapseProject inlines captured expressions
    into HOF lambdas, so a staged-column formulation still re-ran the
    normalization regexp once per gram (measured: minutes vs ~1 s for
    500 docs).  The window minima are w-1 vectorized numpy ops.

    Text bytes are tiny relative to the per-gram CPU, so file-split
    granularity (``maxPartitionBytes``) under-parallelizes this operator
    badly: one 0.5 MB parquet file = one task hashing every gram on one
    core.  Unless the input already has at least ``min_parallelism``
    partitions (default: the session's ``defaultParallelism``), it is
    round-robin repartitioned first — the extra shuffle moves only the
    raw text once and buys full-cluster fan-out of the hash work."""

    def _window_min_dedup(grams, window):
        m = len(grams)
        span = max(m - window + 1, 1)
        mins = grams[:span].copy()
        for off in range(1, min(window, m)):
            np.minimum(mins, grams[off:off + span], out=mins)
        if mins.dtype == object:  # md5 hex path: no vectorized unique
            return sorted(set(mins.tolist()))
        return np.unique(mins).tolist()

    @pandas_udf("array<string>")
    def _fps_md5(texts: pd.Series) -> pd.Series:
        # hashlib.md5 is ~0.5 µs/gram — hashing every gram beats any
        # dedup-first scheme (np.unique on object arrays costs 2x the
        # hashing it saves, measured on this corpus)
        out = []
        for t in texts:
            t = _re.sub(r"\s+", " ", (t or "")).strip().lower()
            n_grams = max(len(t) - gram_len + 1, 1)
            # object dtype: np.minimum has no unicode loop (numpy 1.x)
            grams = np.array(
                [hashlib.md5(t[i:i + gram_len].encode()).hexdigest()
                 for i in range(n_grams)], dtype=object)
            out.append(_window_min_dedup(grams, window))
        return pd.Series(out)

    @pandas_udf("array<bigint>")
    def _fps_rolling(texts: pd.Series) -> pd.Series:
        B, MOD = WINNOW_HASH_BASE, WINNOW_HASH_MOD
        pows = [pow(B, gram_len - 1 - k, MOD) for k in range(gram_len)]
        out = []
        for t in texts:
            t = _re.sub(r"\s+", " ", (t or "")).strip().lower()
            codes = np.frombuffer(
                t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            n = len(codes)
            if n < gram_len:
                # one gram = the whole (short) text, hashed over its
                # actual length (mirrors the md5 path's t[0:L] slice)
                h = 0
                for k in range(n):
                    h = (h + int(codes[k]) * pow(B, n - 1 - k, MOD)) % MOD
                out.append([h])
                continue
            n_grams = n - gram_len + 1
            acc = np.zeros(n_grams, dtype=np.int64)
            for k in range(gram_len):
                # term < 2^53: codepoint (<= 0x10FFFF) * pow (< 2^32);
                # up to 512 unreduced terms stay < 2^62, so one
                # reduction per 512 steps replaces the per-step
                # `%= MOD` array pass (MOD is 2^32: the mod is a mask,
                # identical to the stepwise mod for nonnegative ints)
                acc += codes[k:k + n_grams] * pows[k]
                if k % 512 == 511:
                    acc &= MOD - 1
            acc &= MOD - 1
            out.append(_window_min_dedup(acc, window))
        return pd.Series(out)

    if hash_fn == "rolling":
        fps = _fps_rolling
    elif hash_fn == "md5":
        fps = _fps_md5
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    target = min_parallelism
    if target is None:
        target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df.withColumn(out_col, fps(F.col(text_col)))


def normalize_text(
    col: Column,
    form: str = "NFC",
    strip_accents: bool = False,
    collapse_whitespace: bool = False,
) -> Column:
    """Unicode canonicalization — the prerequisite to any hash-based
    dedup over a multilingual corpus: 'café' (NFC) and 'café' (NFD)
    are byte-distinct, so unnormalized exact/MinHash dedup silently
    misses equal documents.  CCNet-style pipelines normalize before
    fingerprinting for exactly this reason.

    ``form`` is any of NFC/NFD/NFKC/NFKD; ``strip_accents`` removes
    combining marks then recomposes (NFC(NFD minus Mn)) — matching
    DuckDB's ``strip_accents`` including Hangul recomposition, which a
    naive decompose-and-drop misses; ``collapse_whitespace`` trims and
    squeezes runs of ASCII whitespace to one space — ASCII on purpose:
    Python's Unicode-aware ``\\s`` diverges from the RE2/JVM ``\\s``
    the SQL oracle and the rest of the engine use, and NFKC already
    folds the common Unicode spaces (NBSP etc.) to U+0020 upstream of
    the collapse when that behavior is wanted.

    Spark has no built-in Unicode normalizer, so this is the documented
    exception to the functions-layer "JVM expressions only" rule: an
    Arrow-batched pandas UDF (one ``str`` pass per batch, no per-row
    Python fallback).  Per-row, zero shuffle, embarrassingly parallel.
    """
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @pandas_udf("string")
    def _norm(xs: pd.Series) -> pd.Series:
        def one(s):
            if s is None:
                return None
            out = unicodedata.normalize(form, s)
            if strip_accents:
                out = unicodedata.normalize(
                    "NFC",
                    "".join(c for c in unicodedata.normalize("NFD", out)
                            if unicodedata.category(c) != "Mn"))
            if collapse_whitespace:
                out = _re.sub(r"[ \t\n\r\f\v]+", " ", out)
                out = out.strip(" \t\n\r\f\v")
            return out

        return xs.map(one)

    return _norm(col)


def strip_html(col: Column) -> Column:
    """Visible text from raw HTML/markup: drop script/style blocks and
    comments, replace every remaining tag with a space, decode the six
    ubiquitous entities, collapse whitespace.

    The extraction gate a web-crawl corpus runs before ANY text
    statistic (quality scores, language ID, dedup fingerprints all
    mis-fire on markup).  Regex-only on purpose: a DOM parser is a
    per-row Python cost and an extra dependency, while the regex chain
    is JVM ``regexp_replace`` — zero shuffle, linear per row, and
    reproducible in any RE2/PCRE engine (no backreferences used, so
    the DuckDB oracle runs the identical patterns).
    """
    out = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"<[^>]+>", " ")
    # &amp; decodes LAST: running it first would double-decode escaped
    # entities ('&amp;lt;' means the literal text '&lt;', not '<')
    for ent, rep in [("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def canonical_url(col: Column) -> Column:
    """Canonical form of a URL for URL-level dedup: lowercase scheme
    and host, strip the scheme's default port and any fragment, drop
    tracking parameters (``utm_*``/``fbclid``/``gclid``/``msclkid``)
    and SORT the survivors, drop all trailing slashes on non-root
    paths (all, not one — the output must be a fixed point).

    Crawl frontiers and web corpora dedup on the canonical URL before
    any content fingerprint — it is free (zero shuffle, pure JVM
    expressions) and collapses the bulk of mirror noise
    (``HTTP://X.com/a?utm_source=y`` == ``http://x.com/a``).  Query
    values are compared byte-wise, not percent-decoded: decoding can
    merge genuinely different resources, the one direction URL dedup
    must never err.  Non-URL strings (no ``scheme://host``) pass
    through trimmed, so the column is safe to run over dirty data.
    """
    u = F.regexp_replace(F.trim(col), r"#.*$", "")
    scheme = lower_ascii(
        F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.substring(host, 1, F.length(host) - 3),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.substring(host, 1, F.length(host) - 4),
    ).otherwise(host)
    path = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    # strip ALL trailing slashes, not one: a single-strip is not
    # idempotent ('http://x///' -> '//' -> '/'), and URL-dedup keys
    # drift when a canonicalized corpus is re-ingested and
    # re-canonicalized
    path = F.regexp_replace(path, r"/+$", "")
    # bare host and root slash are the same resource: canonical = '/'
    path = F.when(F.length(path) == 0, F.lit("/")).otherwise(path)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0)
        # (=.*)? also drops the value-less form '?gclid'
        & ~p.rlike(r"(?i)^(utm_[^=&]*|fbclid|gclid|msclkid)(=.*)?$"),
    )
    q = F.concat_ws("&", F.array_sort(params))
    rebuilt = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(F.length(q) > 0, F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )
    return F.when(F.length(scheme) > 0, rebuilt).otherwise(F.trim(col))


# The eight Gopher "stop words" (Rae et al. 2021, appendix A1.1) — the
# rule asks for at least two DISTINCT members present, which is NOT the
# language_id marker set above (that one scores hit counts, not presence).
GOPHER_STOPWORDS = ["and", "be", "have", "of", "that", "the", "to", "with"]


def _nonblank_lines(col: Column) -> Column:
    """Trimmed, non-blank lines of a document.  Blank lines carry no
    signal for the per-line ratio rules and their count differs between
    engines on trailing newlines, so they are excluded up front."""
    return F.filter(
        F.transform(F.split(col, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )


def gopher_rules(col: Column) -> Column:
    """The seven Gopher quality-filter rules (Rae et al. 2021, "Scaling
    Language Models", appendix A1.1) as a struct of per-rule booleans
    plus the conjunction — the standard repetition-independent web-corpus
    gate, and the per-rule breakdown a pipeline needs to AUDIT a filter
    (what fraction of the corpus fails which rule) rather than just
    apply it.  :func:`quality_score` is a soft [0,1] blend; this is the
    published hard gate.

    Rules (document passes when ALL hold):

    - ``words_ok``      50 <= word count <= 100,000
    - ``mean_word_ok``  3 <= mean word length <= 10
    - ``symbol_ok``     (# + ellipsis) to word ratio <= 0.1
    - ``bullet_ok``     <= 90% of non-blank lines start with a bullet
    - ``ellipsis_ok``   <= 30% of non-blank lines end with an ellipsis
      (Rae et al. A1.1 removes when the fraction EXCEEDS the threshold,
      so exactly-at-threshold documents pass)
    - ``alpha_ok``      >= 80% of words contain an alphabetic character
    - ``stopword_ok``   >= 2 distinct Gopher stop words present

    Empty documents fail the word-dependent rules and pass the
    line-ratio rules (no lines → no offending lines) — deterministic on
    both engines.  Pure Catalyst expressions (regex + higher-order array
    functions): per-row, zero shuffle, whole-stage codegen, and exactly
    reproducible in ANSI SQL for the DuckDB oracle.  At 100 TB this is a
    map-only pass — the audit aggregation over the struct is a plain
    partial-agg count.
    """
    ws = F.regexp_extract_all(F.trim(col), F.lit(r"\S+"), 0)
    n_words = F.size(ws)
    # sum of word lengths == length of the separator-less join — one
    # JVM concat instead of an interpreted aggregate-over-transform HOF
    sum_word_len = F.length(F.array_join(ws, ""))
    mean_word = F.when(n_words > 0, sum_word_len / n_words).otherwise(F.lit(0.0))

    hash_cnt = F.length(col) - F.length(F.replace(col, F.lit("#"), F.lit("")))
    ell_cnt = (F.length(col)
               - F.length(F.replace(col, F.lit("..."), F.lit("")))) / F.lit(3)
    symbol_ratio = F.when(
        n_words > 0, (hash_cnt + ell_cnt) / n_words).otherwise(F.lit(0.0))

    lines = _nonblank_lines(col)
    n_lines = F.size(lines)
    bullet_lines = F.size(F.filter(lines, lambda l: l.rlike(r"^[-*•]")))
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)$")))
    bullet_frac = F.when(n_lines > 0, bullet_lines / n_lines).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0, ellipsis_lines / n_lines).otherwise(F.lit(0.0))

    # a \S token contains alpha iff it matches \S*[A-Za-z]\S* exactly
    # once (greedy \S* cannot cross whitespace) — one regex pass over
    # the text instead of a per-word interpreted rlike filter
    alpha_words = F.size(
        F.regexp_extract_all(col, F.lit(r"\S*[A-Za-z]\S*"), 0))
    alpha_frac = F.when(n_words > 0, alpha_words / n_words).otherwise(F.lit(0.0))

    stop_pat = r"\b(" + "|".join(GOPHER_STOPWORDS) + r")\b"
    n_stop = F.size(F.array_distinct(
        F.regexp_extract_all(lower(col), F.lit(stop_pat), 1)))

    words_ok = (n_words >= 50) & (n_words <= 100000)
    mean_word_ok = (n_words > 0) & (mean_word >= 3) & (mean_word <= 10)
    symbol_ok = symbol_ratio <= 0.1
    # <=: Rae et al. A1.1 removes only when the fraction EXCEEDS the
    # threshold, so a document at exactly 90% bullets / 30% ellipses passes
    bullet_ok = bullet_frac <= 0.9
    ellipsis_ok = ellipsis_frac <= 0.3
    alpha_ok = (n_words > 0) & (alpha_frac >= 0.8)
    stopword_ok = n_stop >= 2

    return F.struct(
        n_words.alias("n_words"),
        F.round(mean_word, 4).alias("mean_word_len"),
        words_ok.alias("words_ok"),
        mean_word_ok.alias("mean_word_ok"),
        symbol_ok.alias("symbol_ok"),
        bullet_ok.alias("bullet_ok"),
        ellipsis_ok.alias("ellipsis_ok"),
        alpha_ok.alias("alpha_ok"),
        stopword_ok.alias("stopword_ok"),
        (words_ok & mean_word_ok & symbol_ok & bullet_ok & ellipsis_ok
         & alpha_ok & stopword_ok).alias("pass"),
    )


def c4_clean(col: Column, min_line_words: int = 3,
             min_sentences: int = 5) -> Column:
    """C4-style line-level cleanup (Raffel et al. 2020, §2.2) as a
    struct ``(clean_text, n_lines_kept, n_sentences, dropped)``:

    - keep only trimmed lines that end in a terminal punctuation mark
      (``. ! ? "``), carry at least ``min_line_words`` whitespace words,
      and do not mention ``javascript`` (case-insensitive);
    - drop the whole document when the ORIGINAL text contains ``{`` or
      ``lorem ipsum`` (case-insensitive), or when fewer than
      ``min_sentences`` sentence-final marks (``. ! ?``) survive in the
      kept text.

    ``clean_text`` joins the surviving lines with a newline; callers
    filter on ``~dropped`` and project ``clean_text``.  Unlike
    :func:`gopher_rules` (a pure gate), this REWRITES the document —
    the two compose: C4-clean first, Gopher-gate the cleaned text.

    Pure Catalyst (split / transform / filter / array_join + regex):
    per-row, zero shuffle, reproducible in ANSI SQL.
    """
    kept = F.filter(
        F.transform(F.split(col, "\n"), lambda l: F.trim(l)),
        lambda l: l.rlike(r'[.!?"]$')
        & (F.size(F.regexp_extract_all(l, F.lit(r"\S+"), 0)) >= min_line_words)
        & ~lower(l).contains("javascript"),
    )
    clean = F.array_join(kept, "\n")
    n_sent = F.size(F.regexp_extract_all(clean, F.lit(r"[.!?]"), 0))
    dropped = (
        col.contains("{")
        | lower(col).contains("lorem ipsum")
        | (n_sent < min_sentences)
    )
    return F.struct(
        clean.alias("clean_text"),
        F.size(kept).alias("n_lines_kept"),
        n_sent.alias("n_sentences"),
        dropped.alias("dropped"),
    )


def url_host(col: Column) -> Column:
    """Lowercased host of a URL: userinfo (``user:pw@``), port, a
    trailing dot (FQDN root form), and a leading ``www.`` stripped;
    empty string for non-URL input.  The key domain-level curation
    (blocklists, per-site quotas, crawl dedup) groups by.  Userinfo and
    trailing-dot stripping matter for the *blocklist* use: without them
    ``https://x@blocked.com/`` or ``https://blocked.com./`` would parse
    to a host that never suffix-matches ``blocked.com`` and a
    safety gate would fail OPEN."""
    host = lower(
        F.regexp_extract(F.trim(col),
                         r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    # greedy: the host is everything after the LAST '@' (browser
    # authority parsing) — '^[^@]*@' would leave 'x@blocked.com' for
    # multi-'@' userinfo and the blocklist would fail open again
    host = F.regexp_replace(host, r"^.*@", "")
    host = F.regexp_replace(host, r":[0-9]+$", "")
    host = F.regexp_replace(host, r"\.$", "")
    return F.regexp_replace(host, r"^www\.", "")


def parent_domains(host: Column) -> Column:
    """Array of the host plus every parent domain with >= 2 labels
    (``a.b.co`` -> ``[a.b.co, b.co]``) — the suffix set a domain
    blocklist entry can match.  Blocklists name registrable domains;
    a URL is blocked when its host OR any parent equals an entry, and
    materializing the (depth-bounded) suffix array turns that
    suffix-match into a plain set-membership test."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.when(n >= 2, F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.array_join(F.slice(labels, i + 1, n - i), "."),
    )).otherwise(F.array(host))


def domain_filter(
    df: DataFrame,
    url_col: str,
    blocked,
    mode: str = "block",
    host_out: str | None = None,
) -> DataFrame:
    """Drop (``mode='block'``) or keep-only (``mode='allow'``) rows whose
    URL host — or any parent domain — appears in ``blocked``.

    The FineWeb/C4-style URL gate that runs before any content work.
    ``blocked`` is a list of domains or a 1-column DataFrame (collected
    under a guard: blocklists are curation metadata, bounded by the
    list's author, not by corpus size).  Matching is a per-row
    ``exists(parent_domains(host), isin(...))`` — Catalyst compiles the
    large IN to an InSet hash lookup, so the filter is ONE map-only
    scan: zero shuffle, zero join, pushes down past column pruning, and
    scales to any corpus size with cost linear in rows and O(1) per
    suffix.  (A broadcast anti-join would carry the same semantics only
    by exploding suffixes — three operators for what one predicate
    does.)  ``host_out`` optionally materializes the parsed host column
    for downstream per-site stats.
    """
    if mode not in ("block", "allow"):
        raise ValueError(f"unknown mode {mode!r}")
    if isinstance(blocked, DataFrame):
        cols = blocked.columns
        if len(cols) != 1:
            raise ValueError("blocklist DataFrame must have exactly 1 column")
        n = blocked.count()
        if n > 1_000_000:
            raise ValueError(
                f"blocklist has {n} rows; above the 1M in-plan guard — "
                "pre-aggregate it to registrable domains first")
        blocked = [r[0] for r in blocked.collect()]
    blocked = sorted(set(blocked))
    host = url_host(F.col(url_col))
    if host_out:
        df = df.withColumn(host_out, host)
        host = F.col(host_out)
    if not blocked:
        return df if mode == "block" else df.filter(F.lit(False))
    # bind the host once per row: parent_domains names it several times,
    # and no subexpression elimination runs inside higher-order functions
    hit = F.exists(F.array(host), lambda h: F.exists(
        parent_domains(h), lambda s: s.isin(*blocked)))
    return df.filter(~hit if mode == "block" else hit)


#: Unicode-block character classes for :func:`script_profile` —
#: block-range approximations (not the full UCD Script property, which
#: needs ICU): good enough to triage a multilingual crawl by writing
#: system.  Literal BMP ranges so the same class works in Java regex
#: (engine) and RE2 (DuckDB oracle) byte-for-byte.
SCRIPT_CLASSES: dict[str, str] = {
    "arabic": "؀-ۿݐ-ݿ",
    "cjk": "⺀-⻿㐀-䶿一-鿿豈-﫿",
    "cyrillic": "Ѐ-ԯ",
    "devanagari": "ऀ-ॿ",
    "greek": "Ͱ-Ͽἀ-῿",
    "hangul": "ᄀ-ᇿ가-힯",
    "hebrew": "֐-׿",
    "kana": "぀-ヿ",
    "latin": "A-Za-zÀ-ɏḀ-ỿ",
}


def script_profile(col: Column) -> Column:
    """Writing-system profile of a document: fraction of non-whitespace
    characters in each :data:`SCRIPT_CLASSES` block (plus digits), and
    the dominant script — the triage a multilingual crawl needs BEFORE
    language-ID (the marker-stopword :func:`language_id` only separates
    Latin-script languages; a Cyrillic or CJK page must be routed by
    script first).

    Returns a struct: ``n_nonspace`` + ``{script}_frac`` per class +
    ``digit_frac`` + ``dominant`` (max-count script, alphabetical
    tie-break, 'none' when no script character occurs).  Fractions are
    null for whitespace-only/empty text.

    Per-row Catalyst expressions only (one ``regexp_replace`` strip per
    class — each a single linear scan): zero shuffle, whole-stage
    codegen, embarrassingly parallel at 100 TB.
    """
    # regexp_count, not length(regexp_replace(...)): counting matches
    # avoids materializing a stripped copy of the text per class —
    # eleven linear scans stay scans instead of eleven string builds
    # (the DuckDB oracle keeps the replace formulation; the VALUES are
    # identical).  Measured 4.3 s -> 1.9 s at sf0.1.
    n = F.regexp_count(col, F.lit(r"\S"))
    counts = {
        name: F.regexp_count(col, F.lit(f"[{cls}]"))
        for name, cls in SCRIPT_CLASSES.items()
    }
    digit = F.regexp_count(col, F.lit("[0-9]"))
    m = F.greatest(*counts.values())
    dominant = F.lit("none")
    # reverse alphabetical chain => the FIRST alphabetical max wins
    for name in sorted(counts, reverse=True):
        dominant = F.when(
            (m > 0) & (counts[name] == m), F.lit(name)).otherwise(dominant)
    frac = {name: F.when(n > 0, F.round(c / n, 6))
            for name, c in counts.items()}
    return F.struct(
        n.cast("long").alias("n_nonspace"),
        *[frac[name].alias(f"{name}_frac") for name in sorted(frac)],
        F.when(n > 0, F.round(digit / n, 6)).alias("digit_frac"),
        dominant.alias("dominant"),
    )


def extract_links(col: Column) -> Column:
    """Outbound links of an HTML-ish document: ``href`` attribute
    values (double-quoted, any case) plus bare absolute http(s) URLs in
    the text, in document order — the edge extractor that turns a crawl
    into a link graph (feed :func:`url_host` + ``operators.graph`` for
    domain-level PageRank, or :func:`domain_filter` for outlink-based
    quality gates).

    Two ``regexp_extract_all`` passes, per-row, zero shuffle; both
    patterns are RE2-safe so the DuckDB oracle replays them verbatim.
    An ABSOLUTE href value is found by both passes and appears twice —
    callers wanting a set (vs edge multiplicities) ``array_distinct``.
    Single-quoted/unquoted href values are out of contract (the
    full-fidelity path is an HTML parser in a ``mapInPandas`` batch,
    same boundary as :func:`strip_html`).
    """
    hrefs = F.regexp_extract_all(
        col, F.lit(r'(?i)href\s*=\s*"([^"]*)"'), 1)
    # bare URLs: stop at whitespace, quotes, angle brackets (tag ends)
    bare = F.regexp_extract_all(
        col, F.lit(r"""(?i)\bhttps?://[^\s"'<>]+"""), 0)
    return F.concat(hrefs, bare)


#: Homoglyph -> ASCII folding map: the Cyrillic and Greek letters whose
#: glyphs are (near-)identical to Latin ones — the standard spam/dedup
#: evasion alphabet ("pаypal" with U+0430).  Curated from the Unicode
#: confusables data (UTS #39); single-codepoint mappings only, so the
#: fold compiles to one JVM translate() — no UDF, no regex.
CONFUSABLES = {
    # Cyrillic lowercase
    "а": "a", "е": "e", "о": "o", "р": "p", "с": "c", "у": "y",
    "х": "x", "і": "i", "ѕ": "s", "ј": "j", "ԛ": "q", "ԝ": "w",
    "ь": "b", "г": "r",
    # Cyrillic uppercase
    "А": "A", "В": "B", "Е": "E", "К": "K", "М": "M", "Н": "H",
    "О": "O", "Р": "P", "С": "C", "Т": "T", "Х": "X", "Ѕ": "S",
    "І": "I", "Ј": "J", "Ԍ": "G",
    # Greek
    "ο": "o", "ν": "v", "α": "a", "ρ": "p", "τ": "t", "υ": "u",
    "Α": "A", "Β": "B", "Ε": "E", "Ζ": "Z", "Η": "H", "Ι": "I",
    "Κ": "K", "Μ": "M", "Ν": "N", "Ο": "O", "Ρ": "P", "Τ": "T",
    "Υ": "Y", "Χ": "X",
}
_CONF_FROM = "".join(CONFUSABLES)
_CONF_TO = "".join(CONFUSABLES.values())


def fold_confusables(col: Column) -> Column:
    """Replace Cyrillic/Greek homoglyphs with their Latin look-alikes
    (:data:`CONFUSABLES`) — the normalization that makes exact/near-dup
    fingerprints and phrase blocklists robust to the classic evasion of
    swapping a Latin letter for its identical-looking Cyrillic twin.
    One ``translate()`` — JVM-side, codegen'd, zero UDF.  Compose
    BEFORE :func:`fingerprint` / :func:`phrase_hits` when the corpus is
    adversarial (spam, SEO farms, filter-evasion)."""
    return F.translate(col, _CONF_FROM, _CONF_TO)


def confusable_ratio(col: Column) -> Column:
    """Fraction of characters that are homoglyph confusables — a cheap
    adversarial-text signal: legitimate Russian/Greek text has HIGH
    ratios on its own script (expected), but a mostly-Latin document
    with a sprinkle of confusables is the spam-evasion fingerprint.
    Pair with :func:`script_profile`'s dominant script to separate the
    two."""
    n = F.length(col)
    stripped = F.length(
        F.translate(col, _CONF_FROM, ""))
    return F.when(n > 0, F.round((n - stripped) / n, 6)) \
        .otherwise(F.lit(0.0))


class _AhoCorasick:
    """Classic Aho-Corasick automaton (goto/fail/output) over lowercased
    phrase strings.  Built once driver-side, rides UDF closures to the
    executors; match cost is O(len(text)) regardless of pattern count —
    the property that makes a 10k-phrase blocklist viable where a
    10k-way regex alternation or a chain of ``contains`` is O(patterns
    x text)."""

    def __init__(self, phrases):
        self.goto = [{}]
        self.out = [set()]
        self.fail = [0]
        for idx, p in enumerate(phrases):
            node = 0
            for ch in p:
                nxt = self.goto[node].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append(set())
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[node][ch] = nxt
                node = nxt
            self.out[node].add(idx)
        # BFS failure links
        from collections import deque
        q = deque(self.goto[0].values())
        while q:
            node = q.popleft()
            for ch, nxt in self.goto[node].items():
                q.append(nxt)
                f = self.fail[node]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[nxt] = self.goto[f].get(ch, 0) \
                    if self.goto[f].get(ch, 0) != nxt else 0
                self.out[nxt] |= self.out[self.fail[nxt]]

    def match_ids(self, text: str) -> set:
        node = 0
        hits = set()
        for ch in text:
            while node and ch not in self.goto[node]:
                node = self.fail[node]
            node = self.goto[node].get(ch, 0)
            if self.out[node]:
                hits |= self.out[node]
        return hits


def phrase_hits(col: Column, phrases) -> Column:
    """Which of ``phrases`` occur in the text (case-insensitive
    substring match) — returned as the SORTED array of matching phrase
    strings, empty array for clean text.  One Aho-Corasick pass per
    document: O(text + matches), independent of blocklist size, so a
    curated 10k-entry banned-phrase list costs the same scan as a
    10-entry one.  The automaton is built once on the driver and rides
    the Arrow-batched UDF closure (phrase lists are KB-to-MB scale —
    closure-sized by contract, like the KNN query matrix)."""
    plist = [str(p).lower() for p in phrases]
    if not plist:
        raise ValueError("phrase_hits: empty phrase list")
    ac = _AhoCorasick(plist)

    @pandas_udf("array<string>")
    def hits(texts: pd.Series) -> pd.Series:
        return pd.Series([
            sorted(plist[i] for i in ac.match_ids(
                (t or "").lower()))
            for t in texts])

    return hits(col)


def phrase_blocklist_filter(
    df: DataFrame,
    phrases,
    text_col: str = "text",
    keep: str = "clean",
) -> DataFrame:
    """Banned-phrase admission gate: ``keep="clean"`` returns rows
    matching NO blocklist phrase; ``keep="flagged"`` returns the
    complement with a ``__hits`` array column naming the phrases that
    fired (the audit view).  Map-only — one automaton pass per row,
    zero shuffle."""
    if keep not in ("clean", "flagged"):
        raise ValueError(f"keep must be clean|flagged, got {keep!r}")
    hits = phrase_hits(F.col(text_col), phrases)
    if keep == "clean":
        return df.filter(F.size(hits) == 0)
    return df.withColumn("__hits", hits).filter(F.size("__hits") > 0)


#: double-encoding artifacts: UTF-8 lead bytes re-read as latin-1/cp1252
_MOJI_RE = _re.compile("[ÃÂ][-ÿ]|â€|â")


def fix_mojibake(col: Column, max_passes: int = 3) -> Column:
    """Repair double-encoded text ("ftfy-lite"): ``cafÃ©`` -> ``café``,
    ``donâ€™t`` -> ``don’t`` — the UTF-8-bytes-read-as-latin-1/cp1252
    corruption that web crawls are full of.  Per row: while the text
    shows mojibake markers, re-encode as cp1252 (falling back latin-1
    — cp1252 maps the 0x80-0x9F block UTF-8 continuation bytes land
    in) and re-decode as UTF-8; keep the candidate only when it
    strictly reduces marker count (clean text that merely LOOKS
    suspicious is left alone, and failure to decode keeps the
    original).  Up to ``max_passes`` rounds handles doubly-encoded
    text.  Arrow-batched pandas UDF (the JVM ``decode`` is strict and
    throws on the mixed-validity strings this exists to fix); no SQL
    oracle — DuckDB has no charset conversion — contract pinned by
    round-trip pytest."""
    def _repair(t: str) -> str:
        for _ in range(max_passes):
            marks = len(_MOJI_RE.findall(t))
            if not marks:
                return t
            for enc in ("cp1252", "latin-1"):
                try:
                    cand = t.encode(enc).decode("utf-8")
                    break
                except (UnicodeDecodeError, UnicodeEncodeError):
                    cand = None
            if cand is None or len(_MOJI_RE.findall(cand)) >= marks:
                return t
            t = cand
        return t

    @pandas_udf("string")
    def fix(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [None if t is None else _repair(t) for t in texts])

    return fix(col)


_FENCE_RE = r"(?s)```[^\n]*\n(.*?)```"


def code_blocks(col: Column) -> Column:
    """Array of fenced code-block CONTENTS (the text between
    ` ``` ` markers, info string dropped) — the extraction step of
    code-corpus curation: route blocks to a code pipeline (language ID
    by extension-ish heuristics, dedup against a code index) while the
    prose goes through the text gates.  RE2-compatible dotall regex
    (verified identical in DuckDB), JVM-side, no UDF.  Unclosed fences
    don't match (half-open markdown yields no phantom block)."""
    return F.regexp_extract_all(col, F.lit(_FENCE_RE), 1)


def code_fraction(col: Column) -> Column:
    """Fraction of characters inside fenced code blocks — the routing
    signal: ~0 is prose, ~1 is a code file wearing a markdown wrapper,
    the middle is documentation.  Same one regex scan as
    :func:`code_blocks` (Catalyst subexpression elimination shares it
    when both are projected)."""
    n = F.length(col)
    in_code = F.aggregate(
        F.transform(code_blocks(col), lambda b: F.length(b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return F.when(n > 0, F.round(in_code / n, 6)).otherwise(F.lit(0.0))


def flesch_reading_ease(col: Column) -> Column:
    """Flesch reading-ease score (Flesch 1948): ``206.835 - 1.015 *
    (words/sentences) - 84.6 * (syllables/words)`` — the classic
    readability feature next to the Gopher heuristics (60-70 is plain
    English; <30 is academic/legalese; degenerate short/list-like text
    scores off-scale and is exactly what a readability gate wants to
    see).  Null for empty/whitespace text.

    Approximations are the standard cheap ones, all single-regex and
    RE2-portable: sentences = runs of ``.!?`` (min 1), words =
    whitespace tokens, syllables = vowel-group count (min 1 per word
    via the max with word count).  Values match the SQL oracle exactly
    because every term is an integer count."""
    words_n = token_count(col)
    sentences = F.greatest(
        F.size(F.regexp_extract_all(col, F.lit(r"[.!?]+"), 0)), F.lit(1))
    vowel_groups = F.size(
        F.regexp_extract_all(lower(col), F.lit(r"[aeiouy]+"), 0))
    syllables = F.greatest(vowel_groups, words_n)
    return F.when(
        words_n > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * words_n / sentences
            - F.lit(84.6) * syllables / words_n, 4))


#: license-header heuristics, checked in order AFTER the SPDX tag:
#: (canonical id, distinctive phrase regex — RE2-portable, case folded)
_LICENSE_PATTERNS = [
    ("apache-2.0", r"apache license,? version 2\.0"),
    ("mit", r"permission is hereby granted, free of charge"),
    ("gpl-3.0", r"gnu general public license.{0,40}version 3"),
    ("gpl-2.0", r"gnu general public license.{0,40}version 2"),
    ("lgpl", r"gnu lesser general public license"),
    ("agpl-3.0", r"gnu affero general public license"),
    ("mpl-2.0", r"mozilla public license,? v(ersion)? ?2\.0"),
    ("bsd-3-clause", r"redistribution and use in source and binary "
                     r"forms.{0,600}neither the name"),
    ("bsd-2-clause", r"redistribution and use in source and binary "
                     r"forms"),
    ("unlicense", r"this is free and unencumbered software"),
    ("cc0-1.0", r"creative commons zero|cc0 1\.0"),
    ("cc-by-4.0", r"creative commons attribution 4\.0"),
]
_SPDX_RE = r"SPDX-License-Identifier:\s*([A-Za-z0-9.+\-]+)"


def detect_license(col: Column) -> Column:
    """Canonical license id for a source file / document, or null —
    the admission signal a CODE-corpus curation pipeline filters on
    ("permissive only" is the standard training-data policy).  An
    explicit ``SPDX-License-Identifier:`` tag wins (lowercased
    verbatim); otherwise the first matching distinctive header phrase
    in :data:`_LICENSE_PATTERNS` decides (ordered so apache/mit/gpl-3
    outrank the catch-all BSD clause; 3-clause BSD is tested before
    2-clause because its text is a superset).  Pure Catalyst regexes —
    RE2-portable, reproduced verbatim in the SQL oracle."""
    spdx = F.regexp_extract(col, _SPDX_RE, 1)
    out = F.when(spdx != "", lower_ascii(spdx))
    low = lower(col)
    for lic, pat in _LICENSE_PATTERNS:
        out = out.when(low.rlike(pat), F.lit(lic))
    return out.otherwise(F.lit(None).cast("string"))


def permissive_license_filter(
    df: DataFrame,
    text_col: str = "text",
    allow=("apache-2.0", "mit", "bsd-2-clause", "bsd-3-clause",
           "unlicense", "cc0-1.0", "mpl-2.0"),
    keep_unlicensed: bool = False,
) -> DataFrame:
    """Keep documents whose detected license is in the ``allow`` list —
    the code-corpus admission gate.  ``keep_unlicensed`` decides the
    null case (no tag, no recognized header): the conservative default
    drops them.  Map-only, zero shuffle."""
    lic = detect_license(F.col(text_col))
    cond = lic.isin(*[F.lit(a) for a in allow])
    if keep_unlicensed:
        cond = cond | lic.isNull()
    return df.filter(cond)


def compression_ratio(col: Column, level: int = 6) -> Column:
    """zlib-compressed bytes / raw UTF-8 bytes of the text — the
    classic cheap template/repetition detector (used alongside the
    Gopher rules in MassiveText/RefinedWeb-style pipelines): machine-
    generated or boilerplate-stuffed documents compress far below
    natural prose (~0.3-0.5 for English text; near 0 for pure repeats;
    ~1.0+ for random or already-compressed payloads).  Empty text
    returns null.

    An Arrow-batched pandas UDF by necessity — no zlib in Catalyst —
    but the per-row cost is C-implemented DEFLATE over the document
    bytes: linear, embarrassingly parallel, zero shuffle, and the
    payload never leaves the executor.  No SQL oracle exists (DuckDB
    has no zlib); correctness is pinned by known-plaintext tests."""
    import zlib

    from pyspark.sql.functions import pandas_udf as _pudf

    @_pudf("double")
    def ratio(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if not t:
                out.append(None)
                continue
            raw = t.encode("utf-8")
            out.append(len(zlib.compress(raw, level)) / len(raw))
        return pd.Series(out, dtype="float64")

    return ratio(col)
