"""Round-7 second-batch operators: hard/semi-hard negative mining,
CCNet perplexity buckets, corpus distinct-n diversity."""

import pytest
from pyspark.sql import functions as F

from tap_airbyte_wrapper_spark.functions import (
    hard_negatives,
    ngram_diversity,
    perplexity_buckets,
    train_bigram_lm,
)


# ------------------------------------------------------- hard_negatives

def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")


def test_hard_negatives_excludes_same_label_and_self(spark):
    # anchor 0 (label 0) at [1,0]; same-label 1 is nearest but must be
    # excluded; wrong-label 2 (close) ranks above wrong-label 3 (far)
    df = _emb(spark, [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.14], 0),     # same label: never a negative
        (2, [0.9, 0.43], 1),
        (3, [0.0, 1.0], 1),
    ])
    out = hard_negatives(df, df.filter(F.col("vec_id") == 0), k=10).collect()
    ids = [r.vec_id for r in out]
    assert ids == [2, 3]
    assert out[0].cos_sim > out[1].cos_sim


def test_hard_negatives_k_cut_and_tiebreak_on_id(spark):
    # two wrong-label rows with IDENTICAL vectors: tie broken by vec_id
    df = _emb(spark, [
        (0, [1.0, 0.0], 0),
        (5, [0.6, 0.8], 1),
        (4, [0.6, 0.8], 1),
        (6, [0.0, 1.0], 1),
    ])
    out = hard_negatives(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    assert [r.vec_id for r in out] == [4, 5]


def test_semi_hard_band_below_positive_within_margin(spark):
    # anchor 0: best positive is 1 at cos ~0.995.  Negative 2 scores
    # ABOVE the positive -> excluded (too hard / false-positive-prone);
    # 3 sits inside the band; 4 is below pos_sim - margin -> excluded.
    df = _emb(spark, [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.14], 0),
        (2, [1.0, 0.01], 1),      # cos ~1.0 > pos_sim
        (3, [0.93, 0.37], 1),     # cos ~0.93, inside (pos-0.2, pos)
        (4, [0.0, 1.0], 1),       # cos 0, below the band
    ])
    out = hard_negatives(
        df, df.filter(F.col("vec_id") == 0), k=10,
        mode="semi_hard", margin=0.2).collect()
    assert [r.vec_id for r in out] == [3]
    assert out[0].cos_sim < out[0].pos_sim
    assert out[0].cos_sim >= out[0].pos_sim - 0.2


def test_semi_hard_query_without_positive_yields_nothing(spark):
    # label 9 appears once: no positive anchor -> no semi-hard rows
    df = _emb(spark, [
        (0, [1.0, 0.0], 9),
        (1, [0.9, 0.43], 1),
        (2, [0.8, 0.6], 2),
    ])
    out = hard_negatives(
        df, df.filter(F.col("vec_id") == 0), k=10, mode="semi_hard")
    assert out.count() == 0
    # ... while hard mode still mines them
    assert hard_negatives(
        df, df.filter(F.col("vec_id") == 0), k=10).count() == 2


def test_hard_negatives_rejects_unknown_mode(spark):
    df = _emb(spark, [(0, [1.0, 0.0], 0)])
    with pytest.raises(ValueError, match="mode"):
        hard_negatives(df, df, mode="softish")


# --------------------------------------------------- perplexity_buckets

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_perplexity_buckets_tertiles_are_equal_and_ordered(spark):
    # 9 docs: three fluent (repeated bigrams), three middling, three
    # token-salad — the LM is trained on the corpus itself, so repeated
    # patterns score lower avg_nll than unique gibberish
    rows = [(i, "the cat sat on the mat " * 4) for i in range(3)]
    rows += [(i, f"the cat ate fish number{i} today quietly")
             for i in range(3, 6)]
    rows += [(i, f"zq{i} wk{i} jx{i} vb{i} qq{i} zz{i}")
             for i in range(6, 9)]
    df = _docs(spark, rows)
    lm = train_bigram_lm(df)
    out = perplexity_buckets(df, lm)
    got = {r.doc_id: r for r in out.collect()}
    assert len(got) == 9
    from collections import Counter
    sizes = Counter(r.ppl_bucket for r in got.values())
    assert sizes == {"head": 3, "middle": 3, "tail": 3}
    # buckets respect the avg_nll ordering
    assert max(got[i].avg_nll for i in range(3)) <= min(
        got[i].avg_nll for i in range(3, 6))
    assert max(got[i].avg_nll for i in range(3, 6)) <= min(
        got[i].avg_nll for i in range(6, 9))


def test_perplexity_buckets_empty_doc_lands_in_tail(spark):
    df = _docs(spark, [(1, "the cat sat"), (2, "the cat sat"),
                       (3, "")])
    lm = train_bigram_lm(df)
    got = {r.doc_id: r for r in perplexity_buckets(df, lm).collect()}
    assert got[3].avg_nll is None and got[3].n_tok == 0
    assert got[3].ppl_bucket == "tail"
    assert got[1].ppl_bucket == "head"


def test_perplexity_buckets_custom_labels(spark):
    df = _docs(spark, [(i, f"tok{i} tok{i}") for i in range(4)])
    lm = train_bigram_lm(df)
    out = perplexity_buckets(df, lm, labels=("a", "b"))
    from collections import Counter
    assert Counter(
        r.ppl_bucket for r in out.collect()) == {"a": 2, "b": 2}


# ------------------------------------------------------ ngram_diversity

def test_ngram_diversity_hand_computed(spark):
    # src A: "a b a b a" -> trigrams [a b a, b a b, a b a]:
    # total 3, distinct 2, singleton 1 (b a b)
    df = spark.createDataFrame(
        [(1, "a b a b a", "A"), (2, "x y", "A"),    # <3 tokens: no grams
         (3, "p q r", "B")],                        # 1 gram, singleton
        "doc_id long, text string, source string")
    got = {r.source: r for r in
           ngram_diversity(df, by="source", n=3).collect()}
    a = got["A"]
    assert (a.total_grams, a.distinct_grams) == (3, 2)
    assert a.diversity == pytest.approx(round(2 / 3, 6))
    assert a.singleton_frac == pytest.approx(0.5)
    b = got["B"]
    assert (b.total_grams, b.distinct_grams) == (1, 1)
    assert b.diversity == 1.0 and b.singleton_frac == 1.0


def test_ngram_diversity_whole_corpus_and_boilerplate_signal(spark):
    # a templated slice (one doc repeated) scores far lower diversity
    # than a unique-text slice of the same size
    tmpl = [(i, "click here to subscribe to our newsletter now", "t")
            for i in range(10)]
    uniq = [(100 + i, f"word{i} item{i} value{i} alpha{i} beta{i} "
             f"gamma{i} delta{i} eps{i}", "u") for i in range(10)]
    df = spark.createDataFrame(
        tmpl + uniq, "doc_id long, text string, source string")
    got = {r.source: r for r in
           ngram_diversity(df, by="source", n=3).collect()}
    assert got["t"].diversity < 0.2 < got["u"].diversity
    # corpus-wide variant: one row, no group column
    allrow = ngram_diversity(df, n=3).collect()
    assert len(allrow) == 1
    assert allrow[0].total_grams == (
        got["t"].total_grams + got["u"].total_grams)


# ------------------------------------------------------- bottomk_sample

def test_bottomk_sample_merge_property_and_determinism(spark):
    from tap_airbyte_wrapper_spark.functions import bottomk_sample

    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(200)], "doc_id long, text string")
    a = df.filter("doc_id < 120")
    b = df.filter("doc_id >= 120")
    whole = sorted(r.doc_id for r in
                   bottomk_sample(df, "doc_id", k=10, salt="m").collect())
    # KMV merge: bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ B)
    folded = sorted(r.doc_id for r in bottomk_sample(
        bottomk_sample(a, "doc_id", k=10, salt="m").unionByName(b),
        "doc_id", k=10, salt="m").collect())
    assert whole == folded and len(whole) == 10
    # partitioning-independent
    reparted = sorted(r.doc_id for r in bottomk_sample(
        df.repartition(13), "doc_id", k=10, salt="m").collect())
    assert reparted == whole
    # salt re-deals
    other = sorted(r.doc_id for r in
                   bottomk_sample(df, "doc_id", k=10, salt="x").collect())
    assert other != whole


def test_bottomk_sample_priority_col_exposed(spark):
    from tap_airbyte_wrapper_spark.functions import bottomk_sample

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    out = bottomk_sample(df, "doc_id", k=50, salt="", priority_col="pri")
    rows = out.orderBy("pri").collect()
    assert all(rows[i].pri <= rows[i + 1].pri for i in range(len(rows) - 1))


# ------------------------------------------------------- script_profile

def test_script_profile_dominant_and_fracs(spark):
    from tap_airbyte_wrapper_spark.functions import script_profile

    df = spark.createDataFrame(
        [(1, "hello world"),
         (2, "привет мир"),
         (3, "你好 世界"),
         (4, "hello привет привет!"),
         (5, "12345 67"),
         (6, "   "),
         (7, "γεια σου κόσμε")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in df.select(
        "doc_id", script_profile(F.col("text")).alias("p")
    ).select("doc_id", "p.*").collect()}
    assert got[1].dominant == "latin" and got[1].latin_frac == 1.0
    assert got[2].dominant == "cyrillic" and got[2].cyrillic_frac == 1.0
    assert got[3].dominant == "cjk"
    # doc 4: 10 latin letters vs 12 cyrillic (+ '!' counted in neither)
    assert got[4].dominant == "cyrillic"
    assert got[4].latin_frac < got[4].cyrillic_frac
    # digits are profiled but never dominate
    assert got[5].dominant == "none" and got[5].digit_frac > 0.8
    # whitespace-only: null fractions, no dominant
    assert got[6].dominant == "none" and got[6].latin_frac is None
    assert got[6].n_nonspace == 0
    assert got[7].dominant == "greek"


def test_script_profile_alphabetical_tiebreak(spark):
    from tap_airbyte_wrapper_spark.functions import script_profile

    # 2 latin chars vs 2 cyrillic chars: 'cyrillic' < 'latin'
    df = spark.createDataFrame([(1, "ab ся")], "doc_id long, text string")
    r = df.select(script_profile(F.col("text")).alias("p")) \
        .select("p.dominant").collect()[0]
    assert r.dominant == "cyrillic"


# ---------------------------------------------------- index_compact

def test_bm25_index_compact_preserves_layout_and_results(spark, tmp_path):
    from tap_airbyte_wrapper_spark.functions import (
        bm25_index_append,
        index_compact,
        bm25_index_search,
        bm25_index_write,
    )

    docs = spark.createDataFrame(
        [(i, f"token{i % 7} alpha shared token{i % 3} text body")
         for i in range(40)], "doc_id long, text string")
    queries = spark.createDataFrame(
        [(0, "token1 alpha"), (1, "token2 shared")],
        "query_id int, query_text string")
    idx = str(tmp_path / "idx")
    bm25_index_write(docs.filter(F.col("doc_id") < 20), "bm25c", idx,
                     "doc_id", "text", n_buckets=4)
    # two appends -> extra files per touched bucket
    bm25_index_append(docs.filter(
        (F.col("doc_id") >= 20) & (F.col("doc_id") < 30)), "bm25c")
    bm25_index_append(docs.filter(F.col("doc_id") >= 30), "bm25c")
    before = bm25_index_search(spark, "bm25c", queries, idx, k=8).collect()

    stats = index_compact(
        spark, idx, str(tmp_path / "idx2"), "bm25c", "bm25c2")
    assert stats["files_out"] < stats["files_in"]
    # at most one file per bucket per table (empty buckets write none)
    assert stats["files_out"] <= 8

    after = bm25_index_search(
        spark, "bm25c2", queries, str(tmp_path / "idx2"), k=8).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted(before, key=key) == sorted(after, key=key)

    # compacted search stays shuffle-free on the postings side: the
    # bucketed scan aligns with the term join (no Exchange above it)
    plan = bm25_index_search(
        spark, "bm25c2", queries, str(tmp_path / "idx2"), k=8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "bm25c2" in plan

    # guard rails: same path / same table name are refused
    import pytest as _pytest
    with _pytest.raises(ValueError, match="NEW path"):
        index_compact(spark, idx, idx, "bm25c", "bm25c3")
    with _pytest.raises(ValueError, match="NEW table"):
        index_compact(spark, idx, str(tmp_path / "idx3"), "bm25c",
                      "BM25C")


# -------------------------------------------------------- extract_links

def test_extract_links_hrefs_and_bare_urls(spark):
    from tap_airbyte_wrapper_spark.functions import extract_links

    df = spark.createDataFrame(
        [(1, '<a href="https://a.com/x">t</a> plain http://b.org/y?z=1 '
             '<a HREF="/relative">r</a> <a href=\'single\'>no</a>')],
        "doc_id long, text string")
    links = df.select(extract_links(F.col("text")).alias("l")) \
        .collect()[0].l
    # hrefs (double-quoted, case-insensitive attr) first, then bare
    assert "https://a.com/x" in links
    assert "/relative" in links
    assert "http://b.org/y?z=1" in links
    # single-quoted href out of contract; the bare scan also re-finds
    # the absolute href value inside the attribute (documented overlap)
    assert "single" not in links


def test_extract_links_empty_and_plain_text(spark):
    from tap_airbyte_wrapper_spark.functions import extract_links

    df = spark.createDataFrame(
        [(1, "no links at all"), (2, "")], "doc_id long, text string")
    got = {r.doc_id: r.l for r in
           df.select("doc_id", extract_links(F.col("text")).alias("l"))
           .collect()}
    assert got[1] == [] and got[2] == []


# ------------------------------------------------------- vocab_coverage

def test_vocab_coverage_counts_and_empty_docs(spark):
    from tap_airbyte_wrapper_spark.functions import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog UNSEEN zz"), (3, "")],
        "doc_id long, text string")
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("sat",), ("dog",)], "token string")
    got = {r.doc_id: r for r in vocab_coverage(docs, vocab).collect()}
    assert (got[1].n_tok, got[1].n_oov, got[1].oov_rate) == (3, 0, 0.0)
    assert (got[2].n_tok, got[2].n_oov) == (4, 2)
    assert got[2].oov_rate == pytest.approx(0.5)
    assert (got[3].n_tok, got[3].n_oov, got[3].oov_rate) == (0, 0, None)


def test_vocab_coverage_shuffle_join_path_matches_broadcast(spark):
    from tap_airbyte_wrapper_spark.functions import vocab_coverage

    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{i % 3} rare{i}") for i in range(20)],
        "doc_id long, text string")
    vocab = spark.createDataFrame(
        [(f"tok{i}",) for i in range(5)], "token string")
    a = sorted(map(tuple, vocab_coverage(docs, vocab).collect()))
    b = sorted(map(tuple, vocab_coverage(
        docs, vocab, broadcast_vocab=False).collect()))
    assert a == b


# ----------------------------------------------------- roc_auc / sweep

def test_roc_auc_hand_computed_with_ties(spark):
    from tap_airbyte_wrapper_spark.functions import roc_auc

    # scores: pos {3, 2, 2}, neg {2, 1}
    # pairs: (3,2)+ (3,1)+ (2,2)tie (2,1)+ (2,2)tie (2,1)+
    # => (4 wins + 2*0.5) / 6 = 5/6
    df = spark.createDataFrame(
        [(3.0, 1), (2.0, 1), (2.0, 1), (2.0, 0), (1.0, 0)],
        "score double, label int")
    r = roc_auc(df, "score", "label").collect()[0]
    assert (r.n_pos, r.n_neg) == (3, 2)
    assert r.auc == pytest.approx(round(5 / 6, 6))


def test_roc_auc_perfect_random_and_degenerate(spark):
    from tap_airbyte_wrapper_spark.functions import roc_auc

    sep = spark.createDataFrame(
        [(float(i), 1 if i >= 50 else 0) for i in range(100)],
        "score double, label int")
    assert roc_auc(sep, "score", "label").collect()[0].auc == 1.0
    inv = spark.createDataFrame(
        [(float(-i), 1 if i >= 50 else 0) for i in range(100)],
        "score double, label int")
    assert roc_auc(inv, "score", "label").collect()[0].auc == 0.0
    # single-class input: auc undefined (null), counts still reported
    one = spark.createDataFrame(
        [(1.0, 1), (2.0, 1)], "score double, label int")
    r = roc_auc(one, "score", "label").collect()[0]
    assert r.auc is None and (r.n_pos, r.n_neg) == (2, 0)
    # null scores and non-binary labels are ignored
    noisy = spark.createDataFrame(
        [(3.0, 1), (None, 1), (1.0, 0), (2.0, 7)],
        "score double, label int")
    r = roc_auc(noisy, "score", "label").collect()[0]
    assert (r.n_pos, r.n_neg, r.auc) == (1, 1, 1.0)


def test_threshold_metrics_hand_computed(spark):
    from tap_airbyte_wrapper_spark.functions import threshold_metrics

    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 0), (0.6, 1), (0.4, 0), (0.2, 1)],
        "score double, label int")
    got = {r.threshold: r for r in threshold_metrics(
        df, "score", "label", thresholds=(0.5, 0.95)).collect()}
    t = got[0.5]   # pred+: .9 .8 .6 -> tp=2 fp=1; pred-: .4 .2 -> fn=1 tn=1
    assert (t.tp, t.fp, t.fn, t.tn) == (2, 1, 1, 1)
    assert t.precision == pytest.approx(round(2 / 3, 6))
    assert t.recall == pytest.approx(round(2 / 3, 6))
    assert t.f1 == pytest.approx(round(2 / 3, 6))
    assert t.accuracy == pytest.approx(0.6)
    hi = got[0.95]  # nothing predicted positive
    assert (hi.tp, hi.fp, hi.fn, hi.tn) == (0, 0, 3, 2)
    assert hi.precision is None and hi.f1 is None
    assert hi.recall == 0.0 and hi.accuracy == pytest.approx(0.4)


def test_calibration_bins_hand_computed(spark):
    from tap_airbyte_wrapper_spark.functions import calibration_bins

    df = spark.createDataFrame(
        [(0.05, 0), (0.08, 0), (0.95, 1), (0.92, 0), (1.0, 1),
         (None, 1), (1.5, 0), (0.5, 3)],     # last three ignored
        "score double, label int")
    got = {r.bin: r for r in calibration_bins(
        df, "score", "label", n_bins=10).collect()}
    assert set(got) == {0, 9}
    lo = got[0]
    assert lo.n == 2 and lo.frac_pos == 0.0
    assert lo.mean_score == pytest.approx(0.065)
    assert lo.sse == pytest.approx(round(0.05**2 + 0.08**2, 6))
    hi = got[9]   # 0.95(1), 0.92(0), 1.0(1) -> score 1.0 clamps into bin 9
    assert hi.n == 3
    assert hi.frac_pos == pytest.approx(round(2 / 3, 6))
    assert hi.sse == pytest.approx(
        round(0.05**2 + 0.92**2 + 0.0**2, 6))


def test_calibration_well_vs_miscalibrated(spark):
    from tap_airbyte_wrapper_spark.functions import calibration_bins

    # perfectly calibrated synthetic: in bin b, frac_pos == mean score
    rows = []
    for b in range(10):
        s = b / 10 + 0.05
        for i in range(100):
            rows.append((s, 1 if i < round(s * 100) else 0))
    df = spark.createDataFrame(rows, "score double, label int")
    for r in calibration_bins(df, "score", "label").collect():
        assert abs(r.frac_pos - r.mean_score) <= 0.005
    # corpus Brier from the bins: sum(sse)/sum(n) ~= s(1-s) averaged
    agg = calibration_bins(df, "score", "label").groupBy().sum(
        "sse", "n").collect()[0]
    brier = agg[0] / agg[1]
    assert 0.15 < brier < 0.30


# ------------------------------------------------------ soft_dedup_weights

def test_soft_dedup_weights_planted_copies(spark):
    from tap_airbyte_wrapper_spark.functions import soft_dedup_weights

    df = spark.createDataFrame(
        [(1, "same  TEXT here"), (2, "same text HERE"),   # normalized dup
         (3, "same text here"), (4, "unique content")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           soft_dedup_weights(df, "text", "doc_id").collect()}
    assert all(got[i].n_copies == 3 for i in (1, 2, 3))
    assert got[1].weight == pytest.approx(round(1 / 3, 6))
    assert got[4].n_copies == 1 and got[4].weight == 1.0
    # total weight mass of a clique == one copy
    assert sum(got[i].weight for i in (1, 2, 3)) == pytest.approx(1.0, abs=1e-5)
    # alpha < 1 interpolates toward no-dedup
    soft = {r.doc_id: r.weight for r in soft_dedup_weights(
        df, "text", "doc_id", alpha=0.5).collect()}
    assert got[1].weight < soft[1] < 1.0
    # agreement with exact_dedup: hard-drop keeps exactly the rows a
    # weight-1-per-clique scheme would sample first
    from tap_airbyte_wrapper_spark.functions import exact_dedup
    kept = sorted(r.doc_id for r in exact_dedup(df, "text", "doc_id").collect())
    assert kept == [1, 4]


def test_reservoir_and_hh_readers_raise_before_bootstrap(spark, tmp_path):
    import pytest as _pytest
    from tap_airbyte_wrapper_spark.streaming import (
        read_heavy_hitters,
        read_reservoir,
    )

    with _pytest.raises(FileNotFoundError, match="_latest"):
        read_reservoir(spark, str(tmp_path / "nowhere"))
    with _pytest.raises(FileNotFoundError, match="_latest"):
        read_heavy_hitters(spark, str(tmp_path / "nowhere"))


# ------------------------------------------------------------ token_jsd

def test_token_jsd_identity_and_disjoint(spark):
    import math

    from tap_airbyte_wrapper_spark.functions import token_jsd

    a = spark.createDataFrame(
        [(1, "x y x z"), (2, "y y x")], "doc_id long, text string")
    same = token_jsd(a, a).collect()[0]
    assert same.jsd == 0.0
    assert same.n_tok_a == same.n_tok_b == 7 and same.vocab_union == 3
    # fully disjoint vocabularies: JSD = ln 2
    b = spark.createDataFrame([(3, "p q p")], "doc_id long, text string")
    dis = token_jsd(a, b).collect()[0]
    assert dis.jsd == pytest.approx(round(math.log(2), 6))
    assert dis.vocab_union == 5


def test_token_jsd_hand_computed_and_symmetry(spark):
    import math

    from tap_airbyte_wrapper_spark.functions import token_jsd

    a = spark.createDataFrame([(1, "x x y")], "doc_id long, text string")
    b = spark.createDataFrame([(2, "x y y y")], "doc_id long, text string")
    got = token_jsd(a, b).collect()[0].jsd

    def kl_half(p, q):
        return sum(0.5 * pi * math.log(pi / ((pi + qi) / 2))
                   for pi, qi in zip(p, q) if pi > 0)
    p, q = [2 / 3, 1 / 3], [1 / 4, 3 / 4]
    want = kl_half(p, q) + kl_half(q, p)
    assert got == pytest.approx(round(want, 6), abs=2e-6)
    # symmetric
    assert token_jsd(b, a).collect()[0].jsd == got


def test_token_jsd_matrix_matches_pairwise_two_slice(spark):
    from tap_airbyte_wrapper_spark.functions import token_jsd, token_jsd_matrix

    df = spark.createDataFrame(
        [(1, "x x y", "A"), (2, "x y y y", "B"),
         (3, "p q p", "C"), (4, "y x", "A")],
        "doc_id long, text string, source string")
    mat = {(r.a, r.b): r.jsd for r in token_jsd_matrix(df).collect()}
    assert set(mat) == {("A", "B"), ("A", "C"), ("B", "C")}
    for ga, gb in mat:
        want = token_jsd(
            df.filter(F.col("source") == ga),
            df.filter(F.col("source") == gb)).collect()[0].jsd
        assert mat[(ga, gb)] == pytest.approx(want, abs=2e-6), (ga, gb)
    # C shares no tokens with A or B: exactly ln 2
    import math
    assert mat[("A", "C")] == pytest.approx(round(math.log(2), 6))


# -------------------------------------------------------- embedding_mmd

def test_embedding_mmd_identity_and_shift(spark):
    from tap_airbyte_wrapper_spark.functions import embedding_mmd

    a = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(30)],
        "vec_id long, embedding array<float>")
    same = embedding_mmd(a, a).collect()[0]
    assert same.mmd2 == 0.0 and same.dim == 2
    assert same.n_a == same.n_b == 30
    # shift every vector by (0.5, -0.25): mmd2 = 0.5^2 + 0.25^2
    b = a.select("vec_id", F.transform(
        "embedding",
        lambda x, i: x + F.when(i == 0, 0.5).otherwise(-0.25)
    ).alias("embedding"))
    shifted = embedding_mmd(a, b).collect()[0]
    assert shifted.mmd2 == pytest.approx(round(0.25 + 0.0625, 6), abs=1e-5)


def test_embedding_mmd_matches_numpy(spark):
    import numpy as np

    from tap_airbyte_wrapper_spark.functions import embedding_mmd

    rng = np.random.default_rng(5)
    va = rng.normal(0, 1, (40, 8)).astype("float32")
    vb = rng.normal(0.3, 1, (25, 8)).astype("float32")
    a = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(va)],
        "vec_id long, embedding array<float>")
    b = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vb)],
        "vec_id long, embedding array<float>")
    got = embedding_mmd(a, b).collect()[0]
    want = float(((va.mean(axis=0) - vb.mean(axis=0)) ** 2).sum())
    assert got.mmd2 == pytest.approx(round(want, 6), abs=1e-5)
    assert (got.n_a, got.n_b, got.dim) == (40, 25, 8)
