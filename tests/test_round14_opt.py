"""Round-14 optimization-internals tests: changed operator internals
keep their exact contracts (probe-window order statistics, LPA
struct-min top-1, corpus-BLEU merged stat pass)."""

import pytest
from pyspark.sql import functions as F


def test_order_stats_probe_matches_bucket_machinery(spark):
    """The round-14 quantile-sketch probe path must select the SAME
    doubles as the equi-width bucket machinery on the shapes that
    motivated it (heavy tail) and the shapes that defeat it (heavy
    tie at the median — probe declines, fallback answers)."""
    from tap_airbyte_wrapper_spark.operators.quality import (
        _exact_order_stats, _order_stats_probe)

    # heavy tail: 10k values ~ tight core, a few enormous outliers —
    # the exact case where ONE equi-width bucket swallows the median
    core = spark.range(10_000).select(
        (F.col("id") % 997 / 997.0).alias("v"))
    tail = spark.range(5).select(
        (F.lit(1.0e12) * (F.col("id") + 1)).alias("v"))
    vals = core.unionByName(tail).localCheckpoint(eager=True)
    m = vals.count()
    mid = (m + 1) // 2
    ks = [mid, mid + 1] if m % 2 == 0 else [mid]
    probe = _order_stats_probe(vals, "v", ks, m)
    assert probe is not None, "probe should hit on a heavy tail"
    full = _exact_order_stats(vals.withColumn(
        "v", F.col("v")), "v", ks, 64, depth=1)  # depth=1 skips probe
    assert probe == full

    # heavy tie AT the median: probe must either answer exactly or
    # decline; _exact_order_stats must answer exactly either way
    tied = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 8, 5.0)
        .otherwise(F.col("id").cast("double")).alias("v")) \
        .localCheckpoint(eager=True)
    m2 = tied.count()
    ks2 = [(m2 + 1) // 2, (m2 + 1) // 2 + 1]
    got = _exact_order_stats(tied, "v", ks2, 64)
    assert got == [5.0, 5.0]


def test_sen_slope_value_unchanged_by_probe(spark):
    """sen_slope's published slope is identical with the probe path in
    play (same doubles selected)."""
    from tap_airbyte_wrapper_spark.operators import sen_slope

    df = spark.range(200).select(
        F.col("id").alias("id"),
        F.col("id").cast("double").alias("t"),
        (3.0 * F.col("id") + F.when(F.col("id") % 7 == 0, 1e9)
         .otherwise(0.0)).cast("double").alias("v"))
    row = sen_slope(df, "t", "v", "id").first()
    # brute force in python
    rows = [(float(i), 3.0 * i + (1e9 if i % 7 == 0 else 0.0))
            for i in range(200)]
    slopes = sorted(
        (vb - va) / (tb - ta)
        for i, (ta, va) in enumerate(rows)
        for tb, vb in rows[i + 1:] if tb != ta)
    mm = len(slopes)
    med = (slopes[(mm - 1) // 2] if mm % 2 == 1 else
           (slopes[mm // 2 - 1] + slopes[mm // 2]) / 2)
    assert row["n_pairs"] == mm
    assert row["slope"] == pytest.approx(round(med, 6), abs=1e-12)


def test_lpa_agg_top1_matches_window_semantics(spark):
    """label_propagation's struct-min top-1 must pick (max count, then
    min label) — pinned on a vote pattern with a deliberate tie."""
    from tap_airbyte_wrapper_spark.operators import label_propagation

    # star around node 1 plus a 2-3 edge: after one round node 1
    # adopts the smallest most-frequent neighbor label
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 1)], ["s", "d"])
    out = {r["node"]: r["community"]
           for r in label_propagation(edges, "s", "d",
                                      n_iter=1).collect()}
    # node 1 neighbors {2,3,4}: labels 2,3,4 once each -> tie, min=2
    assert out[1] == 2
    # node 4 neighbor {1}: label 1
    assert out[4] == 1


def test_simhash_verified_guaranteed_path_equals_brute_force(spark):
    """Round-14 restructure: the guaranteed-recall path reuses the
    exact generator's jaccard for its own pairs and verifies only
    sketch-minus-exact extras — output must still equal the brute-force
    all-pairs >= threshold set, values included."""
    from pyspark.sql import functions as F

    from tap_airbyte_wrapper_spark.functions.dedup import (
        exact_jaccard_on_pairs,
        simhash_verified_pairs,
    )

    rows = []
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight").split()
    for i in range(30):
        toks = list(base)
        # perturb a few tokens per doc so near-dup pairs straddle 0.5
        for j in range(i % 7):
            toks[(3 * j) % len(toks)] = f"tok{i}_{j}"
        rows.append((i, " ".join(toks)))
    # exact replicas exercise the collapse/expand machinery
    rows.append((100, rows[0][1]))
    rows.append((101, rows[3][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = sorted(
        tuple(r) for r in simhash_verified_pairs(
            df, "doc_id", "text", max_hamming=7, chunks=8,
            threshold=0.5, guarantee_recall=True).collect())

    ids = [r[0] for r in rows]
    all_pairs = spark.createDataFrame(
        [(a, b) for ai, a in enumerate(ids) for b in ids[ai + 1:]],
        "id_a long, id_b long")
    want = sorted(
        tuple(r) for r in exact_jaccard_on_pairs(
            df, all_pairs.select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b")),
            "doc_id", "text", n=3, threshold=0.5).collect())
    assert got == want and len(want) > 0


def test_bm25_doclen_table_equals_tf_rollup(spark, tmp_path):
    """The round-14 per-row doclen spelling (size(words(text))) must
    write EXACTLY the rows the tf-derived groupBy(id).sum(tf) rollup
    wrote — including the "docs with no terms have no dl row" rule —
    through both the build and the versioned append path."""
    from tap_airbyte_wrapper_spark.functions.retrieval import (
        bm25_index_append,
        bm25_index_write,
        doc_term_freq,
    )

    rows = [
        (1, "alpha beta beta gamma"),
        (2, "  Alpha   ALPHA  "),          # case + padding
        (3, ""),                            # no tokens -> no dl row
        (4, "   "),                         # whitespace only -> none
        (5, "delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tbl = "t14_dl_eq"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_postings")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_doclen")
    bm25_index_write(df.filter(F.col("doc_id") <= 3),
                     tbl, str(tmp_path / "idx"), "doc_id", "text")
    bm25_index_append(df.filter(F.col("doc_id") > 3),
                      tbl, "doc_id", "text")

    got = sorted(tuple(r) for r in spark.table(f"{tbl}_doclen")
                 .select("doc_id", "dl", "__ver").collect())
    want = sorted(
        tuple(r) + (0,) for r in
        doc_term_freq(df, "doc_id", "text")
        .groupBy("doc_id").agg(F.sum("tf").alias("dl")).collect())
    assert got == want
    assert (1, 4, 0) in got and (2, 2, 0) in got
    assert all(r[0] not in (3, 4) for r in got)
    for suffix in ("postings", "doclen"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_{suffix}")


def test_spearman_fused_dual_rank_equals_two_pass_fallback(spark):
    """The round-14 fused dual-rank path (one multi-column quantile
    probe, both ranks as windows on one frame, no id join) must give
    the SAME rho as the two-pass global_distribution_ranks fallback —
    proven by casting one column to string (which forces the fallback)
    on data with heavy ties in both columns."""
    from tap_airbyte_wrapper_spark.operators import spearman_correlation

    df = spark.range(2_000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("double").alias("a"),
        ((F.col("id") % 7) * 3 + F.col("id") % 2).cast("double")
        .alias("b"))
    fused = spearman_correlation(df, "a", "b", "doc_id").collect()[0]
    # string-typed col_a defeats the numeric fast path -> two-pass
    # fallback; values 0..6 are single digits so the STRING sort order
    # equals the numeric order and ranks are identical
    fb = spearman_correlation(
        df.withColumn("a", F.col("a").cast("int").cast("string")),
        "a", "b", "doc_id").collect()[0]
    assert fused["n_items"] == fb["n_items"] == 2_000
    assert fused["rho"] == fb["rho"]

    # ties='id' mode rides the same fused path
    fused_id = spearman_correlation(
        df, "a", "b", "doc_id", ties="id").collect()[0]
    fb_id = spearman_correlation(
        df.withColumn("a", F.col("a").cast("int").cast("string")),
        "a", "b", "doc_id", ties="id").collect()[0]
    assert fused_id["rho"] == fb_id["rho"]
