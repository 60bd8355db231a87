"""Round-6 hardening tests.

Covers: the 48-bit sampler hash (mod-bias + uniform-collision fixes),
heavy-hitter completeness guard, string-key global packing, size-aware
pack_token_budget routing, winnowing fast path, catalog replication-
method parity, and the streaming embedding gate.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------
# 48-bit sampler hash (round-5 ADVICE medium + verdict wrong #2)
# ---------------------------------------------------------------------

def test_upsample_half_threshold_unbiased(spark):
    """A 0.5 fractional epoch keeps ~50% — the 16-bit bucket kept
    ~53.4% (65536 % 10000 = 5536 heavy buckets), ~9.6 sigma away at
    this n, so this test fails on the old formula."""
    from tap_airbyte_wrapper_spark.functions import upsample_repeat

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("g").alias("source"))
    out = upsample_repeat(df, {"g": 1.5}, "source", "doc_id")
    frac_extra = out.count() / n - 1.0
    sigma = math.sqrt(0.25 / n)
    assert abs(frac_extra - 0.5) < 4 * sigma, frac_extra


def test_mixture_sample_rate_unbiased(spark):
    from tap_airbyte_wrapper_spark.functions import mixture_sample

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("g").alias("source"))
    kept = mixture_sample(df, {"g": 0.5}, "source", "doc_id").count()
    sigma = math.sqrt(0.25 / n)
    assert abs(kept / n - 0.5) < 4 * sigma


def test_weighted_sample_uniforms_collision_free(spark):
    """The E-S uniform takes all 48 hash bits: 5000 ids produce 5000
    distinct keys.  The old 16-bit bucket expected ~190 birthday
    collisions here (then the id tie-break favored low ids)."""
    from tap_airbyte_wrapper_spark.functions.sampling import _hash_long

    n = 5_000
    df = spark.range(n).select(F.col("id").alias("doc_id"))
    distinct = df.select(
        _hash_long(F.col("doc_id")).alias("u")).distinct().count()
    assert distinct == n


def test_weighted_sample_equal_weights_not_low_id_biased(spark):
    """With equal weights the kept set is a uniform draw: its mean id
    should sit near the population mean, not the low end."""
    from tap_airbyte_wrapper_spark.functions import weighted_sample

    n, k = 20_000, 400
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(1.0).alias("w"))
    kept = weighted_sample(df, "w", "doc_id", k)
    mean_id = kept.agg(F.avg("doc_id")).first()[0]
    # uniform-draw mean ~ n/2 with sd ~ n/sqrt(12k) ≈ 289 here
    sd = n / math.sqrt(12 * k)
    assert abs(mean_id - n / 2) < 4 * sd


# ---------------------------------------------------------------------
# heavy-hitters completeness guard (round-5 verdict wrong #3)
# ---------------------------------------------------------------------

def test_heavy_hitters_unsatisfiable_threshold_raises(spark):
    """min_count=1 with N >= capacity cannot guarantee completeness;
    the guard must raise instead of silently under-reporting."""
    rows = [(f"w{i}",) for i in range(200)]
    df = spark.createDataFrame(rows, "text string")
    from tap_airbyte_wrapper_spark.functions import heavy_hitters

    out = heavy_hitters(df, min_count=1, capacity=50)
    with pytest.raises(Exception, match="completeness guarantee"):
        out.collect()


def test_heavy_hitter_values_unsatisfiable_threshold_raises(spark):
    from tap_airbyte_wrapper_spark.functions import heavy_hitter_values

    df = spark.range(300).select(F.col("id").alias("k"))
    out = heavy_hitter_values(df, "k", min_count=2, capacity=100)
    with pytest.raises(Exception, match="completeness guarantee"):
        out.collect()


def test_heavy_hitters_guard_passes_at_boundary(spark):
    """threshold * capacity > N strictly: N=100, min_count=3,
    capacity=50 gives 150 > 100 — must not raise."""
    from tap_airbyte_wrapper_spark.functions import heavy_hitters

    rows = [("x",)] * 90 + [(f"y{i}",) for i in range(10)]
    df = spark.createDataFrame(rows, "text string")
    got = {r["word"]: r["cnt"]
           for r in heavy_hitters(df, min_count=3, capacity=50).collect()}
    assert got == {"x": 90}


# ---------------------------------------------------------------------
# string-key global_cumsum / pack_sequences (round-5 verdict missing #3)
# ---------------------------------------------------------------------

def test_global_cumsum_string_key_matches_single_partition_window(spark):
    """String keys re-key on (xxhash64(id), id); the two-phase result
    must equal a plain single-partition window over the same order."""
    from pyspark.sql import Window
    from tap_airbyte_wrapper_spark.operators.windows import global_cumsum

    df = spark.createDataFrame(
        [(f"doc-{i:04d}", i % 7 + 1) for i in range(400)],
        "doc_id string, v long").repartition(8)
    got = {r["doc_id"]: r["cum"]
           for r in global_cumsum(df, "doc_id", "v", num_ranges=6).collect()}
    w = (Window.orderBy(F.xxhash64("doc_id"), F.col("doc_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = {r["doc_id"]: r["cum"]
            for r in df.coalesce(1)
            .withColumn("cum", F.sum("v").over(w)).collect()}
    assert got == want


def test_global_cumsum_string_key_partitioning_independent(spark):
    from tap_airbyte_wrapper_spark.operators.windows import global_cumsum

    rows = [(f"id{i}", 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id string, v long")
    a = {r["doc_id"]: r["cum"]
         for r in global_cumsum(df, "doc_id", "v", num_ranges=4).collect()}
    b = {r["doc_id"]: r["cum"]
         for r in global_cumsum(df.repartition(11), "doc_id", "v",
                                num_ranges=9).collect()}
    assert a == b
    assert sorted(a.values()) == list(range(1, 301))


def test_pack_sequences_string_ids_relabel_consistent(spark):
    """pack_sequences over string ids: total layout is a valid packing
    (tok_starts form the cumsum of n_tok in SOME total order) and is
    stable under repartitioning."""
    from tap_airbyte_wrapper_spark.functions import pack_sequences

    rows = [(f"d{i}", " ".join(["w"] * (i % 9 + 1))) for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = pack_sequences(df, seq_len=16, num_ranges=5).collect()
    by_start = sorted(out, key=lambda r: r["tok_start"])
    acc = 0
    for r in by_start:
        assert r["tok_start"] == acc
        assert r["seq_start"] == r["tok_start"] // 16
        acc += r["n_tok"]
    again = {r["doc_id"]: r["tok_start"]
             for r in pack_sequences(df.repartition(13), seq_len=16,
                                     num_ranges=3).collect()}
    assert again == {r["doc_id"]: r["tok_start"] for r in out}


# ---------------------------------------------------------------------
# size-aware pack_token_budget auto-route (round-5 verdict weak #1)
# ---------------------------------------------------------------------

def _pack_budget_df(spark, n=60, groups=3):
    rows = [(f"d{i}", f"g{i % groups}", i, "tok " * (i % 5 + 1))
            for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id string, source string, n_chars long, text string")


def test_pack_token_budget_auto_small_input_takes_window_path(
        spark, tmp_path):
    """Few groups but a small corpus: auto must take the plain window
    (no eager localCheckpoint materialization — a checkpoint would show
    as an RDD scan replacing the parquet file scan)."""
    from tap_airbyte_wrapper_spark.functions import pack_token_budget

    path = str(tmp_path / "docs")
    _pack_budget_df(spark).write.parquet(path)
    df = spark.read.parquet(path)
    plan = pack_token_budget(df, budget=50, mode="auto") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan
    assert "FileScan parquet" in plan


def test_pack_token_budget_auto_heavy_groups_take_two_phase(spark):
    """Forcing the per-group threshold to 0 routes few-group inputs to
    two_phase (checkpoint-pinned range partitioning shows as an RDD
    scan), and the answer still matches the window path."""
    from tap_airbyte_wrapper_spark.functions import pack_token_budget

    df = _pack_budget_df(spark)
    auto = pack_token_budget(df, budget=50, mode="auto",
                             rows_per_group_threshold=0)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    want = {(r["doc_id"], r["cum_tokens"]) for r in pack_token_budget(
        df, budget=50, mode="window").collect()}
    assert {(r["doc_id"], r["cum_tokens"]) for r in auto.collect()} == want


def test_pack_token_budget_stat_hints_skip_probe(spark):
    """Catalog-stat hints must bypass the probe scan and drive routing:
    claiming few+heavy groups takes two_phase even on a tiny input."""
    from tap_airbyte_wrapper_spark.functions import pack_token_budget

    df = _pack_budget_df(spark)
    hinted = pack_token_budget(df, budget=50, mode="auto",
                               n_rows=10_000_000_000, n_groups=3)
    plan = hinted._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan


# ---------------------------------------------------------------------
# winnowing rolling-hash fast path (round-5 verdict perf ask #3)
# ---------------------------------------------------------------------

def test_winnow_rolling_and_md5_share_guarantee(spark):
    """Both hash paths honor the winnowing guarantee: a shared
    substring of length >= gram_len + window - 1 yields at least one
    shared fingerprint; unrelated docs share none."""
    from tap_airbyte_wrapper_spark.functions import winnow_fingerprints

    shared = "the quick brown fox jumps over"
    df = spark.createDataFrame(
        [(1, "AAAA " + shared + " BBBB"),
         (2, "cccc dddd " + shared + " eeee"),
         (3, "zzzz completely unrelated words qqqq xxxx yyyy wwww")],
        "doc_id int, text string")
    for hash_fn in ("rolling", "md5"):
        rows = {r.doc_id: set(r.fps) for r in winnow_fingerprints(
            df, "text", hash_fn=hash_fn).collect()}
        assert rows[1] & rows[2], hash_fn
        assert not (rows[1] & rows[3]), hash_fn


def test_winnow_rolling_deterministic_under_repartition(spark):
    from tap_airbyte_wrapper_spark.functions import winnow_fingerprints

    rows = [(i, f"document number {i} with some repeated filler text "
                f"and trailing content {i * 7}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    a = {r.doc_id: r.fps for r in winnow_fingerprints(df, "text").collect()}
    b = {r.doc_id: r.fps for r in winnow_fingerprints(
        df.repartition(9), "text").collect()}
    assert a == b
    assert all(isinstance(v, int) for fps in a.values() for v in fps)


# ---------------------------------------------------------------------
# streaming embedding gate (round-5 verdict missing #1)
# ---------------------------------------------------------------------

def _vec(direction, dim=8, eps=0.0, flip=1.0):
    v = [0.0] * dim
    v[direction] = 1.0 * flip
    if eps:
        v[(direction + 1) % dim] = eps
    return v


def test_stream_embedding_gate_across_batches(spark, tmp_path):
    """ANN mirror of the MinHash gate test: within-batch dups keep the
    min id, cross-batch dups drop against the appended index, re-drains
    are no-ops, and the index grows O(batch)."""
    from pyspark.sql import Row
    from tap_airbyte_wrapper_spark.functions import (
        embedding_dedup_delta, ivf_build, ivf_load, ivf_staleness)
    from tap_airbyte_wrapper_spark.streaming import stream_embedding_gate

    src = tmp_path / "landing"
    src.mkdir()
    idx = str(tmp_path / "ivf")
    out = str(tmp_path / "clean")
    schema = "vec_id long, embedding array<float>"

    # bootstrap: the quantizer needs training vectors
    boot = spark.createDataFrame(
        [(100, _vec(0)), (101, _vec(1))], schema)
    ivf_build(boot, n_clusters=2, path=idx)

    b1 = spark.createDataFrame(
        [Row(vec_id=1, embedding=_vec(0, eps=0.02)),   # corpus dup of 100
         Row(vec_id=2, embedding=_vec(3)),             # fresh
         Row(vec_id=3, embedding=_vec(3, eps=0.02))],  # in-batch dup of 2
        schema)
    b1.coalesce(1).write.mode("append").parquet(str(src))

    def drain(ckpt):
        q = stream_embedding_gate(
            spark.readStream.schema(b1.schema).parquet(str(src)),
            "vec_id", "embedding", idx, out,
            checkpoint=str(tmp_path / ckpt), threshold=0.9, n_probe=2)
        q.awaitTermination(120)

    drain("ck1")
    assert sorted(r["vec_id"] for r in
                  spark.read.parquet(out).collect()) == [2]
    assert ivf_staleness(spark, idx)["appended_rows"] == 1  # O(batch)

    b2 = spark.createDataFrame(
        [Row(vec_id=4, embedding=_vec(3, eps=0.01)),   # cross-batch dup of 2
         Row(vec_id=5, embedding=_vec(5))],            # fresh
        schema)
    b2.coalesce(1).write.mode("append").parquet(str(src))
    drain("ck1")
    assert sorted(r["vec_id"] for r in
                  spark.read.parquet(out).collect()) == [2, 5]
    assert ivf_staleness(spark, idx)["appended_rows"] == 2

    # same-checkpoint re-drain with no new data is a no-op
    drain("ck1")
    assert sorted(r["vec_id"] for r in
                  spark.read.parquet(out).collect()) == [2, 5]

    # crash-replay property at the probe level + brute-force agreement:
    # full-probe IVF corpus hits over the final index equal exact
    # brute-force cosine pairs, self-matches excluded by the gate
    index = ivf_load(spark, idx)
    reprobe = embedding_dedup_delta(index, b2, threshold=0.9, n_probe=2)
    hits = {(r["id_a"], r["id_b"]) for r in reprobe.collect()
            if r["kind"] == "corpus"}
    assert (4, 2) in hits             # the real dup, still dropped
    assert (5, 5) not in hits         # self-match excluded by knn_topk
    from tap_airbyte_wrapper_spark.functions import knn_topk
    brute = knn_topk(index.assigned, b2, k=5)
    brute_pairs = {(r["query_id"], r["vec_id"])
                   for r in brute.collect() if r["cos_sim"] >= 0.9
                   and r["query_id"] != r["vec_id"]}
    assert hits == brute_pairs


def test_gate_stats_recorded_per_batch(spark, tmp_path):
    """Both gates append (batch_id, n_in, n_kept, n_dropped) rows under
    {out}/_gate_stats; the underscore prefix keeps them invisible to
    corpus reads of out_path."""
    from pyspark.sql import Row
    from tap_airbyte_wrapper_spark.functions import ivf_build
    from tap_airbyte_wrapper_spark.streaming import (
        read_gate_stats, stream_embedding_gate)

    src = tmp_path / "landing"
    src.mkdir()
    idx = str(tmp_path / "ivf")
    out = str(tmp_path / "clean")
    schema = "vec_id long, embedding array<float>"
    boot = spark.createDataFrame([(100, _vec(0)), (101, _vec(1))], schema)
    ivf_build(boot, n_clusters=2, path=idx)
    b1 = spark.createDataFrame(
        [Row(vec_id=1, embedding=_vec(0, eps=0.02)),
         Row(vec_id=2, embedding=_vec(3))], schema)
    b1.coalesce(1).write.mode("append").parquet(str(src))
    q = stream_embedding_gate(
        spark.readStream.schema(b1.schema).parquet(str(src)),
        "vec_id", "embedding", idx, out,
        checkpoint=str(tmp_path / "ck"), threshold=0.9, n_probe=2)
    q.awaitTermination(120)

    stats = read_gate_stats(spark, out).collect()
    assert len(stats) == 1
    row = stats[0]
    assert (row["n_in"], row["n_kept"], row["n_dropped"]) == (2, 1, 1)
    # _gate_stats must NOT leak into corpus reads
    assert {r["vec_id"] for r in spark.read.parquet(out).collect()} == {2}


# ---------------------------------------------------------------------
# layout-preserving index compaction
# ---------------------------------------------------------------------

def test_minhash_index_compact_preserves_bucketed_join(spark, tmp_path):
    """Appends accumulate files per bucket; compaction shrinks to one
    file per bucket while keeping the bucket metadata, so the delta
    probe still runs with zero corpus-side Exchange and identical
    output."""
    import os

    from pyspark.sql import Row
    from tap_airbyte_wrapper_spark.functions import (
        minhash_dedup_delta, minhash_index_append, index_compact,
        minhash_index_write)

    long_a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(12))
    long_b = " ".join(f"delta{i} epsi{i} zeta{i}" for i in range(12))
    idx = str(tmp_path / "idx")
    corpus = spark.createDataFrame(
        [Row(doc_id=1, text=long_a)], "doc_id long, text string")
    minhash_index_write(corpus, "doc_id", "text", "mhc6", idx,
                        num_hashes=64, shingle_len=3, bands=16, n_buckets=4)
    for i in range(3):
        minhash_index_append(
            spark.createDataFrame(
                [Row(doc_id=10 + i, text=f"{long_b} extra{i}")],
                "doc_id long, text string"),
            "mhc6", idx, "doc_id", "text")

    dst = str(tmp_path / "idx_c")
    stats = index_compact(spark, idx, dst, "mhc6", "mhc6c")
    assert stats["files_out"] < stats["files_in"]
    # at most one file per NON-EMPTY bucket per table
    assert stats["files_out"] <= 2 * 4
    assert os.path.exists(os.path.join(dst, "_index_meta.json"))

    probe = spark.createDataFrame(
        [Row(doc_id=2000, text=long_a + " tail")], "doc_id long, text string")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        before = minhash_dedup_delta(
            probe, "mhc6", idx, "doc_id", "text", threshold=0.5)
        want = {(r["id_a"], r["id_b"], r["kind"]) for r in before.collect()}
        plan_before = before._jdf.queryExecution() \
            .executedPlan().toString()
        out = minhash_dedup_delta(
            probe, "mhc6c", dst, "doc_id", "text", threshold=0.5)
        got = {(r["id_a"], r["id_b"], r["kind"]) for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == want and got
    assert "SelectedBucketsCount" in plan          # bucketing survived
    # compaction must not ADD shuffles: same exchange count as the
    # probe against the uncompacted index
    assert (plan.count("Exchange hashpartitioning")
            == plan_before.count("Exchange hashpartitioning"))


# ---------------------------------------------------------------------
# cross-engine hash parity on adversarial inputs (the fleet corpus is
# ASCII — these pin the unicode edges the oracles can't reach)
# ---------------------------------------------------------------------

def test_hash_long_matches_duckdb_on_tricky_ids(spark):
    import duckdb
    from tap_airbyte_wrapper_spark.functions.sampling import _hash_long

    ids = ["", "0", "héllo", "naïve-café", "日本語テキスト", "🎉🎊",
           "tab\tsep", "quote'id", 'double"q', "a" * 300]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    got = {r["doc_id"]: r["h"] for r in df.select(
        "doc_id", _hash_long(F.col("doc_id"), "s4lt").alias("h")).collect()}
    for i in ids:
        want = duckdb.sql(
            "SELECT CAST(concat('0x', substr(md5(? || 's4lt'), 1, 12)) "
            "AS BIGINT)", params=[i]).fetchone()[0]
        assert got[i] == want, i


def test_winnow_rolling_matches_duckdb_on_unicode(spark):
    """The rolling-hash oracle formula (unicode() codepoints x powers
    mod 2^32) must agree with the numpy utf-32 path on non-ASCII text,
    including astral-plane codepoints."""
    import duckdb
    from tap_airbyte_wrapper_spark.functions import winnow_fingerprints

    texts = ["héllo wörld çafé naïve résumé ünïcödé",
             "日本語のテキストです これはテストです さらに続きます",
             "emoji 🎉 inside 🎊 the 🎈 stream 🎁 of 🎀 text here",
             "mixed ascii és unicode szöveg averages out fine",
             "",            # empty: both sides must yield [0], not NULL
             "   \t\n  ",   # whitespace-only normalizes to empty
             "short"]       # < gram_len: hashed over actual length
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    got = {r["doc_id"]: sorted(r["fps"]) for r in winnow_fingerprints(
        df, "text").collect()}
    P = [1, 1000003, 3573587337, 583896283, 1525764945, 3865227315,
         272515929, 1071616587]
    sql = """
      WITH s AS (SELECT lower(trim(regexp_replace(?, '\\s+', ' ', 'g'))) AS t),
      g AS (
        SELECT list_transform(
          generate_series(1, greatest(length(t) - 8 + 1, 1)),
          i -> CAST(coalesce(list_sum(list_transform(
                 generate_series(1, length(substring(t, i, 8))),
                 k -> unicode(substring(t, i + k - 1, 1))
                      * ([1, 1000003, 3573587337, 583896283, 1525764945,
                          3865227315, 272515929, 1071616587]
                         [length(substring(t, i, 8)) - k + 1]))), 0)
               % 4294967296 AS BIGINT)) AS hs
        FROM s),
      w AS (
        SELECT list_sort(list_distinct(list_transform(
          generate_series(1, greatest(len(hs) - 4 + 1, 1)),
          j -> list_min(hs[j:j+3])))) AS fps
        FROM g)
      SELECT fps FROM w"""
    for i, t in enumerate(texts):
        want = duckdb.sql(sql, params=[t]).fetchone()[0]
        assert got[i] == sorted(want), t


# ---------------------------------------------------------------------
# containment_pairs (round-6 session addition)
# ---------------------------------------------------------------------

def test_containment_catches_asymmetric_duplication(spark):
    """A short doc fully quoted inside a long one: jaccard is capped at
    |A|/|B| (below any useful threshold) but containment(A in B) = 1.0
    — the case the operator exists for."""
    from tap_airbyte_wrapper_spark.functions import (
        containment_pairs, ngram_jaccard_pairs)

    quoted = "alpha beta gamma delta epsilon zeta"
    host = quoted + " " + " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quoted), (2, host), (3, "totally different words here now")],
        "doc_id int, text string")

    pairs = {(r["id_a"], r["id_b"]): r for r in containment_pairs(
        df, "doc_id", "text", n=3, threshold=0.9).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)]["cont_a_in_b"] == pytest.approx(1.0)
    assert pairs[(1, 2)]["cont_b_in_a"] < 0.5
    assert not any(3 in k for k in pairs)

    jac = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    assert jac.filter((F.col("id_a") == 1) & (F.col("id_b") == 2)).count() == 0


def test_containment_threshold_on_either_direction(spark):
    """Pairs qualify when EITHER direction reaches the threshold, and
    both ratios are reported from the same common count."""
    from tap_airbyte_wrapper_spark.functions import containment_pairs

    a = "one two three four five six seven eight"
    b = "one two three four five nine ten eleven"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id int, text string")
    # n=3: A has 6 shingles, B has 6, common = 3 -> 0.5 each way
    out = containment_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    row = out.collect()[0]
    assert row["cont_a_in_b"] == pytest.approx(0.5)
    assert row["cont_b_in_a"] == pytest.approx(0.5)
    assert containment_pairs(
        df, "doc_id", "text", n=3, threshold=0.51).count() == 0


# ---------------------------------------------------------------------
# bm25_topk (round-6 session addition)
# ---------------------------------------------------------------------

def test_bm25_ranks_rare_term_matches_first(spark):
    """The doc holding the query's RARE term outranks docs that only
    match its ubiquitous term (idf weighting), and only matching docs
    appear at all."""
    from tap_airbyte_wrapper_spark.functions import bm25_topk

    docs = [(1, "needle common common filler filler"),
            (2, "common filler filler filler other"),
            (3, "common filler other other other"),
            (4, "nothing relevant at all here")]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    q = spark.createDataFrame([(0, "needle common")],
                              "query_id int, query_text string")
    out = bm25_topk(df, q, id_col="doc_id", text_col="text", k=10).collect()
    ranked = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 1
    assert set(ranked) == {1, 2, 3}  # doc 4 matches no query term


def test_bm25_precomputed_tf_table_equivalent(spark, sf_dir):
    """The standing-corpus path (precomputed doc_term_freq) returns the
    identical rows as tokenizing in-line."""
    from tap_airbyte_wrapper_spark.functions import bm25_topk, doc_term_freq

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = spark.createDataFrame(
        [(0, "spark window merge"), (1, "customer filter join")],
        "query_id int, query_text string")
    direct = bm25_topk(df, q, id_col="doc_id", text_col="text", k=7)
    tf = doc_term_freq(df, "doc_id", "text")
    pre = bm25_topk(df, q, id_col="doc_id", text_col="text", k=7,
                    tf_table=tf)
    assert sorted(map(tuple, direct.collect())) == \
        sorted(map(tuple, pre.collect()))


def test_bm25_length_normalization(spark):
    """Same tf, shorter doc scores higher (b > 0 length penalty)."""
    from tap_airbyte_wrapper_spark.functions import bm25_topk

    docs = [(1, "term short"),
            (2, "term " + " ".join(f"pad{i}" for i in range(30)))]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    q = spark.createDataFrame([(0, "term")],
                              "query_id int, query_text string")
    out = {r["doc_id"]: r for r in bm25_topk(
        df, q, id_col="doc_id", text_col="text", k=5).collect()}
    assert out[1]["bm25"] > out[2]["bm25"]
    assert out[1]["rank"] == 1


# ---------------------------------------------------------------------
# pagerank (round-6 session addition)
# ---------------------------------------------------------------------

def _numpy_pagerank(edges, d=0.85, n_iter=10):
    """Dense reference implementation of the operator's exact semantics."""
    import numpy as np

    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    dedup = sorted(set(edges))
    outdeg = {u: sum(1 for s, _ in dedup if s == u) for u, _ in dedup}
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        nxt = np.full(n, (1 - d) / n)
        dangling = sum(r[idx[v]] for v in nodes if v not in outdeg)
        nxt += d * dangling / n
        for u, v in dedup:
            nxt[idx[v]] += d * r[idx[u]] / outdeg[u]
        r = nxt
    return {v: r[idx[v]] for v in nodes}


def test_pagerank_matches_dense_reference(spark):
    from tap_airbyte_wrapper_spark.operators import pagerank

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
             ("d", "c"), ("a", "b")]  # duplicate edge counts once
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"]
           for r in pagerank(df, "src", "dst", n_iter=10).collect()}
    want = _numpy_pagerank(edges, n_iter=10)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_conserves_mass_with_dangling(spark):
    """Nodes with no out-edges leak no mass: total rank stays 1.0 —
    this fails if the dangling redistribution is dropped."""
    from tap_airbyte_wrapper_spark.operators import pagerank

    # b and d are dangling
    df = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("c", "b")], "src string, dst string")
    for n_iter in (1, 7):  # 7 crosses the checkpoint boundary
        ranks = pagerank(df, "src", "dst", n_iter=n_iter)
        total = ranks.agg(F.sum("rank")).collect()[0][0]
        assert total == pytest.approx(1.0, abs=1e-12)


def test_degrees(spark):
    from tap_airbyte_wrapper_spark.operators import degrees

    df = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("a", "b")],
        "src string, dst string")
    got = {r["node"]: (r["out_deg"], r["in_deg"])
           for r in degrees(df, "src", "dst").collect()}
    assert got == {"a": (2, 0), "b": (1, 1), "c": (0, 2)}


# ---------------------------------------------------------------------
# fifth-review regression fixes
# ---------------------------------------------------------------------

def test_pagerank_empty_graph(spark):
    """Zero edges: empty (node, rank) frame, not ZeroDivisionError."""
    from tap_airbyte_wrapper_spark.operators import pagerank

    empty = spark.createDataFrame([], "src string, dst string")
    out = pagerank(empty, "src", "dst", n_iter=3)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_minhash_compact_table_guard_case_insensitive(spark, tmp_path):
    """Spark SQL resolves table names case-insensitively, so a
    dst_table differing only in case would still DROP the live index's
    catalog tables — the guard must compare folded."""
    from tap_airbyte_wrapper_spark.functions import index_compact

    with pytest.raises(ValueError, match="NEW table"):
        index_compact(spark, str(tmp_path / "a"), str(tmp_path / "b"),
                      "someidx", "SOMEIDX")


def test_cli_catalog_tolerates_json_nulls(tmp_path, capsys):
    """Catalog emitters write explicit nulls for empty fields; a
    present-but-null metadata/selected must parse, not crash."""
    import json

    from tap_airbyte_wrapper_spark.cli import main

    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({
        "source": "dataset_dir",
        "source_config": {"path": "/root/testdata/sf0.001"},
    }))
    catalog = tmp_path / "catalog.json"
    catalog.write_text(json.dumps({"streams": [
        {"name": "region", "metadata": None, "selected": None},
        {"name": "nation", "metadata": [
            {"breadcrumb": [], "metadata": None}]},
        {"name": "events", "metadata": [
            {"breadcrumb": [],
             "metadata": {"selected": False}}]},
    ]}))
    rc = main(["--config", str(cfg), "--catalog", str(catalog)])
    assert rc == 0
    lines = [json.loads(l) for l in
             capsys.readouterr().out.strip().splitlines()]
    streams = {m.get("stream") for m in lines if m.get("type") == "RECORD"}
    # null selection metadata means selected; events' explicit False
    # deselects
    assert streams == {"region", "nation"}


# ---------------------------------------------------------------------
# distribution_drift + leakage_safe_split (round-6 session additions)
# ---------------------------------------------------------------------

def test_drift_zero_for_identical_distributions(spark):
    from tap_airbyte_wrapper_spark.operators import distribution_drift

    df = spark.range(1000).select(
        (F.col("id") % 100).cast("double").alias("v"))
    out = {r["column"]: r for r in
           distribution_drift(df, df, ["v"], bins=10).collect()}
    assert out["v"]["psi"] == pytest.approx(0.0, abs=1e-12)
    assert out["v"]["n_ref"] == out["v"]["n_cur"] == 1000


def test_drift_detects_shift_and_clamps_out_of_range(spark):
    """A shifted current batch scores high PSI; values beyond the
    reference range clamp into the edge bin (the pile-up IS the
    signal), and a stable second column stays low."""
    from tap_airbyte_wrapper_spark.operators import distribution_drift

    ref = spark.range(1000).select(
        (F.col("id") % 100).cast("double").alias("v"),
        (F.col("id") % 7).cast("double").alias("stable"))
    cur = spark.range(1000).select(
        ((F.col("id") % 100) + 500).cast("double").alias("v"),
        (F.col("id") % 7).cast("double").alias("stable"))
    out = {r["column"]: r for r in distribution_drift(
        ref, cur, ["v", "stable"], bins=10).collect()}
    assert out["v"]["psi"] > 1.0          # everything lands in bin 9
    assert out["stable"]["psi"] == pytest.approx(0.0, abs=1e-12)


def test_drift_ignores_nulls_per_column(spark):
    from tap_airbyte_wrapper_spark.operators import distribution_drift

    ref = spark.createDataFrame(
        [(1.0,), (2.0,), (None,)], "v double")
    cur = spark.createDataFrame(
        [(1.0,), (None,), (None,)], "v double")
    row = distribution_drift(ref, cur, ["v"], bins=4).collect()[0]
    assert row["n_ref"] == 2 and row["n_cur"] == 1


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every near-dup pair lands in ONE split; a plain hash_split on
    the same corpus demonstrably separates at least one pair (that's
    the leak the operator exists to close)."""
    from tap_airbyte_wrapper_spark.functions import (
        hash_split, leakage_safe_split)

    docs = spark.range(200).select(F.col("id").alias("doc_id"))
    # chain pairs (0,1)(2,3)... plus a 4-doc cluster {100..103}
    pairs = [(i, i + 1) for i in range(0, 60, 2)]
    pairs += [(100, 101), (101, 102), (102, 103)]
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")

    out = leakage_safe_split(docs, pdf, "doc_id")
    split_of = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(split_of) == 200
    for a, b in pairs:
        assert split_of[a] == split_of[b], (a, b)
    # transitivity: the 4-doc cluster is one unit
    assert len({split_of[i] for i in (100, 101, 102, 103)}) == 1
    # both splits exist and the fraction is in a sane band
    train = sum(1 for s in split_of.values() if s == "train")
    assert 120 <= train <= 190

    naive = {r["doc_id"]: r["split"]
             for r in hash_split(docs, "doc_id").collect()}
    assert any(naive[a] != naive[b] for a, b in pairs), \
        "corpus too small to demonstrate the leak"


# ---------------------------------------------------------------------
# stream_drift_monitor (round-6 session addition)
# ---------------------------------------------------------------------

def test_stream_drift_monitor_flags_shifted_batch(spark, tmp_path):
    """A batch drawn from the reference distribution scores ~0 PSI; a
    unit-shifted batch trips the alert.  Also pins batch-equivalence:
    the streamed PSI equals the batch operator's on the same data."""
    from tap_airbyte_wrapper_spark.operators import distribution_drift
    from tap_airbyte_wrapper_spark.streaming import (
        reference_profile, stream_drift_monitor)

    ref = spark.range(2000).select(
        (F.col("id") % 100).cast("double").alias("v"))
    prof = reference_profile(ref, ["v"], bins=10)
    assert prof["v"]["n"] == 2000
    assert sum(prof["v"]["p"]) == pytest.approx(1.0)

    src = tmp_path / "src"
    out = str(tmp_path / "out")
    # batch 0: same distribution; batch 1: x100 unit shift
    b1 = spark.range(1000).select(
        (F.col("id") % 100).cast("double").alias("v"))
    b1.coalesce(1).write.mode("append").parquet(str(src))

    def drain(ckpt):
        q = stream_drift_monitor(
            spark.readStream.schema("v double").parquet(str(src)),
            prof, out, checkpoint=str(tmp_path / ckpt))
        q.awaitTermination(120)

    drain("ck")
    b2 = spark.range(1000).select(
        ((F.col("id") % 100) * 100.0).alias("v"))
    b2.coalesce(1).write.mode("append").parquet(str(src))
    drain("ck")

    rows = {r["batch_id"]: r for r in
            spark.read.parquet(f"{out}/_drift").collect()}
    assert rows[0]["psi"] == pytest.approx(0.0, abs=1e-9)
    assert rows[0]["alert"] is False
    assert rows[1]["psi"] > 0.25 and rows[1]["alert"] is True

    batch_psi = {r["column"]: r["psi"] for r in distribution_drift(
        ref, b2, ["v"], bins=10).collect()}
    # same bounds (reference-derived) and same clamped-PSI formula;
    # the monitor rounds to 6 decimals before landing the row
    assert rows[1]["psi"] == pytest.approx(batch_psi["v"], abs=1e-6)

    # no-op re-drain: checkpoint already covers both batches, so a
    # third drain appends nothing (same discipline as the dedup gates)
    n_rows = spark.read.parquet(f"{out}/_drift").count()
    drain("ck")
    assert spark.read.parquet(f"{out}/_drift").count() == n_rows


def test_dedup_keep_best_keeps_highest_score(spark):
    """One survivor per transitive cluster — the max-score one, ties to
    min id; unclustered docs pass through untouched."""
    from tap_airbyte_wrapper_spark.functions import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 20),    # cluster via (1,2),(2,3)
         (4, 5), (5, 5),               # tied cluster -> min id 4
         (9, 99)],                     # unclustered
        "doc_id long, score long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in
                  dedup_keep_best(docs, pairs, "doc_id", "score").collect())
    assert kept == [2, 4, 9]
