"""Structured Streaming incremental sync: availableNow drain, checkpoint
resume (no reprocessing), watermarked windows, session windows."""

import pytest
from pyspark.sql import functions as F

from tap_airbyte_wrapper_spark.sources.files import load_parquet
from tap_airbyte_wrapper_spark.streaming import (
    incremental_sync,
    resume_info,
    run_available_now,
    sessionized,
    stream_source,
    windowed_counts,
)


@pytest.fixture()
def event_batches(spark, sf_dir, tmp_path):
    """events split into two arrival batches, landed as separate files."""
    ev = load_parquet(spark, f"{sf_dir}/events.parquet")
    src = tmp_path / "landing"
    b1 = ev.filter("event_id % 2 = 0")
    b2 = ev.filter("event_id % 2 = 1")
    b1.coalesce(1).write.mode("append").parquet(str(src))
    return ev, b1, b2, str(src)


def test_available_now_drain_and_resume(spark, event_batches, tmp_path):
    ev, b1, b2, src = event_batches
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    stream = stream_source(spark, src, ev.schema)
    assert stream.isStreaming

    q = incremental_sync(stream, sink, ckpt)
    run_available_now(q)
    assert spark.read.parquet(sink).count() == b1.count()

    # second batch lands; a new run drains ONLY the new files
    b2.coalesce(1).write.mode("append").parquet(src)
    q2 = incremental_sync(stream_source(spark, src, ev.schema), sink, ckpt)
    run_available_now(q2)
    out = spark.read.parquet(sink)
    assert out.count() == ev.count()  # no duplicates: checkpoint = bookmark
    assert out.select("event_id").distinct().count() == ev.count()

    info = resume_info(ckpt)
    assert len(info["batches"]) >= 2


def test_windowed_counts_streaming(spark, event_batches, tmp_path):
    ev, b1, _, src = event_batches
    stream = stream_source(spark, src, ev.schema)
    agg = windowed_counts(stream, "ts", ["event_type"], "6 hours",
                          watermark="1 hour")
    q = (
        agg.writeStream.format("memory").queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-finalized windows; with availableNow
    # the final watermark closes all but the last window
    got = spark.sql("SELECT * FROM win_counts")
    assert {"window_start", "window_end", "event_type", "n", "sum_value"} == set(got.columns)
    batch = (
        b1.groupBy(F.window("ts", "6 hours"), "event_type")
        .count().count()
    )
    assert 0 < got.count() <= batch


def test_sessionized_streaming(spark, event_batches, tmp_path):
    ev, b1, _, src = event_batches
    stream = stream_source(spark, src, ev.schema)
    sess = sessionized(stream, "ts", "user_id", gap="30 minutes")
    q = (
        sess.writeStream.format("memory").queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_s"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sessions")
    assert got.count() > 0
    r = got.first()
    assert r.session_end >= r.session_start
    assert r.n_events >= 1


def test_stateful_running_stats_accumulates_across_runs(spark, event_batches, tmp_path):
    """applyInPandasWithState: per-user lifetime stats; the checkpoint
    carries state so run 2 ACCUMULATES onto run 1 instead of restarting."""
    from tap_airbyte_wrapper_spark.streaming import stateful_running_stats

    ev, b1, b2, src = event_batches
    ckpt = str(tmp_path / "ckpt_state")

    def drain(run_sink):
        def sink_batch(batch_df, _batch_id):
            for r in batch_df.collect():
                run_sink[r.user_id] = r.n_events
        q = (
            stateful_running_stats(stream_source(spark, src, ev.schema))
            .writeStream.foreachBatch(sink_batch)
            .outputMode("update").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run1: dict = {}
    drain(run1)
    b1_counts = {r.user_id: r.cnt for r in
                 b1.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()}
    assert run1 == b1_counts

    b2.coalesce(1).write.mode("append").parquet(src)
    run2: dict = {}
    drain(run2)
    total = {r.user_id: r.cnt for r in
             ev.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()}
    # every user touched by batch 2 must show LIFETIME totals (b1 + b2)
    for uid in run2:
        assert run2[uid] == total[uid], uid
    assert run2  # batch 2 is non-empty


def test_stateful_max_cursor_bookmarks(spark, event_batches, tmp_path):
    from tap_airbyte_wrapper_spark.streaming import stateful_max_cursor

    ev, b1, _, src = event_batches
    recs = stream_source(spark, src, ev.schema).select(
        F.col("event_type").alias("stream"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("cursor"),
    )
    q = (
        stateful_max_cursor(recs)
        .writeStream.format("memory").queryName("bookmarks")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_bm"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r.stream: (r.bookmark, r.n_records)
           for r in spark.sql("SELECT * FROM bookmarks").collect()}
    want = {r.event_type: (r.bm, r.n) for r in b1.groupBy("event_type").agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("bm"),
        F.count("*").alias("n")).collect()}
    assert got == want


def test_deduped_stream_within_watermark(spark, event_batches, tmp_path):
    """At-least-once source -> exactly-once sink: replaying the same file
    twice must not duplicate event_ids."""
    from tap_airbyte_wrapper_spark.streaming import deduped_stream

    ev, b1, _, src = event_batches
    # land batch 1 AGAIN: same rows, new file -> duplicate delivery
    b1.coalesce(1).write.mode("append").parquet(src)

    stream = stream_source(spark, src, ev.schema)
    dedup = deduped_stream(stream, ["event_id"], ts_col="ts",
                           watermark="10 minutes")
    q = (
        dedup.writeStream.format("memory").queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM dedup_sink")
    assert got.count() == b1.count()            # duplicates dropped
    assert got.distinct().count() == b1.count()


def test_stream_interval_join_matches_batch(spark, event_batches, tmp_path):
    """Stream-stream interval join (clicks x errors within 30 min per
    user) must equal the batch range-join answer over the same data."""
    from tap_airbyte_wrapper_spark.streaming import stream_interval_join

    ev, b1, b2, src = event_batches
    b2.coalesce(1).write.mode("append").parquet(src)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts")

    cstream = stream_source(spark, src, ev.schema).filter(
        F.col("event_type") == "click").select("event_id", "user_id", "ts")
    estream = stream_source(spark, src, ev.schema).filter(
        F.col("event_type") == "error").select("event_id", "user_id", "ts")
    joined = stream_interval_join(
        cstream, estream, keys=["user_id"],
        lower="0 seconds", upper="30 minutes", watermark="10 days")
    q = (joined.writeStream.format("memory").queryName("sj")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.event_id, r.r_event_id)
           for r in spark.sql("SELECT * FROM sj").collect()}

    expected = {
        (r.event_id, r.r_event_id)
        for r in clicks.alias("c").join(
            errors.select(
                F.col("user_id"),
                F.col("event_id").alias("r_event_id"),
                F.col("ts").alias("r_ts")),
            on="user_id")
        .filter((F.col("r_ts") >= F.col("ts"))
                & (F.col("r_ts") <= F.col("ts") + F.expr("INTERVAL 30 minutes")))
        .collect()
    }
    assert got == expected
    assert len(got) > 0


def test_stream_interval_join_left_prefix_collision(spark, event_batches):
    """A LEFT column whose name already starts with right_prefix (here
    'r_tag' vs prefix 'r_') must appear exactly once, and a right column
    named 'tag' must still come through as 'r_tag'-prefixed without an
    ambiguous-column error (round-4 advice: the projection used to match
    joined.columns by startswith)."""
    from tap_airbyte_wrapper_spark.streaming import stream_interval_join

    ev, _, _, src = event_batches
    left = stream_source(spark, src, ev.schema).select(
        "event_id", "user_id", "ts",
        F.lit("L").alias("r_tag"))
    right = stream_source(spark, src, ev.schema).select(
        "event_id", "user_id", "ts",
        F.lit("R").alias("tag"))
    joined = stream_interval_join(
        left, right, keys=["user_id"],
        lower="0 seconds", upper="5 minutes", watermark="10 days")
    # left cols + prefixed right payload, each exactly once
    assert joined.columns == [
        "event_id", "user_id", "ts", "r_tag", "r_event_id", "r_ts", "r_tag"]
    # the two r_tag outputs are DIFFERENT attributes (left's literal vs
    # right's prefixed 'tag'); materialize to prove no ambiguity raise
    q = (joined.writeStream.format("memory").queryName("sj_pfx")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sj_pfx").limit(5).collect()
    assert all(r[3] == "L" and r[6] == "R" for r in rows)


def test_stateful_anomalies_matches_batch(spark, sf_dir, tmp_path):
    """Streaming z-score anomalies with the ring buffer carried across
    TWO checkpointed runs reproduce the batch detect_anomalies answer
    exactly when events arrive in time order."""
    from tap_airbyte_wrapper_spark.operators import detect_anomalies
    from tap_airbyte_wrapper_spark.streaming import stateful_anomalies

    ev = load_parquet(spark, f"{sf_dir}/events.parquet")
    # time-ordered arrival: first-half timestamps land first
    tcut = ev.select(
        F.expr("percentile_approx(cast(ts as timestamp), 0.5)").alias("m")
    ).collect()[0][0]
    b1 = ev.filter(F.col("ts").cast("timestamp") <= F.lit(tcut))
    b2 = ev.filter(F.col("ts").cast("timestamp") > F.lit(tcut))
    src = str(tmp_path / "landing_anom")
    ckpt = str(tmp_path / "ckpt_anom")
    got: dict = {}

    def drain():
        def sink_batch(batch_df, _batch_id):
            for r in batch_df.collect():
                got[r[1]] = (r[0], round(r.zscore, 4))
        q = (
            stateful_anomalies(
                stream_source(spark, src, ev.schema),
                window_rows=5, threshold=2.0, min_baseline=3)
            .writeStream.foreachBatch(sink_batch)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    b1.coalesce(1).write.mode("append").parquet(src)
    drain()
    n_after_b1 = len(got)
    b2.coalesce(1).write.mode("append").parquet(src)
    drain()

    expect = {
        r.event_id: (r.user_id, round(r.zscore, 4))
        for r in detect_anomalies(
            ev, "user_id", ["ts", "event_id"], "value",
            window_rows=5, threshold=2.0, min_baseline=3).collect()
    }
    assert got == expect
    assert 0 < n_after_b1 < len(got)   # both runs contributed


def test_stateful_heavy_hitters_bounded_state(spark, tmp_path):
    """MG sketch state across micro-batches: hot values survive two
    drains with the lower-bound/guarantee contract; cold values can be
    evicted but state never exceeds the capacity budget."""
    from collections import Counter

    from tap_airbyte_wrapper_spark.streaming import (
        stateful_heavy_hitters,
        stream_source,
    )

    src = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    b1 = spark.createDataFrame(
        [("hot",)] * 60 + [(f"cold{i}",) for i in range(40)], "v string")
    b1.coalesce(1).write.mode("append").parquet(src)

    def drain():
        out: dict = {}

        def sink_batch(batch_df, _bid):
            for r in batch_df.collect():
                out[r["value"]] = (r["count_lb"], r["bucket_total"])

        stream = stream_source(spark, src, b1.schema)
        hh = stateful_heavy_hitters(
            stream, "v", n_buckets=2, capacity_per_bucket=8)
        q = (hh.writeStream.foreachBatch(sink_batch)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return out

    got1 = drain()
    assert "hot" in got1
    lb, tot = got1["hot"]
    assert lb <= 60 <= lb + tot // 8

    # batch 2: more hot + new cold — state carries across the restart
    b2 = spark.createDataFrame(
        [("hot",)] * 30 + [(f"c2_{i}",) for i in range(30)], "v string")
    b2.coalesce(1).write.mode("append").parquet(src)
    got2 = drain()
    true = Counter(["hot"] * 90)
    lb2, tot2 = got2["hot"]
    assert lb2 <= true["hot"] <= lb2 + tot2 // 8
    assert lb2 > lb  # the sketch kept counting across runs
    # bounded state: no bucket can report more than capacity candidates
    assert len(got2) <= 2 * 8  # bounded: <= n_buckets x capacity candidates


def test_stream_near_dup_gate_across_batches(spark, tmp_path):
    """Arriving batches dedup against everything already landed:
    within-batch dups keep the min id, cross-batch dups are dropped,
    unique docs always survive — and a re-run of the drained stream
    (new checkpoint, same index) keeps the output stable instead of
    re-flagging survivors as duplicates of themselves."""
    from pyspark.sql import Row
    from tap_airbyte_wrapper_spark.functions import minhash_index_write
    from tap_airbyte_wrapper_spark.streaming import stream_near_dup_gate

    long_a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(12))
    long_b = " ".join(f"delta{i} epsi{i} zeta{i}" for i in range(12))
    long_c = " ".join(f"etaa{i} thet{i} iota{i}" for i in range(12))
    src = tmp_path / "landing"
    src.mkdir()
    idx = str(tmp_path / "index")
    out = str(tmp_path / "clean")

    schema = "doc_id long, text string"
    # bootstrap an empty index with the sketch parameters
    minhash_index_write(
        spark.createDataFrame([], schema), "doc_id", "text", "sngd", idx,
        num_hashes=64, shingle_len=3, bands=16, n_buckets=4)

    b1 = spark.createDataFrame(
        [Row(doc_id=1, text=long_a),
         Row(doc_id=2, text=long_a),          # within-batch dup of 1
         Row(doc_id=3, text=long_b)], schema)
    b1.coalesce(1).write.mode("append").parquet(str(src))

    def drain(ckpt):
        q = stream_near_dup_gate(
            spark.readStream.schema(b1.schema).parquet(str(src)),
            "doc_id", "text", "sngd", idx, out,
            checkpoint=str(tmp_path / ckpt), threshold=0.6)
        q.awaitTermination(120)

    drain("ck1")
    kept1 = sorted(r["doc_id"]
                   for r in spark.read.parquet(out).collect())
    assert kept1 == [1, 3]

    b2 = spark.createDataFrame(
        [Row(doc_id=4, text=long_b),          # cross-batch dup of 3
         Row(doc_id=5, text=long_c)], schema)
    b2.coalesce(1).write.mode("append").parquet(str(src))
    drain("ck1")
    kept2 = sorted(r["doc_id"]
                   for r in spark.read.parquet(out).collect())
    assert kept2 == [1, 3, 5]

    # same-checkpoint re-drain with no new data is a no-op
    drain("ck1")
    kept3 = sorted(r["doc_id"]
                   for r in spark.read.parquet(out).collect())
    assert kept3 == [1, 3, 5]

    # crash-replay property at the probe level: a batch whose
    # survivors are ALREADY in the index matches itself with
    # id_a == id_b — the self-hit the gate excludes — while its real
    # duplicate (4 ~ 3) still reports, so a replayed batch keeps
    # exactly the docs the first run kept
    from tap_airbyte_wrapper_spark.functions import minhash_dedup_delta

    reprobe = minhash_dedup_delta(
        b2, "sngd", idx, "doc_id", "text", threshold=0.6)
    hits = {(r["id_a"], r["id_b"]) for r in reprobe.collect()
            if r["kind"] == "corpus"}
    assert (5, 5) in hits            # self-match, excluded by the gate
    assert (4, 3) in hits            # the real dup, still dropped


def test_stream_embedding_gate_ignores_deleted_vectors(spark, tmp_path):
    """The embedding gate probes only LIVE index rows: a vector removed
    with ``index_delete``, or the old generation of a replaced one
    (deleted, then re-appended with a new vector), no longer blocks an
    arriving document that carries it."""
    import numpy as np

    from tap_airbyte_wrapper_spark.functions import (
        index_delete, ivf_append, ivf_build)
    from tap_airbyte_wrapper_spark.streaming import stream_embedding_gate

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(42, 16)).tolist()
    schema = "vec_id long, embedding array<double>"
    idx = str(tmp_path / "ivf")
    ivf_build(spark.createDataFrame(list(enumerate(vecs[:40])), schema),
              n_clusters=4, path=idx)
    index_delete(spark, idx, spark.createDataFrame([(7,)], "vec_id long"))
    index_delete(spark, idx, spark.createDataFrame([(8,)], "vec_id long"))
    ivf_append(spark, idx, spark.createDataFrame([(8, vecs[40])], schema))

    src = tmp_path / "landing"
    arriving = spark.createDataFrame(
        [(100, vecs[7]),        # the deleted vector
         (101, vecs[8]),        # the replaced-away vector
         (102, vecs[40])],      # a copy of 8's live vector
        schema)
    arriving.coalesce(1).write.parquet(str(src))
    out = str(tmp_path / "clean")
    stream_embedding_gate(
        spark.readStream.schema(arriving.schema).parquet(str(src)),
        "vec_id", "embedding", idx, out,
        checkpoint=str(tmp_path / "ck"), threshold=0.99,
        n_probe=4).awaitTermination(120)
    assert sorted(r["vec_id"] for r in
                  spark.read.parquet(out).collect()) == [100, 101]


def test_stream_exact_dedup_gate_across_batches_and_replay(spark, tmp_path):
    """Exact gate: within-batch dups keep the min id, cross-batch
    byte-identical (after normalization) repeats drop, fresh docs
    survive; a re-drain with a NEW checkpoint (at-least-once replay of
    every batch) reproduces the same survivor set because survivors
    self-match on their indexed (fp, id) row."""
    from pyspark.sql import Row
    from tap_airbyte_wrapper_spark.functions.dedup import (
        fingerprint_index_write,
    )
    from tap_airbyte_wrapper_spark.streaming import stream_exact_dedup_gate

    src = tmp_path / "landing"
    src.mkdir()
    idx = str(tmp_path / "fpindex")
    out = str(tmp_path / "clean")
    schema = "doc_id long, text string"

    fingerprint_index_write(
        spark.createDataFrame([], schema), "sedg", idx,
        "doc_id", "text", n_buckets=4)

    b1 = spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox"),
         Row(doc_id=2, text="The  quick   BROWN fox"),  # normalized dup of 1
         Row(doc_id=3, text="a wholly different doc")], schema)
    b1.coalesce(1).write.mode("append").parquet(str(src))

    def drain(ckpt):
        q = stream_exact_dedup_gate(
            spark.readStream.schema(b1.schema).parquet(str(src)),
            "doc_id", "text", "sedg", idx, out,
            checkpoint=str(tmp_path / ckpt))
        q.awaitTermination(120)

    drain("ck1")
    kept1 = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept1 == [1, 3]

    b2 = spark.createDataFrame(
        [Row(doc_id=4, text="the QUICK brown fox"),   # cross-batch dup of 1
         Row(doc_id=5, text="brand new content here")], schema)
    b2.coalesce(1).write.mode("append").parquet(str(src))
    drain("ck1")
    kept2 = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept2 == [1, 3, 5]

    # no-op re-drain: nothing new at the source -> output unchanged
    drain("ck1")
    kept3 = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept3 == [1, 3, 5]

    # at-least-once batch replay, delta-level: re-probing an already-
    # appended batch keeps exactly the first run's survivors (each
    # self-matches its own (fp, id) row; the losers still hit the
    # survivor's row) — the foreachBatch re-run lands the same rows
    from tap_airbyte_wrapper_spark.functions.dedup import (
        fingerprint_dedup_delta,
    )

    replay = fingerprint_dedup_delta(b2, "sedg", "doc_id", "text")
    assert sorted(r["doc_id"] for r in replay.collect()) == [5]
    replay1 = fingerprint_dedup_delta(b1, "sedg", "doc_id", "text")
    assert sorted(r["doc_id"] for r in replay1.collect()) == [1, 3]


def test_stream_dsir_gate_filters_by_importance(spark, tmp_path):
    """DSIR admission gate: batches score against the persisted model
    (fit offline) and only target-like docs land, carrying their logw;
    a re-drain with a fresh checkpoint reproduces identical output
    (stateless gate — scores are a pure function of the batch)."""
    from pyspark.sql import Row
    from tap_airbyte_wrapper_spark.functions import dsir_fit, save_dsir
    from tap_airbyte_wrapper_spark.streaming import stream_dsir_gate

    schema = "doc_id long, text string"
    pool = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma alpha") for i in range(10)]
        + [Row(doc_id=100 + i, text="xx yy zz ww") for i in range(10)],
        schema)
    target = pool.filter(F.col("doc_id") < 10)
    save_dsir(dsir_fit(pool, target, buckets=256), spark,
              str(tmp_path / "model"))

    src = tmp_path / "in"
    src.mkdir()
    batch = spark.createDataFrame(
        [Row(doc_id=500, text="alpha beta gamma"),      # target-like
         Row(doc_id=501, text="xx yy zz"),              # pool-shaped
         Row(doc_id=502, text="alpha beta alpha beta")], schema)
    batch.coalesce(1).write.mode("append").parquet(str(src))
    out = str(tmp_path / "kept")

    def drain(ckpt):
        q = stream_dsir_gate(
            spark.readStream.schema(batch.schema).parquet(str(src)),
            "doc_id", "text", str(tmp_path / "model"), min_logw=0.0,
            out_path=out, checkpoint=str(tmp_path / ckpt))
        q.awaitTermination(120)

    drain("ck1")
    kept = {r.doc_id: r.logw for r in spark.read.parquet(out).collect()}
    assert 501 not in kept
    assert set(kept) == {500, 502} and all(v >= 0.0 for v in kept.values())
    assert "logw" in spark.read.parquet(out).columns
    # stateless replay: fresh checkpoint -> byte-identical survivors
    drain("ck2")
    kept2 = {r.doc_id: r.logw for r in spark.read.parquet(out).collect()}
    assert kept2 == kept


def test_stream_reservoir_sample_matches_batch_bottomk(spark, tmp_path):
    """The persisted reservoir after each drain equals bottomk_sample
    over the union of all batches delivered so far (the KMV merge
    property), a no-op re-drain leaves it unchanged, and a fresh-
    checkpoint replay of every batch reproduces it (fold idempotence)."""
    from pyspark.sql import Row
    from tap_airbyte_wrapper_spark.functions import bottomk_sample
    from tap_airbyte_wrapper_spark.streaming import (
        read_reservoir,
        stream_reservoir_sample,
    )

    src = tmp_path / "landing"
    src.mkdir()
    out = str(tmp_path / "reservoir")
    schema = "doc_id long, text string"

    def drain(ckpt):
        q = stream_reservoir_sample(
            spark.readStream.schema(schema).parquet(str(src)),
            "doc_id", k=5, out_path=out,
            checkpoint=str(tmp_path / ckpt), salt="rz")
        q.awaitTermination(120)

    b1 = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(10)], schema)
    b1.coalesce(1).write.mode("append").parquet(str(src))
    drain("ck1")
    got1 = sorted(r["doc_id"]
                  for r in read_reservoir(spark, out).collect())
    want1 = sorted(r["doc_id"] for r in bottomk_sample(
        b1, "doc_id", k=5, salt="rz").collect())
    assert got1 == want1 and len(got1) == 5

    b2 = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(10, 25)], schema)
    b2.coalesce(1).write.mode("append").parquet(str(src))
    drain("ck1")
    got2 = sorted(r["doc_id"]
                  for r in read_reservoir(spark, out).collect())
    want2 = sorted(r["doc_id"] for r in bottomk_sample(
        b1.unionByName(b2), "doc_id", k=5, salt="rz").collect())
    assert got2 == want2
    # the sample actually rotated membership as the corpus grew, or at
    # least is a valid bottom-k of the larger union (sanity: subset of
    # all ids, size k)
    assert len(got2) == 5

    # no-op re-drain: nothing new at the source
    drain("ck1")
    assert sorted(r["doc_id"]
                  for r in read_reservoir(spark, out).collect()) == want2

    # fresh-checkpoint replay of EVERY batch: the fold re-runs from the
    # current snapshot and must land the identical sample
    drain("ck_replay")
    assert sorted(r["doc_id"]
                  for r in read_reservoir(spark, out).collect()) == want2

    # gate stats recorded one row per processed batch
    stats = spark.read.parquet(out + "/_gate_stats")
    assert stats.count() >= 2


def test_stream_heavy_hitters_exact_when_capacity_suffices(spark, tmp_path):
    """Large capacity -> no eviction ever -> sketch counts are EXACT
    stream totals; a fresh-checkpoint re-drain (same batch boundaries)
    reproduces the identical snapshot via the predecessor pointers."""
    from pyspark.sql import Row
    from tap_airbyte_wrapper_spark.streaming import (
        read_heavy_hitters,
        stream_heavy_hitters,
    )

    src = tmp_path / "landing"
    src.mkdir()
    out = str(tmp_path / "hh")
    schema = "doc_id long, text string"

    def drain(ckpt):
        q = stream_heavy_hitters(
            spark.readStream.schema(schema).parquet(str(src)),
            "text", out, checkpoint=str(tmp_path / ckpt), capacity=100)
        q.awaitTermination(120)

    b1 = spark.createDataFrame(
        [Row(doc_id=1, text="apple apple banana"),
         Row(doc_id=2, text="apple cherry")], schema)
    b1.coalesce(1).write.mode("append").parquet(str(src))
    drain("ck1")
    got1 = {r.word: (r.cnt_min, r.cnt_max) for r in
            read_heavy_hitters(spark, out, min_count=1).collect()}
    assert got1["apple"] == (3, 3) and got1["banana"] == (1, 1)

    b2 = spark.createDataFrame(
        [Row(doc_id=3, text="banana banana banana durian")], schema)
    b2.coalesce(1).write.mode("append").parquet(str(src))
    drain("ck1")
    got2 = {r.word: (r.cnt_min, r.cnt_max) for r in
            read_heavy_hitters(spark, out, min_count=2).collect()}
    assert got2 == {"apple": (3, 3), "banana": (4, 4)}

    # no-op re-drain: nothing new
    drain("ck1")
    assert {r.word: (r.cnt_min, r.cnt_max) for r in
            read_heavy_hitters(spark, out, min_count=2).collect()} == got2

    # fresh checkpoint: every batch re-folds through its recorded
    # predecessor -> same snapshot, no double counting
    drain("ck_replay")
    assert {r.word: (r.cnt_min, r.cnt_max) for r in
            read_heavy_hitters(spark, out, min_count=2).collect()} == got2


def test_stream_heavy_hitters_bounds_under_eviction(spark, tmp_path):
    """Tiny capacity forces evictions: every surviving count obeys
    sketch <= true <= sketch + N/capacity, every token with true count
    above the threshold surfaces in the cnt_max-filtered superset, and
    an at-the-noise-floor threshold raises."""
    from collections import Counter

    import pytest as _pytest
    from pyspark.sql import Row
    from tap_airbyte_wrapper_spark.streaming import (
        read_heavy_hitters,
        stream_heavy_hitters,
    )

    src = tmp_path / "landing"
    src.mkdir()
    out = str(tmp_path / "hh")
    schema = "doc_id long, text string"
    rows1 = [Row(doc_id=i, text="hot " * 8 + f"cold{i} cool{i % 9}")
             for i in range(30)]
    rows2 = [Row(doc_id=100 + i, text="hot warm warm " + f"cold{100 + i}")
             for i in range(30)]
    truth = Counter()
    for r in rows1 + rows2:
        truth.update(r.text.split())
    n_total = sum(truth.values())

    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("append").parquet(str(src))
    q = stream_heavy_hitters(
        spark.readStream.schema(schema).parquet(str(src)),
        "text", out, checkpoint=str(tmp_path / "ck"), capacity=16)
    q.awaitTermination(120)
    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.mode("append").parquet(str(src))
    q = stream_heavy_hitters(
        spark.readStream.schema(schema).parquet(str(src)),
        "text", out, checkpoint=str(tmp_path / "ck"), capacity=16)
    q.awaitTermination(120)

    err = n_total // 16
    thresh = err + 1
    got = {r.word: (r.cnt_min, r.cnt_max) for r in
           read_heavy_hitters(spark, out, min_count=thresh).collect()}
    for w, (lo, hi) in got.items():
        assert lo <= truth[w] <= hi, (w, lo, truth[w], hi)
    # completeness: every true heavy hitter above the threshold appears
    for w, c in truth.items():
        if c >= thresh:
            assert w in got, (w, c)
    with _pytest.raises(ValueError, match="noise floor|N/capacity"):
        read_heavy_hitters(spark, out, min_count=1)


def test_stream_quality_gate_filters_and_replays(spark, tmp_path):
    """Gopher gate on a stream: failing docs (word-salad / too short)
    drop, passing docs land with their rule struct; a re-drain with a
    fresh checkpoint reproduces the same survivors (stateless gate)."""
    from pyspark.sql import Row
    from tap_airbyte_wrapper_spark.streaming import stream_quality_gate

    good = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the field with steady pace and clear "
            "intent while the farmer watches from his porch in the "
            "early morning light thinking about the long day of work "
            "that lies ahead for everyone on this farm ") * 2
    src = tmp_path / "landing"
    src.mkdir()
    out = str(tmp_path / "clean")
    schema = "doc_id long, text string"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=good),
         Row(doc_id=2, text="too short"),
         Row(doc_id=3, text="zz qq " * 60)],   # no stopwords, no alpha ratio issue but fails stopword rule
        schema)
    df.coalesce(1).write.mode("append").parquet(str(src))

    def drain(ckpt):
        q = stream_quality_gate(
            spark.readStream.schema(schema).parquet(str(src)),
            "doc_id", "text", out, checkpoint=str(tmp_path / ckpt))
        q.awaitTermination(120)

    drain("ck1")
    kept = spark.read.parquet(out)
    assert sorted(r.doc_id for r in kept.collect()) == [1]
    row = kept.collect()[0]
    assert row.gopher["pass"] and row.gopher["words_ok"]
    # batch-side agreement
    from tap_airbyte_wrapper_spark.functions import gopher_rules
    batch_pass = sorted(
        r.doc_id for r in df.withColumn("g", gopher_rules(F.col("text")))
        .filter(F.col("g.pass")).collect())
    assert batch_pass == [1]
    # stateless replay: fresh checkpoint, same survivors
    drain("ck2")
    assert sorted(r.doc_id
                  for r in spark.read.parquet(out).collect()) == [1]
    stats = spark.read.parquet(out + "/_gate_stats")
    assert stats.count() >= 1


def test_streaming_gate_chain_end_to_end(spark, tmp_path):
    """The composed ingest pipeline, gate by gate over the same batch
    flow a production stream would run: Gopher quality gate -> exact
    dedup gate -> reservoir sample, each stage reading the previous
    stage's landed output as its stream.  Checks the final corpus and
    the sample both reflect ALL upstream drops."""
    from pyspark.sql import Row
    from tap_airbyte_wrapper_spark.functions.dedup import (
        fingerprint_index_write,
    )
    from tap_airbyte_wrapper_spark.streaming import (
        read_reservoir,
        stream_exact_dedup_gate,
        stream_quality_gate,
        stream_reservoir_sample,
    )

    good = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the field with steady pace and clear "
            "intent while the farmer watches from his porch in the "
            "early morning light thinking about the long day of work "
            "ahead for everyone on this modest farm near the river ") * 2
    schema = "doc_id long, text string"
    src = tmp_path / "landing"
    src.mkdir()
    q_out = str(tmp_path / "q_clean")
    d_out = str(tmp_path / "d_clean")
    r_out = str(tmp_path / "sample")
    idx = str(tmp_path / "fpidx")
    fingerprint_index_write(
        spark.createDataFrame([], schema), "chain_fp", idx,
        "doc_id", "text", n_buckets=4)

    rows = [Row(doc_id=1, text=good),
            Row(doc_id=2, text="too short"),             # quality drop
            Row(doc_id=3, text=good.upper()),            # exact dup of 1
            Row(doc_id=4, text=good + " distinct tail words here")]
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("append").parquet(str(src))

    stream_quality_gate(
        spark.readStream.schema(schema).parquet(str(src)),
        "doc_id", "text", q_out,
        checkpoint=str(tmp_path / "ck_q")).awaitTermination(120)
    stream_exact_dedup_gate(
        spark.readStream.schema(
            spark.read.parquet(q_out).schema).parquet(q_out),
        "doc_id", "text", "chain_fp", idx, d_out,
        checkpoint=str(tmp_path / "ck_d")).awaitTermination(120)
    stream_reservoir_sample(
        spark.readStream.schema(
            spark.read.parquet(d_out).schema).parquet(d_out),
        "doc_id", k=10, out_path=r_out,
        checkpoint=str(tmp_path / "ck_r")).awaitTermination(120)

    corpus = sorted(r.doc_id for r in spark.read.parquet(d_out).collect())
    assert corpus == [1, 4]          # 2 failed quality, 3 lost dedup
    sample = sorted(r.doc_id
                    for r in read_reservoir(spark, r_out).collect())
    assert sample == [1, 4]          # k > corpus: the sample IS the corpus


def test_stream_embedding_drift_detects_shift(spark, tmp_path):
    """No-drift batches score ~0 against the frozen reference mean; a
    shifted batch scores ~ the squared shift and trips the alert; a
    fresh-checkpoint replay appends identical rows (stateless)."""
    from pyspark.sql import Row
    from tap_airbyte_wrapper_spark.streaming import (
        embedding_reference_mean,
        stream_embedding_drift,
    )

    schema = "vec_id long, embedding array<float>"
    base = [(i, [float(i % 2), 1.0]) for i in range(40)]   # mean (.5, 1)
    ref = embedding_reference_mean(
        spark.createDataFrame(base, schema))
    assert ref == pytest.approx([0.5, 1.0])

    src = tmp_path / "landing"
    src.mkdir()
    out = str(tmp_path / "mon")

    def drain(ckpt):
        q = stream_embedding_drift(
            spark.readStream.schema(schema).parquet(str(src)),
            "embedding", ref, out, checkpoint=str(tmp_path / ckpt),
            alert_threshold=0.5)
        q.awaitTermination(120)

    spark.createDataFrame(base, schema).coalesce(1) \
        .write.mode("append").parquet(str(src))
    drain("ck1")
    shifted = [(100 + i, [float(i % 2) + 2.0, 1.0]) for i in range(40)]
    spark.createDataFrame(shifted, schema).coalesce(1) \
        .write.mode("append").parquet(str(src))
    drain("ck1")

    rows = {r.batch_id: r for r in
            spark.read.parquet(out + "/_emb_drift").collect()}
    assert rows[0].mmd2 == pytest.approx(0.0, abs=1e-6)
    assert not rows[0].alert
    assert rows[1].mmd2 == pytest.approx(4.0, abs=1e-5)   # shift 2 => 4
    assert rows[1].alert and rows[1].dim == 2 and rows[1].n_batch == 40

    # no-op re-drain (same checkpoint, nothing new): no extra rows
    n_rows = spark.read.parquet(out + "/_emb_drift").count()
    drain("ck1")
    assert spark.read.parquet(out + "/_emb_drift").count() == n_rows
    # fresh checkpoint re-batches ALL files into one batch — scores are
    # per-batch by design, so the combined batch reports the combined
    # mean's drift (shift averaged over both halves: (0.5+2.5)/2-0.5=1)
    drain("ck2")
    combined = [r for r in spark.read.parquet(out + "/_emb_drift")
                .collect() if r.n_batch == 80]
    assert len(combined) == 1
    assert combined[0].mmd2 == pytest.approx(1.0, abs=1e-5)


def _cache_is_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("gate", ["quality", "exact_dedup"])
def test_gate_failing_write_releases_batch_caches(spark, tmp_path, gate):
    """A gate batch whose survivor write fails kills the query, and
    neither the batch nor its survivors stay cached afterwards (both
    are released in the gate skeleton's ``finally``)."""
    from tap_airbyte_wrapper_spark.functions.dedup import (
        fingerprint_index_write,
    )
    from tap_airbyte_wrapper_spark.streaming import (
        stream_exact_dedup_gate,
        stream_quality_gate,
    )

    schema = "doc_id long, text string"
    src = tmp_path / "landing"
    spark.createDataFrame(
        [(1, "the quick brown fox " * 20), (2, "too short")], schema
    ).coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = tmp_path / "clean"
    out.write_text("a file where the batch directory must go")
    ckpt = str(tmp_path / "ck")
    spark.catalog.clearCache()
    assert _cache_is_empty(spark)
    if gate == "quality":
        q = stream_quality_gate(stream, "doc_id", "text", str(out), ckpt)
    else:
        idx = str(tmp_path / "fpindex")
        fingerprint_index_write(spark.createDataFrame([], schema), "gleak",
                                idx, "doc_id", "text", n_buckets=2)
        q = stream_exact_dedup_gate(stream, "doc_id", "text", "gleak", idx,
                                    str(out), ckpt)
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert q.exception() is not None
    assert _cache_is_empty(spark)
