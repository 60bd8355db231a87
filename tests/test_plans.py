"""Physical-plan assertions: the fleet must not only be correct, it must
produce the plans a 100 TB cluster needs — filters pushed to the parquet
scan, columns pruned, small dims broadcast, top-k without a global sort,
no accidental cartesian products, whole-stage codegen in the hot paths.
"""

import io
from contextlib import redirect_stdout

import pytest

from tap_airbyte_wrapper_spark.plans import QUERIES


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    cache = {}

    def get(name):
        if name not in cache:
            cache[name] = plan_of(QUERIES[name](spark, sf_dir))
        return cache[name]

    return get


def test_q1_filter_pushed_and_columns_pruned(plans):
    p = plans("q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # only the 7 needed columns reach the scan — not all 11
    read = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_partkey" not in read and "l_suppkey" not in read
    assert "l_quantity" in read and "l_returnflag" in read


def test_q6_all_predicates_pushed(plans):
    p = plans("q6_forecast_revenue")
    for pushed in ["GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
                   "GreaterThanOrEqual(l_discount,0.05)",
                   "LessThan(l_quantity,24.0)"]:
        assert pushed in p, f"missing pushdown {pushed}\n{p}"
    read = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" not in read and "l_orderkey" not in read


def test_q3_broadcasts_dims(plans):
    p = plans("q3_shipping_priority")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p  # top-10 without global sort
    assert "CartesianProduct" not in p


def test_q5_snowflake_all_dims_broadcast(plans):
    p = plans("q5_local_supplier_volume")
    # every dim join is broadcast; the only shuffle join is fact-fact
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q17_decorrelated_with_broadcast(plans):
    p = plans("q17_small_quantity_revenue")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_top10_uses_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans("top10_orders")


def test_incremental_cursor_pushed_to_scan(plans):
    p = plans("incremental_events")
    assert "PushedFilters" in p and "GreaterThan(ts" in p


def test_whole_stage_codegen_in_agg_path(spark, sf_dir, plans):
    # AQE defers codegen planning to runtime; flip it off to see the spans
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = QUERIES["q1_pricing_summary"](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("codegen")
        m = buf.getvalue().splitlines()[0]
        assert "WholeStageCodegen subtrees" in m
        assert not m.startswith("Found 0"), m
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "HashAggregate" in plans("q1_pricing_summary")


def test_exact_distinct_partial_agg(plans):
    p = plans("distinct_users")
    # two-phase distinct: partial_count(distinct ...) shape, no explode
    assert "HashAggregate" in p


def test_no_accidental_cartesian_anywhere(spark, sf_dir):
    # cross-join-by-design queries (brute-force/LSH knn score a broadcast
    # query set against the corpus) are exempt; everything else must have
    # a real join key
    exempt = {"knn_bruteforce", "knn_lsh", "embedding_near_dup"}
    offenders = []
    for name, fn in QUERIES.items():
        if name in exempt:
            continue
        p = plan_of(fn(spark, sf_dir))
        if "CartesianProduct" in p:
            offenders.append(name)
    assert not offenders, offenders


def test_semi_anti_join_shapes(plans):
    assert "LeftSemi" in plans("customers_with_orders")
    assert "LeftAnti" in plans("customers_without_orders")


def test_incremental_mapped_pushes_both_predicates(plans):
    """Cursor predicate AND stream-map filter both reach the parquet scan."""
    p = plans("incremental_mapped")
    assert "GreaterThan(ts" in p
    assert "Not(EqualTo(event_type,error))" in p


def test_partition_pruning(spark, sf_dir, tmp_path):
    """Hive-style partition layout: an equality filter on the partition
    column must become a PartitionFilter (directories skipped at planning
    time), not a data filter."""
    from pyspark.sql import functions as F
    from tap_airbyte_wrapper_spark.sources.files import load_parquet

    ev = load_parquet(spark, f"{sf_dir}/events.parquet").drop("ts")
    d = str(tmp_path / "events_part")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(d)
    p = plan_of(spark.read.parquet(d).filter(F.col("event_type") == "click"))
    assert "PartitionFilters: [isnotnull(event_type" in p
    assert "(event_type" in p.split("PartitionFilters:")[1].splitlines()[0]


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    """Bucketed tables co-locate join keys at WRITE time: the join plans
    as a SortMergeJoin with ZERO Exchange operators — the bucketing story
    for repeated 100 TB fact-fact joins."""
    from pyspark.sql import functions as F
    from tap_airbyte_wrapper_spark.sources.files import load_parquet

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_parquet(spark, f"{sf_dir}/orders.parquet").drop("o_orderdate")
        li = load_parquet(spark, f"{sf_dir}/lineitem.parquet").drop("l_shipdate")
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey") \
            .mode("overwrite").saveAsTable("tb_orders")
        li.write.bucketBy(8, "l_orderkey").mode("overwrite") \
            .saveAsTable("tb_lineitem")
        j = spark.table("tb_orders").join(
            spark.table("tb_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"))
        p = plan_of(j)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p       # co-located: no shuffle at all
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS tb_orders")
        spark.sql("DROP TABLE IF EXISTS tb_lineitem")


def test_aqe_splits_skewed_join_at_runtime(spark):
    """AQE's runtime skew splitter is the first line of defense before
    manual salting: a hot key's oversized shuffle partition is split into
    multiple tasks, visible as SortMergeJoin(skew=true) in the FINAL
    adaptive plan (thresholds lowered to trigger at test scale)."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        skewed = spark.range(100000).select(
            F.when(F.col("id") % 100 < 99, F.lit(1)).otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id")).alias("v"))
        other = spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = skewed.join(other, "k")
        assert len(j.collect()) == 99002
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_funnel_joins_all_broadcast(plans):
    """Per-user frontiers are explicitly broadcast — a shuffled join on
    the frontier would resort the full event scan three times."""
    p = plans("funnel_conversion")
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 3


def test_merge_upsert_no_join_one_exchange(plans):
    """CDC apply must stay union + one pk-shuffle window — a join
    formulation executes the base scan twice.  Each union leg writes
    its own map-side Exchange into the single shuffle read, so <= 2
    Exchange nodes = one logical shuffle."""
    p = plans("merge_upsert_orders")
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert p.count("Exchange") <= 2
    assert "Union" in p and p.count("Window (") == 1
    # rank-limit pushdown: map-side top-1 per key BEFORE the shuffle
    assert "WindowGroupLimit" in p


def test_tfidf_scalar_count_is_broadcast(plans):
    """n_groups arrives as a one-row broadcast, never a driver collect;
    the vocabulary join broadcasts the (small) group-frequency side."""
    p = plans("tfidf_terms_per_source")
    assert "BroadcastNestedLoopJoin" in p        # 1-row n_groups
    assert "CollectLimit" not in p


def test_retention_cohort_broadcast(plans):
    p = plans("weekly_retention")
    assert "BroadcastHashJoin" in p


def test_round5_window_entry_plan_shapes(plans):
    """Plan locks for the round-5 driver-window entries."""
    # boilerplate: the bad-unit set broadcasts into a LEFT ANTI probe
    p = plans("boilerplate_removal_docs")
    assert "LeftAnti" in p and "BroadcastHashJoin" in p
    # anomaly detection: ONE shuffle, on the window key (formatted plans
    # print the partitioning in the Arguments section)
    p = plans("anomaly_events")
    assert p.count("hashpartitioning(user_id") == 1
    # shard audit: pure hash-agg rollup, no wide shuffle beyond the agg
    p = plans("shard_stats")
    assert "HashAggregate" in p and "SortMergeJoin" not in p
    # fuzzy join: verify stage uses the JVM levenshtein, and candidates
    # never come from an unblocked cartesian
    p = plans("fuzzy_name_pairs")
    assert "levenshtein" in p and "CartesianProduct" not in p
    # histogram: the bin grid joins broadcast (bins rows), counts hash-agg
    p = plans("histogram_order_price")
    assert "BroadcastHashJoin" in p and "HashAggregate" in p
    # correlations: one aggregation pass, no join at all
    p = plans("corr_lineitem")
    assert "Join" not in p


def test_normalize_and_chunk_zero_shuffle(plans):
    """Per-row ops must not introduce an Exchange: the scan partitioning
    carries straight through to the (noop) write."""
    for name in ("normalize_docs", "chunk_docs"):
        p = plans(name)
        assert "Exchange" not in p, f"{name} shuffles:\n{p}"


def test_heavy_hitters_broadcast_semi_recount(plans):
    """Pass 2 recounts ONLY candidates: broadcast left-semi on the
    candidate words, never a full-vocabulary shuffle of raw tokens."""
    p = plans("heavy_hitter_words")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_covariance_partial_agg(plans):
    """(i, j) sums come from two-phase HashAggregate (map-side combine),
    so the shuffle carries one partial row per (task, i, j)."""
    p = plans("embedding_covariance")
    assert "HashAggregate" in p
    assert "partial" in p.lower() or "Exchange hashpartitioning(i" in p


def test_sample_per_group_partitioned_window(plans):
    """The md5-rank window partitions by the group column — bounded
    per-group state, never a single global sort partition."""
    p = plans("sample_per_language")
    assert "hashpartitioning(lang" in p


def test_round5_batch45_plan_shapes(plans):
    """Plan locks for the fourth/fifth-batch registry entries."""
    # strip_html / canonical_url / pseudonymize: per-row expressions —
    # the only Exchange allowed is a rollup's aggregate shuffle
    for name in ("strip_html_docs", "canonical_url_docs"):
        p = plans(name)
        assert "Exchange" not in p, f"{name} shuffles:\n{p}"
    # snapshot diff: digests computed BELOW the join (the join carries
    # keys + 8-byte xxhash64 digests, never payload columns), exactly
    # one full-outer join
    p = plans("snapshot_diff_orders")
    assert "FullOuter" in p and "xxhash64" in p
    # payload columns are hashed away below the join: the join's output
    # section mentions only the key and digest columns
    assert "o_orderpriority" not in p.split("SortMergeJoin")[-1]
    assert "CartesianProduct" not in p
    # histogram quantiles: sketch rollup is hash-agg; the only window
    # runs on sketch rows (bins), after the aggregate
    p = plans("histogram_quantile_events")
    assert "HashAggregate" in p
    # sequence packing: every Window node is partitioned (the two-phase
    # cumsum's __pid window) — no single-task global window anywhere
    p = plans("pack_sequences_docs")
    assert "Window" in p
    assert "hashpartitioning(__pid" in p or "__pid" in p
    # incremental agg: two-phase HashAggregate with partial combine
    p = plans("incremental_agg_orders")
    assert "HashAggregate" in p and "CartesianProduct" not in p
    # temperature weights: normalization joins as a broadcast 1-row
    # aggregate, not a driver collect
    p = plans("temperature_mixture_docs")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_round6_batch_plan_shapes(plans):
    """The retrieval/graph/drift batch keeps its 100 TB claims in the
    physical plan."""
    # bm25: the query side broadcasts everywhere — no sort-merge join
    # may appear (corpus-side work must stay pruned to query-term
    # postings, never a corpus-x-corpus shuffle join)
    p = plans("bm25_topk_docs")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    # drift: scans are independent of column count — exactly two
    # events scan NODES (ref + cur) in the scoring plan, bounds having
    # been collected at build time (formatted mode prints each node
    # twice: tree line + detail header, so count the headers)
    import re

    p = plans("drift_events")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2
    # leakage split: the corpus-side split assignment is one left join
    # against the node-sized component map — no cartesian, and the
    # split decision compiles to pure expressions (no UDF/python eval)
    p = plans("leakage_split_docs")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # containment: blocked posting self-join, id-keyed all the way
    p = plans("containment_pairs_docs")
    assert "CartesianProduct" not in p


def test_round7_batch_plan_shapes(plans, spark, sf_dir):
    """Round-7 operators keep their 100 TB claims in the physical
    plan."""
    import numpy as np

    from tap_airbyte_wrapper_spark.functions import (
        PqModel, kmeans_predict, pq_encode,
    )
    from tap_airbyte_wrapper_spark.plans.queries import _t

    emb = _t(spark, sf_dir, "embeddings")
    # pq_encode / kmeans_predict: pure map — zero Exchange
    model = PqModel(codebooks=np.zeros((8, 4, 8)) + np.eye(8)[None, :4, :])
    p = plan_of(pq_encode(emb, model))
    assert "Exchange" not in p
    cent = np.eye(8, 64)
    p = plan_of(kmeans_predict(emb, cent))
    assert "Exchange" not in p
    # rrf fusion: per-query lists only — no cartesian anywhere
    p = plans("rrf_fusion_docs")
    assert "CartesianProduct" not in p
    # domain quota: the pass-through side must anti-join BROADCAST
    # (no corpus shuffle for under-quota domains) and the whole plan
    # stays expression-only (no Python eval)
    p = plans("domain_quota_docs")
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # char-ngram entropy: expression-only, partial-agg (two-stage
    # hash aggregate), no window, no python
    p = plans("char_ngram_entropy_docs")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" not in p
    # zipf: the top-500 cut must plan as TakeOrderedAndProject, never
    # a global Sort of the vocabulary
    p = plans("zipf_fit_docs")
    assert "TakeOrderedAndProject" in p


def test_round7b_plan_shapes(plans):
    # hard negatives: the corpus never shuffles — queries and the
    # per-query positive max both arrive as broadcasts; the only
    # Exchange keys the per-query top-k window over CANDIDATE rows
    p = plans("semi_hard_negatives_emb")
    assert "BroadcastNestedLoopJoin" in p      # broadcast query set
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p             # rank pushdown on top-k
    # uniform sample: bottom-k is TakeOrderedAndProject, never a
    # global Sort of the corpus
    p = plans("uniform_sample_docs")
    assert "TakeOrderedAndProject" in p
    # script profile: per-row expressions only — no shuffle, no python
    p = plans("script_profile_docs")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # link extraction: explode + regexp only — no shuffle, no python
    p = plans("extract_links_docs")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # vocab coverage: the vocabulary joins BROADCAST (the corpus-side
    # explode must not shuffle to meet a model-sized table)
    p = plans("vocab_coverage_docs")
    assert "BroadcastHashJoin" in p
    # threshold sweep / calibration: single-pass aggregates — no
    # window, no python
    for name in ("threshold_metrics_docs", "calibration_bins_docs"):
        p = plans(name)
        assert "Window" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_welch_sliced_exact_tail_plan_one_exchange(plans, spark, sf_dir):
    """The sliced Welch sweep with the exact-tail layers must still be
    ONE conditional-aggregate scan, and everything after the per-slice
    aggregate must be pure projection.  Since round 14 the packed tail
    chain rides a mid-chain ``localCheckpoint`` (measured faster:
    2.0 s vs 2.2 s isolated; the checkpoint caps CollapseProject and
    Janino method growth), so the final visible plan is projections
    over the checkpoint scan — no shuffles, no joins AT ALL — while
    the one-scan aggregate contract is asserted on the UNCHECKPOINTED
    chain (checkpoint_every=None yields the full single plan)."""
    p = plans("welch_sliced_orders")
    assert p.count("Exchange") == 0
    assert "Join" not in p and "Cartesian" not in p
    # one-conditional-aggregate-scan contract, full plan visible with
    # the mid-chain checkpoint disabled
    from unittest import mock

    from tap_airbyte_wrapper_spark.operators import stats as stats_mod
    from tap_airbyte_wrapper_spark.operators.tails import \
        apply_ibeta_layers as real_layers

    def no_ckpt(df, specs, keep, checkpoint_every=15, pack=2):
        return real_layers(df, specs, keep, checkpoint_every=None,
                           pack=pack)

    with mock.patch.object(stats_mod, "apply_ibeta_layers", no_ckpt):
        full = plan_of(QUERIES["welch_sliced_orders"](spark, sf_dir))
    assert full.count("Exchange") <= 2
    assert "Join" not in full and "Cartesian" not in full
    assert "HashAggregate" in full


def test_tost_sliced_bounded_exchanges(plans):
    """tost_sliced's two staged tail chains ride a checkpointed
    BOUNDED per-slice table: the only shuffle is the per-slice
    aggregation before the checkpoint; everything after is
    projection."""
    p = plans("tost_sliced_orders")
    # post-checkpoint plan: projections over the scanned checkpoint,
    # no joins, no aggregation re-shuffles
    assert "Join" not in p and "Cartesian" not in p
    assert p.count("Exchange") <= 2


def test_mw_sliced_partitioned_prefix_no_global_sort(plans):
    """The sliced Mann-Whitney's rank prefix is a window PARTITIONED
    by the slice — the per-slice aggregation reuses that partitioning,
    so the whole sweep is bounded shuffles and never a single-task
    global sort; no joins anywhere."""
    p = plans("mw_sliced_orders")
    assert "Join" not in p and "Cartesian" not in p
    # two real exchanges — the (slice,value) count agg and the
    # slice repartition for the prefix window; the per-slice agg
    # REUSES the window's partitioning (no third); the formatted
    # plan names each exchange twice (tree + operator detail)
    assert p.count("Exchange") <= 4
    assert "Window" in p


def test_chi2_sliced_no_single_task_no_python(plans):
    """The sliced chi-square/Fisher sweep stays relational end to end:
    slice-keyed joins over the checkpointed bounded count table (no
    broadcast of a per-slice-unbounded side needed, no cartesian), the
    ~75 igamma layers and the Fisher fold are pure projections (no
    Python eval), and nothing funnels through a single-task exchange
    except the fleet query's own final presentation orderBy."""
    p = plans("chi2_sliced_orders")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Cartesian" not in p
    assert "Exchange SinglePartition" not in p


def test_table_memo_sees_rewritten_table(spark, tmp_path):
    """``_t`` memoizes a table's scan plan; rewriting the table file
    must yield the new rows, not the stale plan's listing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tap_airbyte_wrapper_spark.plans.queries import _t

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    first = _t(spark, str(tmp_path), "region")
    assert _t(spark, str(tmp_path), "region") is first   # memo hit
    assert sorted(r[0] for r in first.collect()) == [0, 1]

    pq.write_table(pa.table({"r_regionkey": [5, 6, 7],
                             "r_name": ["a", "b", "c"]}), path)
    again = _t(spark, str(tmp_path), "region")
    assert again.columns == ["r_regionkey", "r_name"]
    assert sorted(r[0] for r in again.collect()) == [5, 6, 7]
