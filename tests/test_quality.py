"""Unit tests for operators/quality.py (one-pass profiler + expectation
validation) on hand-built inputs; fleet/oracle coverage is
profile_orders / validate_orders in tests/test_oracle_parity.py."""

import pytest
from pyspark.sql import Row

from tap_airbyte_wrapper_spark.operators import (
    Expectation,
    column_correlations,
    numeric_histogram,
    profile_table,
    validate_expectations,
)


def _df(spark):
    return spark.createDataFrame([
        Row(id=1, name="a", score=1.0),
        Row(id=2, name=None, score=5.0),
        Row(id=3, name="c", score=None),
        Row(id=3, name="a", score=-2.0),
    ])


def test_profile_counts_nulls_distincts_minmax(spark):
    out = {r.column: r for r in profile_table(
        _df(spark), distinct_mode="exact").collect()}
    assert set(out) == {"id", "name", "score"}
    assert all(r.n_rows == 4 for r in out.values())
    assert out["id"].n_nulls == 0 and out["id"].n_distinct == 3
    assert out["name"].n_nulls == 1 and out["name"].n_distinct == 2
    assert out["name"].null_frac == 0.25
    assert out["score"].min_repr == "-2.0" and out["score"].max_repr == "5.0"
    assert out["id"].min_repr == "1" and out["id"].max_repr == "3"


def test_profile_column_subset_and_single_job(spark):
    df = _df(spark)
    out = profile_table(df, columns=["id"])   # approx = the scale default
    rows = out.collect()
    assert [r.column for r in rows] == ["id"]
    # one-pass shape: the source is scanned exactly once no matter how
    # many statistics are declared (AQE prints final + initial plan —
    # count scans in the executed section only)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan ExistingRDD") == 1
    # exact mode trades that for a second melt pass but the distinct
    # stages must stay on hash aggregation — the 3-level KEYED
    # SortAggregate multi-distinct rewrite is the anti-pattern this
    # formulation avoids.  (The zero-key base agg may legitimately
    # plan as SortAggregate: string min/max buffers aren't
    # hash-mutable, and with no grouping keys there is nothing to
    # sort.)
    exact = profile_table(df, columns=["id", "name"], distinct_mode="exact")
    exact.collect()
    eplan = exact._jdf.queryExecution().executedPlan().toString()
    import re
    keyed_sorts = [
        m for m in re.findall(r"SortAggregate\(key=\[[^\]]+\]",
                              eplan.split("== Initial Plan ==")[0])
    ]
    assert keyed_sorts == []


def test_profile_approx_close_to_exact(spark):
    df = spark.range(1000).withColumnRenamed("id", "x")
    [r] = profile_table(df, columns=["x"]).collect()
    assert abs(r.n_distinct - 1000) < 100


def test_profile_rejects_bad_mode(spark):
    with pytest.raises(ValueError):
        profile_table(_df(spark), distinct_mode="sketchy")


def test_validate_all_kinds(spark):
    out = {r.expectation: r for r in validate_expectations(_df(spark), [
        Expectation("id", "not_null"),
        Expectation("id", "unique"),
        Expectation("name", "not_null"),
        Expectation("score", "in_range", lo=0.0, hi=10.0),
        Expectation("name", "in_set", values=["a", "b"]),
        Expectation("name", "matches_regex", pattern="[ab]"),
    ]).collect()}
    assert out["id:not_null"].n_violations == 0
    assert out["id:not_null"].passed is True
    assert out["id:unique"].n_violations == 1      # id=3 twice
    assert out["id:unique"].passed is False
    assert out["name:not_null"].n_violations == 1
    assert out["score:in_range"].n_violations == 1   # -2.0; null passes
    assert out["name:in_set"].n_violations == 1      # "c"; null passes
    assert out["name:matches_regex"].n_violations == 1
    assert out["id:unique"].column == "id" and out["id:unique"].kind == "unique"


def test_validate_regex_is_full_match(spark):
    df = spark.createDataFrame([Row(v="ab"), Row(v="a"), Row(v="xaby")])
    out = validate_expectations(
        df, [Expectation("v", "matches_regex", pattern="a.")]).collect()
    # "ab" matches fully; "a" and "xaby" do not (no partial matches)
    assert out[0].n_violations == 2


def test_validate_empty_rules_rejected(spark):
    with pytest.raises(ValueError):
        validate_expectations(_df(spark), [])


def test_validate_unknown_kind_rejected(spark):
    with pytest.raises(ValueError):
        validate_expectations(
            _df(spark), [Expectation("id", "positive")]).collect()


def test_numeric_histogram_buckets_and_gaps(spark):
    df = spark.createDataFrame(
        [Row(v=float(x)) for x in [0.0, 1.0, 1.5, 9.9, 10.0, 25.0]]
        + [Row(v=None)])
    out = {r.bin: r for r in numeric_histogram(
        df, "v", bins=5, lo=0.0, hi=25.0).collect()}
    assert len(out) == 5                       # empty buckets materialized
    # width = 5: [0,5)=3 values, [5,10)=1 (9.9), [10,15)=1 (10.0),
    # [15,20)=0, [20,25)->last bucket catches hi: 25.0 clamps to bin 4
    assert [out[i].n for i in range(5)] == [3, 1, 1, 0, 1]
    assert out[1].lo == 5.0 and out[1].hi == 10.0


def test_numeric_histogram_auto_bounds(spark):
    df = spark.createDataFrame([Row(v=float(x)) for x in range(100)])
    out = numeric_histogram(df, "v", bins=4).collect()
    assert sum(r.n for r in out) == 100
    assert len(out) == 4


def test_column_correlations_signs(spark):
    rows = [Row(a=float(i), b=float(2 * i), c=float(-i)) for i in range(50)]
    out = {(r.col_a, r.col_b): r.corr for r in column_correlations(
        spark.createDataFrame(rows), ["a", "b", "c"]).collect()}
    assert out[("a", "b")] == 1.0
    assert out[("a", "c")] == -1.0
    assert out[("b", "c")] == -1.0
    with pytest.raises(ValueError):
        column_correlations(spark.createDataFrame(rows), ["a"])


def test_partition_skew_report(spark):
    from tap_airbyte_wrapper_spark.operators import partition_skew_report

    df = spark.range(1000).repartition(8)
    out = partition_skew_report(df).collect()
    assert sum(r.n_rows for r in out) == 1000
    assert abs(sum(r.share for r in out) - 1.0) < 1e-6
    assert out[0].share_of_max == 1.0          # sorted desc, max first


def test_register_corpus_views_sql_surface(spark, sf_dir):
    from tap_airbyte_wrapper_spark.plans import register_corpus_views

    names = register_corpus_views(spark, sf_dir, suffix="_v")
    assert "lineitem_v" in names
    got = spark.sql(
        "SELECT round(sum(l_extendedprice * l_discount), 2) AS rev "
        "FROM lineitem_v WHERE l_quantity < 24").first()
    assert got["rev"] is not None and got["rev"] > 0


def test_foreign_key_expectation(spark, sf_dir):
    from pyspark.sql import functions as F
    from tap_airbyte_wrapper_spark.operators import (
        Expectation, validate_expectations)

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    # intact referential integrity passes
    ok = validate_expectations(orders, [
        Expectation("o_custkey", "foreign_key",
                    ref=customer, ref_col="c_custkey")]).collect()
    assert ok[0]["kind"] == "foreign_key" and ok[0]["passed"]
    # removing a slice of the dimension surfaces exactly those orders
    broken = validate_expectations(orders, [
        Expectation("o_orderkey", "not_null"),
        Expectation("o_custkey", "foreign_key",
                    ref=customer.filter(F.col("c_custkey") % 7 != 0),
                    ref_col="c_custkey")]).collect()
    by = {r["expectation"]: r for r in broken}
    want = orders.filter(F.col("o_custkey") % 7 == 0).count()
    assert by["o_custkey:foreign_key"]["n_violations"] == want
    assert not by["o_custkey:foreign_key"]["passed"]
    assert by["o_orderkey:not_null"]["passed"]


def test_foreign_key_only_rules_one_row_per_rule(spark):
    # FK-only gates union the anti-join frames alone (no seed frame)
    child = spark.createDataFrame(
        [(1, 10, "x"), (2, 11, "y"), (3, 12, "z"), (4, None, "w")],
        "id long, fk long, tag string")
    ref = spark.createDataFrame([(10, "x"), (11, "q")], "k long, t string")
    got = validate_expectations(child, [
        Expectation("fk", "foreign_key", ref=ref, ref_col="k"),
        Expectation("tag", "foreign_key", ref=ref, ref_col="t")])
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("expectation", "string"), ("column", "string"),
        ("kind", "string"), ("n_violations", "bigint"),
        ("passed", "boolean")]
    rows = sorted(tuple(r) for r in got.collect())
    # fk 12 is missing (null passes); tags y/z/w are missing
    assert rows == [
        ("fk:foreign_key", "fk", "foreign_key", 1, False),
        ("tag:foreign_key", "tag", "foreign_key", 3, False)]


def test_foreign_key_expectation_requires_ref(spark, sf_dir):
    from tap_airbyte_wrapper_spark.operators import (
        Expectation, validate_expectations)

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with pytest.raises(ValueError, match="ref"):
        validate_expectations(orders, [
            Expectation("o_custkey", "foreign_key")])
