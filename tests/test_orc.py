"""Single-stream file sources other than parquet: the ORC source's
discover / full read / incremental pushdown / schema-drift policy (the
parquet source's story on Spark's native ORC reader), JSONL quarantine,
and the CSV source's spec, discovery and reads."""

import pytest
from pyspark.sql import functions as F

from tap_airbyte_wrapper_spark.sources.base import SourceError, get_source
from tap_airbyte_wrapper_spark.sources.files import load_parquet


@pytest.fixture(scope="module")
def orc_orders(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("orc") / "orders")
    load_parquet(spark, f"{sf_dir}/orders.parquet").write.orc(path)
    return path


def test_orc_discover_and_read(spark, sf_dir, orc_orders):
    src = get_source("orc", {
        "path": orc_orders, "stream_name": "orders",
        "cursor_field": "o_orderkey", "primary_keys": ["o_orderkey"]})
    cat = src.discover(spark)
    (stream,) = cat.streams
    assert stream.name == "orders"
    assert stream.replication_key == "o_orderkey"
    assert "o_totalprice" in [f.name for f in stream.schema.fields]

    n_ref = load_parquet(spark, f"{sf_dir}/orders.parquet").count()
    assert src.read(spark, stream).count() == n_ref


def test_orc_incremental_pushes_predicate(spark, orc_orders):
    src = get_source("orc", {
        "path": orc_orders, "stream_name": "orders",
        "cursor_field": "o_orderkey"})
    (stream,) = src.discover(spark).streams
    mid = src.read(spark, stream).agg(
        F.expr("percentile(o_orderkey, 0.5)")).collect()[0][0]
    inc = src.read_incremental(spark, stream, int(mid))
    full = src.read(spark, stream)
    assert inc.count() == full.filter(F.col("o_orderkey") > int(mid)).count()
    assert 0 < inc.count() < full.count()
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(o_orderkey" in plan


def test_orc_schema_drift_fails_then_conforms(spark, orc_orders):
    src = get_source("orc", {"path": orc_orders, "stream_name": "orders"})
    (stream,) = src.discover(spark).streams
    # simulate a catalog from before a column existed
    import copy

    old = copy.deepcopy(stream)
    old.schema = type(stream.schema)(stream.schema.fields[:-1])
    with pytest.raises(SourceError, match="schema drift"):
        src.read(spark, old)

    merging = get_source("orc", {
        "path": orc_orders, "stream_name": "orders",
        "on_schema_drift": "merge"})
    out = merging.read(spark, old)
    assert out.columns == [f.name for f in old.schema.fields]


def test_json_quarantine_diverts_malformed(spark, tmp_path):
    import glob as _glob
    import json as _json

    src = tmp_path / "in.jsonl"
    lines = [_json.dumps({"id": i, "name": f"n{i}"}) for i in range(5)]
    lines.insert(2, '{"id": 99, "name": broken')   # malformed
    lines.insert(4, "not json at all")
    lines.append("")                               # blank: skipped, not quarantined
    src.write_text("\n".join(lines) + "\n")

    qdir = str(tmp_path / "quarantine")
    js = get_source("json", {"path": str(src), "stream_name": "s",
                             "quarantine_path": qdir})
    (stream,) = js.discover(spark).streams
    good = js.read(spark, stream)
    assert good.count() == 5
    assert sorted(r["id"] for r in good.collect()) == [0, 1, 2, 3, 4]

    bad_lines = []
    for f in sorted(set(_glob.glob(qdir + "/*.txt")
                        + _glob.glob(qdir + "/part-*"))):
        with open(f) as fh:
            bad_lines += [l.rstrip("\n") for l in fh if l.strip()]
    assert sorted(bad_lines) == sorted(
        ['{"id": 99, "name": broken', "not json at all"])


def test_json_without_quarantine_unchanged(spark, tmp_path):
    import json as _json

    src = tmp_path / "ok.jsonl"
    src.write_text("\n".join(
        _json.dumps({"id": i}) for i in range(3)) + "\n")
    js = get_source("json", {"path": str(src), "stream_name": "s"})
    (stream,) = js.discover(spark).streams
    assert js.read(spark, stream).count() == 3


def test_json_incremental_uses_json_reader_and_quarantine(spark, tmp_path):
    """Incremental JSON syncs must go through the JSON read path (the
    inherited parquet-path override crashed) and keep quarantine on."""
    import json as _json

    src = tmp_path / "inc.jsonl"
    lines = [_json.dumps({"id": i, "ts": i * 10}) for i in range(6)]
    lines.insert(3, "broken {")
    src.write_text("\n".join(lines) + "\n")
    qdir = str(tmp_path / "q")
    js = get_source("json", {"path": str(src), "stream_name": "s",
                             "cursor_field": "ts", "quarantine_path": qdir})
    (stream,) = js.discover(spark).streams
    inc = js.read_incremental(spark, stream, 20)
    assert sorted(r["id"] for r in inc.collect()) == [3, 4, 5]
    import glob as _glob
    assert _glob.glob(qdir + "/part-*")  # quarantine still active


def test_csv_spec_discover_read_and_incremental(spark, tmp_path):
    """CSV: its spec adds ``delimiter``/``header`` to the file-source
    keys; discovery infers the header's columns and types; the full read
    is pinned to the catalog schema; an incremental read past a bookmark
    filters on the cursor with the CSV reader, not a parquet one."""
    src_path = tmp_path / "people.csv"
    src_path.write_text(
        "id;name;ts\n" + "".join(f"{i};n{i};{i * 10}\n" for i in range(6)))
    spec = get_source("csv", {"path": str(src_path)}).spec()
    assert {"path", "stream_name", "cursor_field", "primary_keys",
            "on_schema_drift", "delimiter", "header"} <= set(
        spec["properties"])
    assert spec["required"] == ["path"]

    csv = get_source("csv", {"path": str(src_path), "delimiter": ";",
                             "cursor_field": "ts", "primary_keys": ["id"]})
    (stream,) = csv.discover(spark).streams
    assert stream.name == "people"
    assert stream.replication_key == "ts"
    assert stream.primary_keys == ["id"]
    assert [(f.name, f.dataType.simpleString())
            for f in stream.schema.fields] == [
        ("id", "int"), ("name", "string"), ("ts", "int")]

    full = csv.read(spark, stream)
    assert full.schema == stream.schema
    assert sorted(tuple(r) for r in full.collect()) == [
        (i, f"n{i}", i * 10) for i in range(6)]
    inc = csv.read_incremental(spark, stream, 20)
    assert sorted(r["id"] for r in inc.collect()) == [3, 4, 5]
    assert csv.read_incremental(spark, stream, None).count() == 6
