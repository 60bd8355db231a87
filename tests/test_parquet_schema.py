"""Parquet schema resolution in the sources layer: a single-file scan
takes its schema from the file's footer on the driver, and that schema
must equal what Spark's own inference job would produce."""

import datetime as dt
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError

from pyspark.sql import functions as F

from tap_airbyte_wrapper_spark.singer_io import render_column
from tap_airbyte_wrapper_spark.sources import files
from tap_airbyte_wrapper_spark.sources.files import load_parquet
from tap_airbyte_wrapper_spark.sync import Engine

BENCH_SF = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "data", "sf0.001")
TABLES = sorted(os.path.basename(p).rsplit(".", 1)[0]
                for p in glob.glob(os.path.join(BENCH_SF, "*.parquet")))


def _inferred(spark, monkeypatch, path):
    """``load_parquet`` with the footer route off: Spark infers."""
    with monkeypatch.context() as m:
        m.setattr(files, "_footer_schema", lambda spark, path: None)
        return load_parquet(spark, path)


def _assert_same_schema(spark, monkeypatch, path):
    real, seen = files._footer_schema, []
    with monkeypatch.context() as m:
        m.setattr(files, "_footer_schema",
                  lambda s, p: seen.append(real(s, p)) or seen[-1])
        got = load_parquet(spark, path).schema
    assert seen and seen[0] is not None, "footer route not taken"
    # load_parquet's result (scoped confs + nanos conversion) ...
    assert got == _inferred(spark, monkeypatch, path).schema
    # ... and the bare converter under session confs == a plain read
    # (a nanos file needs load_parquet's scoped conf to be read at all)
    if not files._nanos_columns(path):
        assert real(spark, path) == spark.read.parquet(path).schema


def _one_part(d):
    parts = glob.glob(os.path.join(d, "part-*.parquet"))
    assert len(parts) == 1
    return parts[0]


def _job_ids(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


@pytest.mark.parametrize("table", TABLES)
def test_footer_schema_matches_inference_sf_tables(spark, monkeypatch, table):
    _assert_same_schema(
        spark, monkeypatch, os.path.join(BENCH_SF, f"{table}.parquet"))


def test_footer_schema_int96_and_nanos(spark, monkeypatch, sf_dir, tmp_path):
    # Spark's default writer stores timestamps as INT96
    d = str(tmp_path / "int96")
    load_parquet(spark, f"{sf_dir}/events.parquet").coalesce(1) \
        .write.parquet(d)
    p96 = _one_part(d)
    pqschema = pq.ParquetFile(p96).schema
    assert any(pqschema.column(i).physical_type == "INT96"
               for i in range(len(pqschema)))
    _assert_same_schema(spark, monkeypatch, p96)

    # genuine INT64 TIMESTAMP(NANOS), next to naive and UTC micros
    pns = str(tmp_path / "nanos.parquet")
    ts = [1_700_000_000_123_456_789, 1_700_000_001_000_000_001, None]
    pq.write_table(pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "ts_ns": pa.array(ts, pa.timestamp("ns", tz="UTC")),
        "naive_us": pa.array([1, 2, None], pa.timestamp("us")),
        "utc_us": pa.array([1, 2, None], pa.timestamp("us", tz="UTC")),
    }), pns, version="2.6", coerce_timestamps=None)
    assert files._nanos_columns(pns) == ["ts_ns"]
    _assert_same_schema(spark, monkeypatch, pns)
    got = load_parquet(spark, pns)
    assert dict(got.dtypes)["ts_ns"] == "timestamp"
    assert dict(got.dtypes)["naive_us"] == "timestamp"
    assert (sorted(got.collect(), key=lambda r: r.id)
            == sorted(_inferred(spark, monkeypatch, pns).collect(),
                      key=lambda r: r.id))


def test_footer_schema_spark_written_types(spark, monkeypatch, tmp_path):
    d = str(tmp_path / "typed")
    spark.sql("""
        SELECT
          TIMESTAMP_NTZ'2024-01-02 03:04:05.123456' AS ntz,
          TIMESTAMP'2024-01-02 03:04:05' AS ltz,
          CAST(12.34 AS DECIMAL(10, 2)) AS d_small,
          CAST(1.5 AS DECIMAL(38, 10)) AS d_big,
          map('a', 1, 'b', 2) AS m,
          named_struct('x', 1, 'y', array(named_struct('z', 'q'))) AS st,
          array(1.5D, 2.5D) AS arr,
          CAST(NULL AS STRING) AS s
    """).coalesce(1).write.parquet(d)
    p = _one_part(d)
    _assert_same_schema(spark, monkeypatch, p)
    types = dict(load_parquet(spark, p).dtypes)
    assert types["d_small"] == "decimal(10,2)"
    assert types["m"] == "map<string,int>"


def test_footer_schema_pyarrow_unsigned(spark, monkeypatch, tmp_path):
    p = str(tmp_path / "unsigned.parquet")
    pq.write_table(pa.table({
        "u32": pa.array([0, 2 ** 32 - 1], pa.uint32()),
        "u64": pa.array([0, 2 ** 64 - 1], pa.uint64()),
        "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(9, 2)),
        "day": pa.array([dt.date(2024, 1, 1), None], pa.date32()),
        "tags": pa.array([["a"], []], pa.list_(pa.string())),
    }), p)
    _assert_same_schema(spark, monkeypatch, p)
    assert dict(load_parquet(spark, p).dtypes)["u32"] == "bigint"


def test_directory_glob_and_bad_files_keep_inference(spark, tmp_path):
    d = tmp_path / "dir"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "f.parquet"))
    assert files._footer_schema(spark, str(d)) is None
    assert files._footer_schema(spark, str(d / "*.parquet")) is None
    assert load_parquet(spark, str(d)).schema.names == ["a"]
    # an unreadable footer is left to Spark, which reports the error
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not parquet")
    assert files._footer_schema(spark, str(bad)) is None
    with pytest.raises(Py4JJavaError):   # the inference job's failure
        load_parquet(spark, str(bad))


def test_planning_a_sync_runs_no_spark_jobs(spark):
    """Discovery plus building every stream's scan starts zero jobs."""
    eng = Engine(spark, {"source": "dataset_dir",
                         "source_config": {"path": BENCH_SF},
                         "replication_method": {"events": "INCREMENTAL"}})
    assert len(TABLES) == 10
    before = _job_ids(spark)
    cat = eng.discover()
    dfs = [eng.source.read(spark, e) for e in cat]
    dfs.append(eng.source.read_incremental(
        spark, cat.get("events"), "2020-01-01 00:00:00"))
    assert _job_ids(spark) - before == set()
    assert len(dfs) == len(TABLES) + 1


def test_files_sink_output_identical_to_inferred_schema(
        spark, monkeypatch, tmp_path):
    """Byte-compare the ``files`` sink output for every sf0.001 stream
    against a run whose scans take Spark's inferred schema."""

    def run(out):
        Engine(spark, {
            "source": "dataset_dir",
            "source_config": {"path": BENCH_SF},
            "flattening_enabled": True,
            "sink": {"type": "files", "path": str(out), "mode": "overwrite"},
        }).sync()
        got = {}
        for p in glob.glob(f"{out}/*/part-*"):
            stream = os.path.basename(os.path.dirname(p))
            part = os.path.basename(p).split("-")[1]
            with open(p, "rb") as f:
                got[(stream, part)] = f.read()
        return got

    footer = run(tmp_path / "footer")
    with monkeypatch.context() as m:
        m.setattr(files, "_footer_schema", lambda spark, path: None)
        inferred = run(tmp_path / "inferred")
    assert {s for s, _ in footer} == set(TABLES)
    assert footer == inferred


@pytest.mark.parametrize("zone", ["UTC", "Asia/Tokyo", "America/New_York"])
def test_nanos_cursor_reads_bookmark_in_session_zone(spark, tmp_path, zone):
    """A nanosecond-timestamp cursor reads its bookmark the way it was
    rendered, in the session time zone: the rows after the median
    row's bookmark are exactly the 499 that follow it.  The predicate
    stays on the raw column in the scan's pushed filters, and planning
    the read starts no Spark job."""
    path = str(tmp_path / "ns.parquet")
    start = 1_710_000_000 * 10**9          # 2024-03-09, spans a DST switch
    pq.write_table(pa.table({
        "id": pa.array(range(1000), pa.int64()),
        "ts": pa.array([start + i * 3_700_000_000_123 for i in range(1000)],
                       pa.timestamp("ns", tz="UTC")),
    }), path)
    key = "spark.sql.session.timeZone"
    was = spark.conf.get(key)
    spark.conf.set(key, zone)
    try:
        df = load_parquet(spark, path)
        bookmark = df.filter("id = 500").select(
            render_column(F.col("ts"), df.schema["ts"].dataType)).first()[0]
        before = _job_ids(spark)
        tail = load_parquet(spark, path, cursor_after=("ts", bookmark))
        plan = tail._jdf.queryExecution().executedPlan().toString()
        assert _job_ids(spark) - before == set()
        assert "GreaterThan(ts," in plan
        assert sorted(r.id for r in tail.select("id").collect()) == list(
            range(501, 1000))
    finally:
        spark.conf.set(key, was)


def test_discover_reads_schemas_only(spark, monkeypatch, tmp_path):
    """``dataset_dir`` discovery takes each schema from the footer route
    without building a DataFrame, and the schema equals what a read of
    the same file returns — sf tables and an INT64 TIMESTAMP(NANOS)
    file alike."""
    from tap_airbyte_wrapper_spark.sources.files import DatasetDirSource

    nanos_dir = tmp_path / "nanos"
    nanos_dir.mkdir()
    pq.write_table(pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_700_000_000_123_456_789, None],
                       pa.timestamp("ns", tz="UTC")),
    }), str(nanos_dir / "ev.parquet"), version="2.6",
        coerce_timestamps=None)

    for root in (BENCH_SF, str(nanos_dir)):
        calls = []
        with monkeypatch.context() as m:
            m.setattr(files, "load_parquet",
                      lambda *a, **k: calls.append(a) or load_parquet(*a,
                                                                      **k))
            cat = DatasetDirSource({"path": root}).discover(spark)
        assert calls == []
        for s in cat.streams:
            assert s.schema == load_parquet(spark, s.options["path"]).schema
    assert len(DatasetDirSource({"path": BENCH_SF}).discover(spark)) \
        == len(TABLES) == 10
    assert dict(load_parquet(spark, str(nanos_dir / "ev.parquet"))
                .dtypes)["ts"] == "timestamp"
