"""Singer serializer layer: every RECORD line comes from
``singer_io.record_json_expr`` and every bookmark from
``singer_io.render_column``.

The reference for RECORD payloads is the driver-side serializer this
layer replaced (per-row ``asDict`` + ``json.dumps``, with top-level
timestamps, dates, decimals and binary normalized first), kept here as
``_reference_lines``.  Pinned divergences from it, checked by
``_same``:

* NaN / ±Infinity are the strings ``"NaN"``, ``"Infinity"``,
  ``"-Infinity"`` (the old loop wrote bare ``NaN``, which is not JSON);
* float32 values print as float32 (``0.1``, not ``0.10000000149011612``)
  and are compared as float32;
* nested timestamps always carry six fractional digits (the old loop's
  ``datetime.isoformat`` dropped zero microseconds);
* nested keys stay in schema order (the old loop sorted them), so nested
  payloads compare parsed, not byte for byte.
"""

import datetime as dt
import io
import json
import math
import os
import struct
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T

from tap_airbyte_wrapper_spark.singer_io import (
    TS_FORMAT, record_json_expr, singer_message, write_singer_files,
    write_singer_stdout)
from tap_airbyte_wrapper_spark.sync import Engine

FLAT_TABLES = ("customer", "documents", "events", "lineitem", "nation",
               "orders", "part", "region", "supplier")


def _reference_lines(df, stream):
    """The replaced driver-side RECORD serializer, verbatim in effect."""
    exprs = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.TimestampType):
            c = F.date_format(c, TS_FORMAT)
        elif isinstance(f.dataType, T.DateType):
            c = F.date_format(c, "yyyy-MM-dd")
        elif isinstance(f.dataType, T.DecimalType):
            c = c.cast("double")
        elif isinstance(f.dataType, T.BinaryType):
            c = F.base64(c)
        exprs.append(c.alias(f.name))
    return [singer_message({"type": "RECORD", "stream": stream,
                            "record": row.asDict(recursive=True)})
            for row in df.select(*exprs).toLocalIterator()]


def _strict(line):
    def bad(name):
        raise ValueError(f"bare {name} is not JSON")
    return json.loads(line, parse_constant=bad)


def _f32(x):
    return struct.pack("<f", x)


def _same(new, old, dtype):
    """``new`` (parsed RECORD value) equals ``old`` (the reference's)
    for a value of Spark type ``dtype``, modulo the pinned divergences."""
    if new is None or old is None:
        return new is None and old is None
    if isinstance(dtype, T.StructType):
        return set(new) == set(old) and all(
            _same(new[f.name], old[f.name], f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return len(new) == len(old) and all(
            _same(a, b, dtype.elementType) for a, b in zip(new, old))
    if isinstance(dtype, T.MapType):
        return set(new) == set(old) and all(
            _same(new[k], old[k], dtype.valueType) for k in new)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        if not math.isfinite(old):
            return new == {"nan": "NaN", "inf": "Infinity",
                           "-inf": "-Infinity"}[repr(old)]
        if isinstance(dtype, T.FloatType):
            return _f32(new) == _f32(old)
        return new == old
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return dt.datetime.fromisoformat(new) == dt.datetime.fromisoformat(old)
    return new == old


@pytest.fixture(scope="module")
def fixture_df(spark):
    """One row per hazard: nested temporal values, decimal, binary, map,
    array of structs, float32, non-ASCII, non-finite doubles, nulls."""
    return spark.sql("""
        SELECT * FROM VALUES
          (1, named_struct('t', timestamp'2024-01-02 03:04:05.123456',
                           'd', date'2024-01-02',
                           'n', timestamp_ntz'2024-01-02 03:04:05'),
           cast(12.50 AS decimal(10, 2)), X'00FF10', map('b', 1, 'a', 2),
           array(named_struct('z', 1, 'a', timestamp'2024-01-01 00:00:00')),
           cast(0.1 AS float), 'héllo ☃ 日本', cast('NaN' AS double),
           timestamp'2024-03-04 05:06:07', date'2024-03-04'),
          (2, named_struct('t', cast(NULL AS timestamp),
                           'd', cast(NULL AS date),
                           'n', timestamp_ntz'1999-12-31 23:59:59.999999'),
           cast(NULL AS decimal(10, 2)), cast(NULL AS binary),
           cast(NULL AS map<string, int>), array(),
           cast(-3.4028235e38 AS float), cast(NULL AS string),
           cast('Infinity' AS double), cast(NULL AS timestamp),
           cast(NULL AS date)),
          (3, cast(NULL AS struct<t: timestamp, d: date, n: timestamp_ntz>),
           cast(-0.01 AS decimal(10, 2)), X'', map(),
           cast(NULL AS array<struct<z: int, a: timestamp>>),
           cast('NaN' AS float), '"quoted"\\\\ \\t tab', cast('-Infinity' AS double),
           timestamp'1970-01-01 00:00:00', date'1970-01-01')
        AS t(id, nested, amount, payload, tags, items, f32, txt, score,
             ts, day)
    """)


def _stdout(df, stream, **kw):
    buf = io.StringIO()
    n, cursor_max = write_singer_stdout(df, stream, out=buf, **kw)
    return buf.getvalue().splitlines(), n, cursor_max


def test_files_line_equals_stdout_line(spark, fixture_df, tmp_path):
    lines, n, _ = _stdout(fixture_df, "fx")
    records = [line for line in lines if '"type":"RECORD"' in line]
    assert n == len(records) == 3
    write_singer_files(fixture_df, "fx", str(tmp_path / "fx"), mode="overwrite")
    files = [r.value for r in spark.read.text(str(tmp_path / "fx")).collect()]
    assert sorted(files) == sorted(records)


def test_record_matches_reference_serializer(fixture_df):
    lines, _, _ = _stdout(fixture_df, "fx")
    new = [_strict(line) for line in lines[1:]]
    old = [json.loads(line) for line in _reference_lines(fixture_df, "fx")]
    assert len(new) == len(old) == 3
    for a, b in zip(new, old):
        assert {k: a[k] for k in ("stream", "type")} == {
            "stream": "fx", "type": "RECORD"}
        assert _same(a["record"], b["record"], fixture_df.schema), (a, b)


def test_lines_are_strict_json_with_quoted_non_finite(fixture_df):
    lines, _, _ = _stdout(fixture_df, "fx")
    msgs = [_strict(line) for line in lines]      # SCHEMA and RECORDs
    assert msgs[0]["type"] == "SCHEMA"
    by_id = {m["record"]["id"]: m["record"] for m in msgs[1:]}
    assert by_id[1]["score"] == "NaN"
    assert by_id[2]["score"] == "Infinity"
    assert by_id[3]["score"] == "-Infinity"
    assert by_id[3]["f32"] == "NaN"
    # top-level keys sorted; non-ASCII written as UTF-8, parsed intact
    assert list(by_id[1]) == sorted(by_id[1])
    assert by_id[1]["txt"] == "héllo ☃ 日本"
    assert by_id[1]["nested"]["t"] == "2024-01-02T03:04:05.123456"
    assert by_id[1]["nested"]["n"] == "2024-01-02T03:04:05.000000"
    assert by_id[1]["amount"] == 12.5
    assert by_id[2]["payload"] is None and by_id[2]["txt"] is None


def test_stdout_returns_rendered_cursor_max(fixture_df):
    _, n, cursor_max = _stdout(fixture_df, "fx", cursor="ts")
    assert n == 3
    assert cursor_max == "2024-03-04T05:06:07.000000"
    _, _, day_max = _stdout(fixture_df, "fx", cursor="day")
    assert day_max == "2024-03-04"


@pytest.mark.parametrize("table", FLAT_TABLES)
def test_sf_tables_byte_identical_to_reference(spark, sf_dir, table):
    from tap_airbyte_wrapper_spark.sources.files import load_parquet

    df = load_parquet(spark, f"{sf_dir}/{table}.parquet")
    lines, n, _ = _stdout(df, table)
    assert lines[1:] == _reference_lines(df, table)
    assert n == len(lines) - 1 > 0
    for line in lines:
        _strict(line)


def test_sf_embeddings_equal_as_float32(spark, sf_dir):
    from tap_airbyte_wrapper_spark.sources.files import load_parquet

    df = load_parquet(spark, f"{sf_dir}/embeddings.parquet")
    lines, _, _ = _stdout(df, "embeddings")
    old = [json.loads(line) for line in _reference_lines(df, "embeddings")]
    assert len(lines) - 1 == len(old) > 0
    for line, b in zip(lines[1:], old):
        assert _same(_strict(line)["record"], b["record"], df.schema)


# ------------------------------------------------------------- bookmarks


@pytest.fixture
def skewed_tz(spark):
    """A session time zone other than the process's own: Python-side
    datetimes (process zone) and Spark renderings (session zone) differ."""
    tz = "Asia/Tokyo" if time.localtime().tm_gmtoff < 0 else "America/New_York"
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    yield tz
    spark.conf.set("spark.sql.session.timeZone", prev)


T_MAX = dt.datetime(2024, 6, 1, 11, 8, 9, 123456, tzinfo=dt.timezone.utc)


def _write_ev(src, instants):
    os.makedirs(src, exist_ok=True)
    pq.write_table(pa.table({
        "id": pa.array(range(len(instants)), pa.int64()),
        "ts": pa.array(instants, pa.timestamp("us", tz="UTC")),
    }), os.path.join(src, "ev.parquet"))


def _engine(spark, src, tmp_path, sink, tag, **config):
    return Engine(spark, {
        "source": "dataset_dir",
        "source_config": {"path": src, "cursors": {"ev": "ts"}},
        "streams": ["ev"],
        "replication_method": {"ev": "INCREMENTAL"},
        "state_path": str(tmp_path / f"state_{tag}.json"),
        "sink": sink,
        **config,
    })


def _rendered(instant, tz):
    from zoneinfo import ZoneInfo

    return instant.astimezone(ZoneInfo(tz)).strftime("%Y-%m-%dT%H:%M:%S.%f")


def test_parquet_sink_bookmark_in_session_time_zone(spark, tmp_path, skewed_tz):
    """The committed bookmark is the max as the RECORD lines render it
    (session zone), and a row an hour past it is delivered next sync."""
    src = str(tmp_path / "src")
    _write_ev(src, [T_MAX - dt.timedelta(days=1), T_MAX])
    sink = {"type": "parquet", "path": str(tmp_path / "out"), "mode": "append"}
    eng = _engine(spark, src, tmp_path, sink, "pq")
    assert eng.sync().stream_counts == {"ev": 2}
    bookmark = eng.state.get_bookmark("ev", "ts")

    ev = spark.read.parquet(f"{src}/ev.parquet")
    lines, _, _ = _stdout(ev, "ev")
    assert bookmark == max(json.loads(l)["record"]["ts"] for l in lines[1:])
    assert bookmark == _rendered(T_MAX, skewed_tz)

    _write_ev(src, [T_MAX - dt.timedelta(days=1), T_MAX,
                    T_MAX + dt.timedelta(hours=1)])
    again = _engine(spark, src, tmp_path, sink, "pq")
    assert again.sync().stream_counts == {"ev": 1}
    assert again.state.get_bookmark("ev", "ts") == _rendered(
        T_MAX + dt.timedelta(hours=1), skewed_tz)


def test_stdout_and_files_sinks_commit_equal_bookmarks(spark, tmp_path,
                                                       skewed_tz):
    src = str(tmp_path / "src")
    _write_ev(src, [T_MAX, T_MAX - dt.timedelta(minutes=5)])
    buf = io.StringIO()
    stdout = _engine(spark, src, tmp_path, {"type": "stdout"}, "stdout")
    stdout.sync(out=buf)
    files = _engine(spark, src, tmp_path, {
        "type": "files", "path": str(tmp_path / "files"),
        "mode": "overwrite"}, "files")
    files.sync()
    a = stdout.state.get_bookmark("ev", "ts")
    assert a == files.state.get_bookmark("ev", "ts") == _rendered(
        T_MAX, skewed_tz)
    msgs = [_strict(line) for line in buf.getvalue().splitlines()]
    assert [m["type"] for m in msgs] == ["SCHEMA", "RECORD", "RECORD", "STATE"]
    assert msgs[-1]["value"]["bookmarks"] == {"ev": {"ts": a}}


# ------------------------------------------------------------ files sink


def _visible(out):
    """The names a Spark or Hadoop reader sees in ``out`` (no ``_``/``.``
    files), plus ``_schema.singer``."""
    return sorted(f for f in os.listdir(out)
                  if f[0] not in "_." or f == "_schema.singer")


def _part_ids(out):
    return sorted(json.loads(line)["record"]["id"]
                  for f in os.listdir(out) if f.startswith("part-")
                  for line in Path(out, f).read_text().splitlines())


def test_files_sink_equals_stdout_sink_byte_for_byte(fixture_df, tmp_path,
                                                     skewed_tz):
    lines, _, _ = _stdout(fixture_df, "fx", key_properties=["id"])
    out = str(tmp_path / "fx")
    write_singer_files(fixture_df, "fx", out, mode="overwrite",
                       key_properties=["id"])
    schema = Path(out, "_schema.singer").read_bytes()
    parts = b"".join(Path(out, p).read_bytes()
                     for p in os.listdir(out) if p.startswith("part-"))
    records = sorted(parts.splitlines(keepends=True))
    expected = [(line + "\n").encode("utf-8") for line in lines]
    assert [schema] + records == expected[:1] + sorted(expected[1:])
    assert b'"score":"NaN"' in parts and b'"score":"-Infinity"' in parts


def test_files_sink_appends_keep_both_jobs_parts(spark, tmp_path):
    out = str(tmp_path / "t")
    write_singer_files(spark.createDataFrame([(1,), (2,)], "id long"), "t", out)
    first = [f for f in _visible(out) if f.startswith("part-")]
    write_singer_files(spark.createDataFrame([(3,), (4,)], "id long"), "t", out)
    names = _visible(out)
    assert set(first) < set(names) and "_schema.singer" in names
    assert _part_ids(out) == [1, 2, 3, 4]


def _snapshot(out):
    return {f: Path(out, f).read_bytes() for f in _visible(out)}


def test_failed_files_write_leaves_prior_output_and_state(spark, tmp_path):
    out = str(tmp_path / "t")
    write_singer_files(spark.createDataFrame([(1,), (2,)], "id long"), "t", out)
    before = _snapshot(out)
    boom = spark.range(3).select(
        F.when(F.col("id") == 1, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id")).alias("id"),
        F.lit("x").alias("extra"))
    with pytest.raises(Exception, match="boom"):
        write_singer_files(boom, "t", out)
    assert _snapshot(out) == before

    # through Engine.sync: the bookmark does not move either
    src = str(tmp_path / "src")
    _write_ev(src, [T_MAX - dt.timedelta(days=1), T_MAX])
    sink = {"type": "files", "path": str(tmp_path / "files"),
            "mode": "append"}
    assert _engine(spark, src, tmp_path, sink, "f").sync().stream_counts == {
        "ev": 2}
    state_file = tmp_path / "state_f.json"
    state = state_file.read_bytes()
    synced = _snapshot(str(tmp_path / "files" / "ev"))
    _write_ev(src, [T_MAX - dt.timedelta(days=1), T_MAX,
                    T_MAX + dt.timedelta(hours=1)])
    failing = _engine(spark, src, tmp_path, sink, "f", stream_maps={
        "ev": {"boom": "if(id = 2, raise_error('boom'), id)"}})
    with pytest.raises(Exception, match="boom"):
        failing.sync()
    assert state_file.read_bytes() == state
    assert _snapshot(str(tmp_path / "files" / "ev")) == synced


def test_streaming_singer_text_sink_is_exactly_once(spark, tmp_path):
    """Streaming Singer output is ``incremental_sync`` into the text
    sink: the sink's metadata log makes each drain's files appear once,
    and a later drain leaves earlier batches' files untouched."""
    from tap_airbyte_wrapper_spark.streaming import (
        incremental_sync, run_available_now, stream_source)

    src, out = str(tmp_path / "landing"), str(tmp_path / "singer")
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)

    def drain():
        run_available_now(incremental_sync(
            stream_source(spark, src, schema), out, str(tmp_path / "ckpt"),
            transform=lambda d: d.select(record_json_expr(d, "t")),
            fmt="text"))

    land([(1, "a"), (2, "b")])
    drain()
    first = _snapshot(out)
    assert _part_ids(out) == [1, 2]
    land([(3, "c")])
    drain()
    drain()                          # nothing new to drain
    assert _part_ids(out) == [1, 2, 3]
    after = _snapshot(out)
    assert {f: after[f] for f in first} == first
    lines = [r.value for r in spark.read.text(out).collect()]
    assert sorted(json.loads(line)["record"]["id"] for line in lines) == [
        1, 2, 3]
    assert all(json.loads(line)["type"] == "RECORD" for line in lines)
