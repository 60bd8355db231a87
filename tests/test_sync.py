"""End-to-end engine lifecycle against the driver testdata (sf0.001):
discover / selection / sync to Singer stdout / incremental resume /
distributed sinks."""

import io
import json

import pytest

from tap_airbyte_wrapper_spark.catalog import SyncMode
from tap_airbyte_wrapper_spark.sources import get_source
from tap_airbyte_wrapper_spark.sync import Engine


def make_engine(spark, sf_dir, tmp_path=None, **over):
    cfg = {
        "source": "dataset_dir",
        "source_config": {"path": sf_dir},
        **over,
    }
    if tmp_path is not None:
        cfg.setdefault("state_path", str(tmp_path / "state.json"))
    return Engine(spark, cfg)


def test_discover_catalog(spark, sf_dir):
    eng = make_engine(spark, sf_dir)
    cat = eng.discover()
    names = {s.name for s in cat}
    assert {"region", "nation", "customer", "orders", "lineitem", "events",
            "documents", "embeddings"} <= names
    ev = cat.get("events")
    assert ev.replication_key == "ts"
    assert SyncMode.INCREMENTAL in ev.supported_sync_modes
    assert cat.get("lineitem").primary_keys == ["l_orderkey", "l_linenumber"]


def test_selection_pruning(spark, sf_dir):
    eng = make_engine(spark, sf_dir, streams=["region", "nation"])
    conf = eng.discover().configured()
    assert {s.name for s in conf} == {"region", "nation"}
    assert all(s.sync_mode == SyncMode.FULL_REFRESH for s in conf)


def test_sync_mode_negotiation(spark, sf_dir):
    eng = make_engine(
        spark, sf_dir,
        replication_method={"events": "INCREMENTAL", "region": "INCREMENTAL"},
    )
    cat = eng.discover()
    assert cat.get("events").sync_mode == SyncMode.INCREMENTAL
    # region has no cursor -> falls back to first supported mode
    assert cat.get("region").sync_mode == SyncMode.FULL_REFRESH


def test_singer_stdout_golden_shape(spark, sf_dir, tmp_path):
    eng = make_engine(spark, sf_dir, tmp_path, streams=["region"])
    buf = io.StringIO()
    res = eng.sync(out=buf)
    lines = buf.getvalue().strip().split("\n")
    msgs = [json.loads(l) for l in lines]
    # SCHEMA + 5 RECORD + STATE, reference golden-file discipline
    assert [m["type"] for m in msgs] == ["SCHEMA"] + ["RECORD"] * 5 + ["STATE"]
    assert msgs[0]["stream"] == "region"
    assert msgs[0]["key_properties"] == ["r_regionkey"]
    assert {m["record"]["r_name"] for m in msgs[1:6]} == {
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"}
    # deterministic serialization: sorted keys
    assert lines[1] == json.dumps(json.loads(lines[1]), sort_keys=True,
                                  separators=(",", ":"))
    assert res.stream_counts == {"region": 5}


def test_incremental_resume(spark, sf_dir, tmp_path):
    cfg = dict(
        streams=["events"],
        replication_method={"events": "INCREMENTAL"},
        sink={"type": "parquet", "path": str(tmp_path / "out"), "mode": "append"},
    )
    eng = make_engine(spark, sf_dir, tmp_path, **cfg)
    res1 = eng.sync()
    from tap_airbyte_wrapper_spark.sources.files import load_parquet
    total = load_parquet(spark, f"{sf_dir}/events.parquet").count()
    assert res1.stream_counts["events"] == total
    state = json.load(open(tmp_path / "state.json"))
    assert "events" in state["bookmarks"]
    assert state["airbyte_state"][0]["type"] == "STREAM"

    # resume: nothing new past the bookmark
    eng2 = make_engine(spark, sf_dir, tmp_path, **cfg)
    res2 = eng2.sync()
    assert res2.stream_counts.get("events", 0) == 0


def test_incremental_predicate_pushdown(spark, sf_dir, tmp_path):
    eng = make_engine(
        spark, sf_dir, tmp_path,
        streams=["events"], replication_method={"events": "INCREMENTAL"},
    )
    eng.state.set_bookmark("events", "ts", "2024-01-15T00:00:00")
    entry = eng.discover().configured().get("events")
    df = eng.stream_df(entry)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "ts" in plan  # filter reached the scan
    from tap_airbyte_wrapper_spark.sources.files import load_parquet
    total = load_parquet(spark, f"{sf_dir}/events.parquet").count()
    assert 0 < df.count() < total


def test_parquet_sink_and_maps(spark, sf_dir, tmp_path):
    eng = make_engine(
        spark, sf_dir, tmp_path,
        streams=["nation"],
        stream_maps={"nation": {"n_name_lower": "lower(n_name)"}},
        sink={"type": "parquet", "path": str(tmp_path / "out"), "mode": "overwrite"},
    )
    res = eng.sync()
    assert res.stream_counts == {"nation": 25}
    back = spark.read.parquet(str(tmp_path / "out" / "nation"))
    assert "n_name_lower" in back.columns
    assert back.count() == 25


def test_singer_files_sink(spark, sf_dir, tmp_path):
    eng = make_engine(
        spark, sf_dir, tmp_path, streams=["region"],
        sink={"type": "files", "path": str(tmp_path / "singer"), "mode": "overwrite"},
    )
    eng.sync()
    lines = spark.read.text(str(tmp_path / "singer" / "region")).collect()
    msgs = [json.loads(r.value) for r in lines]
    assert len(msgs) == 5
    assert all(m["type"] == "RECORD" and m["stream"] == "region" for m in msgs)


def test_rest_source_inline_and_file(spark, tmp_path):
    records = [{"id": 1, "name": "bulbasaur"}, {"id": 2, "name": "ivysaur"}]
    src = get_source("rest", {"stream_name": "pokemon", "records": records})
    cat = src.discover(spark)
    entry = cat.get("pokemon")
    df = src.read(spark, entry)
    assert sorted(r.name for r in df.collect()) == ["bulbasaur", "ivysaur"]

    # file:// page fetch through the distributed path
    page = tmp_path / "page0.json"
    page.write_text(json.dumps({"results": records}))
    src2 = get_source("rest", {
        "stream_name": "pokemon",
        "urls": [f"file://{page}"],
        "records_key": "results",
    })
    df2 = src2.read(spark, src2.discover(spark).get("pokemon"))
    assert df2.count() == 2


def test_check_and_spec(spark, sf_dir):
    eng = make_engine(spark, sf_dir)
    assert eng.check() is True
    assert "path" in eng.spec()["properties"]

    bad = Engine(spark, {"source": "dataset_dir",
                         "source_config": {"path": "/nonexistent"}})
    assert bad.check() is False


def test_parallel_stream_sync(spark, sf_dir, tmp_path):
    """parallelism > 1: streams sync as concurrent Spark jobs; counts and
    bookmarks identical to the serial run."""
    from tap_airbyte_wrapper_spark.sync import Engine

    def cfg(par, sub):
        return {
            "source": "dataset_dir",
            "source_config": {"path": sf_dir},
            "streams": ["region", "nation", "customer", "events"],
            "replication_method": {"events": "INCREMENTAL"},
            "parallelism": par,
            "state_path": str(tmp_path / sub / "state.json"),
            "sink": {"type": "parquet", "path": str(tmp_path / sub),
                     "mode": "overwrite"},
        }

    serial = Engine(spark, cfg(1, "serial")).sync()
    par = Engine(spark, cfg(4, "par")).sync()
    assert par.stream_counts == serial.stream_counts
    assert par.total_records > 0
    import json
    s1 = json.load(open(tmp_path / "serial" / "state.json"))
    s2 = json.load(open(tmp_path / "par" / "state.json"))
    assert s1["bookmarks"] == s2["bookmarks"]


def test_load_parquet_handles_int96_and_nanos(spark, sf_dir, tmp_path):
    """load_parquet must convert ONLY genuine INT64 TIMESTAMP(NANOS)
    columns; Spark-written INT96/micros timestamps pass through untouched
    (regression: re-reading our own written output used to fail)."""
    from tap_airbyte_wrapper_spark.sources.files import load_parquet

    ev = load_parquet(spark, f"{sf_dir}/events.parquet")   # genuine nanos
    d = str(tmp_path / "rewritten")
    ev.write.mode("overwrite").parquet(d)                  # Spark-native ts
    back = load_parquet(spark, d)
    assert dict(back.dtypes)["ts"].startswith("timestamp")
    assert back.count() == ev.count()
    a = sorted((r.event_id, r.ts) for r in ev.select("event_id", "ts").collect())
    b = sorted((r.event_id, r.ts) for r in back.select("event_id", "ts").collect())
    assert a == b


def test_singer_files_stdout_null_parity(spark, tmp_path):
    """The distributed files sink and the driver stdout sink must emit the
    SAME record payload for null-bearing rows (to_json defaults to dropping
    null fields; the reference's orjson output keeps them)."""
    from tap_airbyte_wrapper_spark.singer_io import (
        write_singer_files, write_singer_stdout)

    df = spark.createDataFrame(
        [(1, None, 1.5), (2, "bob", None)],
        "id long, name string, amount double")
    buf = io.StringIO()
    write_singer_stdout(df, "s", out=buf)
    stdout_recs = sorted(
        (json.loads(l)["record"] for l in buf.getvalue().splitlines()
         if json.loads(l)["type"] == "RECORD"),
        key=lambda r: r["id"])

    write_singer_files(df, "s", str(tmp_path / "singer_nulls"), mode="overwrite")
    lines = spark.read.text(str(tmp_path / "singer_nulls")).collect()
    file_recs = sorted((json.loads(r.value)["record"] for r in lines),
                       key=lambda r: r["id"])
    assert file_recs == stdout_recs
    assert set(file_recs[0]) == {"id", "name", "amount"}  # nulls serialized
    assert file_recs[0]["name"] is None


def test_load_parquet_restores_nanos_conf(spark, sf_dir):
    """load_parquet must not leak spark.sql.legacy.parquet.nanosAsLong into
    the session (a later probe-failing read would get raw longs)."""
    from tap_airbyte_wrapper_spark.sources.files import load_parquet

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    df = load_parquet(spark, f"{sf_dir}/events.parquet")
    assert spark.conf.get(key, None) == before
    # and the returned DataFrame still executes with converted timestamps
    assert df.count() > 0
    assert df.schema["ts"].dataType.typeName() == "timestamp"


def test_binary_columns_serialize_as_base64(spark):
    """Binary fields must emit base64 in the RECORD line (matching the
    declared contentEncoding), not a lossy UTF-8 decode."""
    import base64
    import json

    from tap_airbyte_wrapper_spark.singer_io import record_json_expr

    payload = bytes(range(256))
    df = spark.createDataFrame([(1, payload)], "id long, content binary")
    line = df.select(record_json_expr(df, "s")).first()[0]
    assert base64.b64decode(json.loads(line)["record"]["content"]) == payload


def test_sync_binary_files_source_end_to_end(spark, tmp_path):
    """Full tap run over the binary_files source: SCHEMA declares base64
    contentEncoding, RECORD payloads round-trip through base64."""
    import base64
    import io
    import json

    from tap_airbyte_wrapper_spark.sync import Engine

    payload = bytes(range(256))
    (tmp_path / "x.bin").write_bytes(payload)
    eng = Engine(spark, {
        "source": "binary_files",
        "source_config": {"path": str(tmp_path), "stream_name": "media"},
        "sink": {"type": "stdout"},
    })
    buf = io.StringIO()
    res = eng.sync(out=buf)
    assert res.stream_counts == {"media": 1}
    msgs = [json.loads(line) for line in buf.getvalue().splitlines()]
    schema = next(m for m in msgs if m["type"] == "SCHEMA")
    assert schema["schema"]["properties"]["content"]["contentEncoding"] == "base64"
    rec = next(m for m in msgs if m["type"] == "RECORD")
    assert base64.b64decode(rec["record"]["content"]) == payload
    assert rec["record"]["media_type"] == "application/octet-stream"


def test_parquet_sink_sorted_layout(spark, sf_dir, tmp_path):
    """sink sort_by='cursor' lays the synced stream out range-sorted on
    its replication key with MICROS timestamps, so the next incremental
    read's bookmark predicate prunes on footer statistics."""
    import glob

    import pyarrow.parquet as pq

    eng = make_engine(
        spark, sf_dir, tmp_path,
        streams=["events"], replication_method={"events": "INCREMENTAL"},
        sink={"type": "parquet", "path": str(tmp_path / "out"),
              "mode": "overwrite", "sort_by": "cursor"},
    )
    res = eng.sync()
    from tap_airbyte_wrapper_spark.sources.files import load_parquet
    total = load_parquet(spark, f"{sf_dir}/events.parquet").count()
    assert res.stream_counts["events"] == total

    rgs = []
    for f in glob.glob(str(tmp_path / "out" / "events" / "*.parquet")):
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            col = next(rg.column(j) for j in range(rg.num_columns)
                       if rg.column(j).path_in_schema == "ts")
            assert col.physical_type != "INT96"
            assert col.statistics is not None
            rgs.append((col.statistics.min, col.statistics.max))
    rgs.sort()
    assert len(rgs) >= 2
    for (_, hi), (lo, _) in zip(rgs, rgs[1:]):
        assert hi <= lo
    assert spark.read.parquet(str(tmp_path / "out" / "events")).count() == total


def test_schema_drift_merge_policy(spark, tmp_path):
    """on_schema_drift='merge': an upstream that ADDED a column after
    discovery keeps syncing against the configured catalog (new column
    dropped, catalog columns intact); the default still fails loudly."""
    import pytest

    from tap_airbyte_wrapper_spark.sources.base import SourceError

    src_dir = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a")], "id long, name string").write.parquet(src_dir)

    def make(policy=None):
        cfg = {"path": src_dir, "stream_name": "s"}
        if policy:
            cfg["on_schema_drift"] = policy
        return get_source("parquet", cfg)

    strict = make()
    entry = strict.discover(spark).streams[0]

    # upstream evolves: a second file lands with an extra column
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(src_dir)

    with pytest.raises(SourceError):
        # the drift check probes the UNION of footers, so the added
        # column is detected regardless of file listing order
        make().read(spark, entry)
    tolerant = make("merge")
    out = tolerant.read(spark, entry)
    assert out.columns == ["id", "name"]
    assert out.count() == 2

    # re-discover with merge widens the catalog; old rows carry nulls
    entry2 = tolerant.discover(spark).streams[0]
    assert "score" in [f.name for f in entry2.schema.fields]
    out2 = tolerant.read(spark, entry2)
    rows = {r.id: r.score for r in out2.collect()}
    assert rows == {1: None, 2: 9.5}


def test_sync_expectations_warn_and_fail(spark, sf_dir, tmp_path, caplog):
    """Config-declared quality rules gate the sync: warn mode logs and
    lands the batch; fail mode blocks the write AND the bookmark."""
    import logging

    from tap_airbyte_wrapper_spark.sources import SourceError
    from tap_airbyte_wrapper_spark.sync import Engine

    base_cfg = {
        "source": "dataset_dir",
        "source_config": {"path": sf_dir},
        "streams": ["events"],
        "sink": {"type": "parquet", "path": str(tmp_path / "out"),
                 "mode": "overwrite"},
        "expectations": {"events": [
            {"column": "event_id", "kind": "not_null"},
            {"column": "value", "kind": "in_range",
             "lo": 0.0, "hi": 1.0},          # violated: values go to ~490
        ]},
    }
    with caplog.at_level(logging.WARNING,
                         logger="tap_airbyte_wrapper_spark"):
        res = Engine(spark, dict(base_cfg)).sync()
    assert res.stream_counts.get("events", 0) > 0   # warn mode lands
    assert any("value:in_range" in r.message for r in caplog.records)

    failing = dict(base_cfg)
    failing["expectations_mode"] = "fail"
    failing["sink"] = {"type": "parquet",
                       "path": str(tmp_path / "out2"), "mode": "overwrite"}
    failing["state_path"] = str(tmp_path / "state.json")
    failing["replication_method"] = {"events": "INCREMENTAL"}
    with pytest.raises(SourceError, match="value:in_range"):
        Engine(spark, failing).sync()
    import os
    assert not os.path.exists(str(tmp_path / "out2" / "events"))
    assert not os.path.exists(str(tmp_path / "state.json"))


def test_sync_expectations_foreign_key_ref_stream(spark, sf_dir, tmp_path):
    from tap_airbyte_wrapper_spark.sync import Engine

    cfg = {
        "source": "dataset_dir",
        "source_config": {"path": sf_dir},
        "streams": ["orders"],
        "sink": {"type": "parquet", "path": str(tmp_path / "out"),
                 "mode": "overwrite"},
        "expectations_mode": "fail",
        "expectations": {"orders": [
            {"column": "o_custkey", "kind": "foreign_key",
             "ref_stream": "customer", "ref_col": "c_custkey"},
        ]},
    }
    # intact referential integrity: the fail gate passes the batch
    res = Engine(spark, cfg).sync()
    assert res.stream_counts.get("orders", 0) > 0


def test_sync_and_backfill_discover_once(spark, sf_dir, tmp_path):
    """One discovery plans the sync AND resolves a foreign_key rule's
    ref_stream, which need not be selected itself."""
    cfg = {
        "source": "dataset_dir",
        "source_config": {"path": sf_dir},
        "streams": ["orders", "events"],
        "replication_method": {"events": "INCREMENTAL"},
        "sink": {"type": "parquet", "path": str(tmp_path / "out"),
                 "mode": "overwrite"},
        "expectations": {
            "orders": [{"column": "o_custkey", "kind": "foreign_key",
                        "ref_stream": "customer", "ref_col": "c_custkey"}],
            "events": [{"column": "user_id", "kind": "foreign_key",
                        "ref_stream": "customer", "ref_col": "c_custkey"}],
        },
    }
    eng = Engine(spark, cfg)
    calls = []
    discover = eng.source.discover
    eng.source.discover = lambda s: calls.append(1) or discover(s)

    res = eng.sync()
    assert len(calls) == 1
    assert res.stream_counts["orders"] > 0
    assert eng._expectations["orders"][0].ref is not None

    calls.clear()
    n = eng.backfill("events", "2024-01-05 00:00:00", "2024-01-06 00:00:00")
    assert len(calls) == 1 and n > 0


def test_backfill_window_without_moving_bookmark(spark, sf_dir, tmp_path):
    """Backfill patches one historical cursor window; the forward
    bookmark is untouched, so the next incremental sync still resumes
    from where the LAST FULL SYNC left off."""
    import json as _json

    from tap_airbyte_wrapper_spark.sync import Engine

    state = str(tmp_path / "state.json")
    cfg = {
        "source": "dataset_dir",
        "source_config": {"path": sf_dir},
        "streams": ["events"],
        "replication_method": {"events": "INCREMENTAL"},
        "state_path": state,
        "sink": {"type": "parquet", "path": str(tmp_path / "out"),
                 "mode": "overwrite"},
    }
    eng = Engine(spark, cfg)
    eng.sync()
    committed = open(state).read()

    # patch one mid-January day into its own directory
    n = eng.backfill(
        "events", "2024-01-05 00:00:00", "2024-01-06 00:00:00",
        sink={"type": "parquet", "path": str(tmp_path / "patch"),
              "mode": "overwrite"})
    got = spark.read.parquet(str(tmp_path / "patch" / "events"))
    assert got.count() == n > 0
    ts = [r["ts"] for r in got.select("ts").collect()]
    import datetime
    assert min(ts) >= datetime.datetime(2024, 1, 5)
    assert max(ts) < datetime.datetime(2024, 1, 6)
    # the committed state file did not move
    assert open(state).read() == committed
    # and a fresh incremental sync sees no new records
    res = Engine(spark, cfg).sync()
    assert res.stream_counts.get("events", 0) == 0


def test_backfill_requires_cursor(spark, sf_dir, tmp_path):
    from tap_airbyte_wrapper_spark.sync import Engine

    cfg = {
        "source": "dataset_dir",
        "source_config": {"path": sf_dir},
        "streams": ["region"],
        "sink": {"type": "parquet", "path": str(tmp_path / "o")},
    }
    with pytest.raises(ValueError, match="cursor"):
        Engine(spark, cfg).backfill("region", 0, 1)


def test_backfill_stdout_sink_never_emits_or_moves_state(spark, sf_dir,
                                                         tmp_path):
    """The default stdout sink tracks state during a normal sync; a
    backfill through it must neither regress the in-memory bookmark
    nor emit a Singer STATE carrying the window's cursor."""
    import io

    from tap_airbyte_wrapper_spark.sync import Engine

    state = str(tmp_path / "state.json")
    cfg = {
        "source": "dataset_dir",
        "source_config": {"path": sf_dir},
        "streams": ["events"],
        "replication_method": {"events": "INCREMENTAL"},
        "state_path": state,
        "sink": {"type": "parquet", "path": str(tmp_path / "out"),
                 "mode": "overwrite"},
    }
    eng = Engine(spark, cfg)
    eng.sync()
    before = eng.state.get_bookmark("events", "ts")

    # backfill with NO sink argument and no config stdout override
    # still must not touch state even on the stdout path
    buf = io.StringIO()
    import contextlib
    with contextlib.redirect_stdout(buf):
        eng.backfill("events", "2024-01-05 00:00:00",
                     "2024-01-06 00:00:00", sink={"type": "stdout"})
    assert eng.state.get_bookmark("events", "ts") == before
    out = buf.getvalue()
    assert '"type":"RECORD"' in out
    # any STATE line must still carry the ORIGINAL bookmark, not the
    # backfill window's max
    for line in out.splitlines():
        if '"type":"STATE"' in line:
            assert "2024-01-05" not in line


def test_sync_expectations_survive_stream_map_rename(spark, sf_dir,
                                                     tmp_path, caplog):
    """Rules reference SOURCE columns; a map that renames the column
    must not break the gate (it runs pre-map)."""
    import logging

    from tap_airbyte_wrapper_spark.sync import Engine

    cfg = {
        "source": "dataset_dir",
        "source_config": {"path": sf_dir},
        "streams": ["events"],
        "stream_maps": {"events": {"eid": "event_id",
                                   "event_id": "__NULL__"}},
        "sink": {"type": "parquet", "path": str(tmp_path / "out"),
                 "mode": "overwrite"},
        "expectations": {"events": [
            {"column": "event_id", "kind": "not_null"},
            {"column": "value", "kind": "in_range", "lo": 0.0, "hi": 1.0},
        ]},
    }
    with caplog.at_level(logging.WARNING,
                         logger="tap_airbyte_wrapper_spark"):
        res = Engine(spark, cfg).sync()
    assert res.stream_counts.get("events", 0) > 0
    assert any("value:in_range" in r.message for r in caplog.records)


def test_backfill_unknown_stream_friendly_error(spark, sf_dir):
    from tap_airbyte_wrapper_spark.sync import Engine

    cfg = {"source": "dataset_dir", "source_config": {"path": sf_dir},
           "streams": ["events"]}
    with pytest.raises(ValueError, match="not in the configured"):
        Engine(spark, cfg).backfill("nope", 0, 1)
