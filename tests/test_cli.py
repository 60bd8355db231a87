"""CLI flag parity tests (reference tap.py:211-311, 498-522)."""

import json
import os
import pathlib
import re

from tap_airbyte_wrapper_spark.cli import main, print_spec_as_config

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_version(capsys):
    assert main(["--version"]) == 0
    assert capsys.readouterr().out.startswith("tap-airbyte-wrapper-spark v")


def test_about_without_config_lists_sources(capsys):
    assert main(["--about"]) == 0
    listed = json.loads(capsys.readouterr().out)["sources"]
    assert {"changelog", "dataset_dir", "rest", "jdbc"} <= set(listed)


def test_about_renders_guided_setup(spark, sf_dir, tmp_path, capsys):
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps(
        {"source": "dataset_dir", "source_config": {"path": sf_dir}}))
    assert main(["--config", str(cfg), "--about"]) == 0
    out = capsys.readouterr().out
    # JSON spec first, then the reference-style commented skeleton
    assert '"spec"' in out
    assert "Setup Instructions:" in out
    assert "source_config:" in out
    assert "# directory of <table>.parquet" in out
    assert "path: fixme" in out


def test_print_spec_as_config_oneof_and_defaults(capsys):
    print_spec_as_config({
        "type": "object",
        "properties": {
            "plain": {"type": "string", "description": "a plain prop"},
            "with_default": {"type": "integer", "default": 3},
            "nested": {
                "type": "object",
                "oneOf": [
                    {"properties": {"a": {"type": "string"}}},
                    {"properties": {"b": {"type": "string",
                                          "description": "inner b"}}},
                ],
            },
        },
    })
    out = capsys.readouterr().out
    assert "# a plain prop" in out
    assert "with_default: 3" in out          # default beats fixme
    assert "# Option 1" in out and "# Option 2" in out
    assert "# inner b" in out
    assert out.index("# Option 1") < out.index("a: fixme")


def test_cli_explain_prints_plan(capsys):
    from tap_airbyte_wrapper_spark.cli import main

    assert main(["--explain", "q1_pricing_summary"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "PushedFilters" in out


def test_cli_explain_list_and_unknown(capsys):
    from tap_airbyte_wrapper_spark.cli import main

    assert main(["--explain", "list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out
    assert main(["--explain", "no_such_query"]) == 1


def test_cli_backfill(tmp_path, capsys):
    import json

    from tap_airbyte_wrapper_spark.cli import main

    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({
        "source": "dataset_dir",
        "source_config": {"path": "/root/testdata/sf0.001"},
        "streams": ["events"],
        "replication_method": {"events": "INCREMENTAL"},
        "sink": {"type": "parquet", "path": str(tmp_path / "out"),
                 "mode": "overwrite"},
    }))
    rc = main(["--config", str(cfg), "--backfill", "events",
               "--backfill-range", "2024-01-05 00:00:00",
               "2024-01-06 00:00:00"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["stream"] == "events" and out["backfilled"] > 0
    assert main(["--config", str(cfg), "--backfill", "events"]) == 2


def test_cli_catalog_drives_replication_method(tmp_path, capsys):
    """A configured catalog document ALONE (no config replication_method)
    drives per-stream selection AND sync mode — reference parity with
    tap.py's forced-replication-method metadata handling."""
    import json

    from tap_airbyte_wrapper_spark.cli import main

    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({
        "source": "dataset_dir",
        "source_config": {"path": "/root/testdata/sf0.001"},
    }))
    catalog = tmp_path / "catalog.json"
    catalog.write_text(json.dumps({"streams": [
        {"name": "events", "metadata": [
            {"breadcrumb": [],
             "metadata": {"selected": True,
                          "forced-replication-method": "INCREMENTAL"}}]},
        {"name": "region",
         "metadata": [{"breadcrumb": [],
                       "metadata": {"selected": False}}]},
    ]}))
    state = tmp_path / "state.json"
    rc = main(["--config", str(cfg), "--catalog", str(catalog),
               "--state", str(state)])
    assert rc == 0
    lines = [json.loads(l) for l in
             capsys.readouterr().out.strip().splitlines()]
    streams = {m.get("stream") for m in lines if m.get("type") == "RECORD"}
    assert streams == {"events"}          # region deselected via metadata
    # INCREMENTAL came from the catalog: the final STATE message carries
    # an events bookmark
    states = [m for m in lines if m.get("type") == "STATE"]
    assert states, "expected STATE messages"
    bm = states[-1]["value"]["bookmarks"]["events"]
    assert bm.get("ts")  # cursor bookmark exists => INCREMENTAL took


def test_cli_backfill_unknown_ref_stream_is_friendly(tmp_path, capsys):
    """A foreign_key rule naming a nonexistent ref_stream must exit via
    the CLI error contract, not a raw KeyError traceback."""
    import json

    from tap_airbyte_wrapper_spark.cli import main

    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({
        "source": "dataset_dir",
        "source_config": {"path": "/root/testdata/sf0.001"},
        "streams": ["events"],
        "replication_method": {"events": "INCREMENTAL"},
        "expectations": {"events": [
            {"column": "user_id", "kind": "foreign_key",
             "ref_stream": "no_such_stream", "ref_column": "id"}]},
        "sink": {"type": "parquet", "path": str(tmp_path / "out"),
                 "mode": "overwrite"},
    }))
    rc = main(["--config", str(cfg), "--backfill", "events",
               "--backfill-range", "2024-01-05 00:00:00",
               "2024-01-06 00:00:00"])
    assert rc == 1
    err = capsys.readouterr().err
    assert "no_such_stream" in err and "Traceback" not in err


def test_cli_build_spark_is_the_only_session_builder():
    """Every session outside the benchmark harness comes from
    ``cli.build_spark``, so the engine's settings live in one place."""
    builder = re.compile(r"SparkSession\s*\.\s*builder")
    found = []
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs
                   if not d.startswith(".") and d != "perfbench"]
        for name in files:
            path = os.path.join(dirpath, name)
            if name.endswith(".py") and builder.search(
                    pathlib.Path(path).read_text(encoding="utf-8")):
                found.append(os.path.relpath(path, ROOT))
    assert found == [os.path.join("tap_airbyte_wrapper_spark", "cli.py")]


def test_spark_fixture_carries_the_test_settings(spark):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.sparkContext.master == "local[4]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.sparkContext.getConf().get("spark.driver.memory") == "4g"
