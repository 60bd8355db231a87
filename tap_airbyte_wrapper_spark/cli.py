"""CLI: flag parity with the reference tap (tap_airbyte/tap.py:211-311).

``--config`` / ``--catalog`` / ``--state`` / ``--discover`` / ``--test`` /
``--about`` / ``--version`` dispatch to the engine lifecycle.  ``ENV`` as a
config value pulls from the environment like the reference's config
collection (tap.py:256-270).  ``--explain NAME`` (beyond-reference: the
reference has no query surface at all) prints the formatted physical
plan of any registry query — the plan-audit loop ("is the filter
pushed? did the dim broadcast?") as a first-class command.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from typing import Any

from pyspark.sql import SparkSession

__version__ = "0.1.0"


def _load_config(paths: list[str]) -> dict[str, Any]:
    cfg: dict[str, Any] = {}
    for p in paths:
        if p == "ENV":
            prefix = "TAP_AIRBYTE_SPARK_"
            for k, v in os.environ.items():
                if k.startswith(prefix):
                    cfg[k[len(prefix):].lower()] = v
            continue
        with open(p) as f:
            cfg.update(json.load(f))
    return cfg


def build_spark(master: str | None = None,
                conf: dict[str, str] | None = None) -> SparkSession:
    """The engine's SparkSession, the one session builder.

    It applies the engine's settings (session time zone UTC, adaptive
    execution with partition coalescing), then the caller's ``conf``,
    which wins on a shared key, then ``master`` if given.
    ``build_spark()`` is the CLI's session; tests, ``bench.py`` and the
    scripts pass their master, memory and shuffle settings here."""
    builder = SparkSession.builder.appName("tap-airbyte-wrapper-spark").config(
        map={"spark.sql.session.timeZone": "UTC",
             "spark.sql.adaptive.enabled": "true",
             "spark.sql.adaptive.coalescePartitions.enabled": "true",
             **(conf or {})})
    if master is not None:
        builder = builder.master(master)
    return builder.getOrCreate()


def print_spec_as_config(spec: dict[str, Any]) -> None:
    """Render a source spec as guided setup instructions — a commented
    config skeleton with ``fixme`` placeholders (parity with the
    reference's ``print_spec_as_config``, tap.py:498-522: descriptions
    become comments; object-typed properties expand one level, with
    ``oneOf`` variants listed as numbered options)."""

    def emit(props: dict[str, Any], indent: str) -> None:
        for prop, schema in props.items():
            typ = schema.get("type", "string")
            types = typ if isinstance(typ, list) else [typ]
            if "description" in schema:
                print(f"{indent}# {schema['description']}")
            if "object" in types:
                print(f"{indent}{prop}:")
                if "oneOf" in schema:
                    for i, one in enumerate(schema["oneOf"]):
                        print(f"{indent}  # Option {i + 1}")
                        emit(one.get("properties", {}), indent + "  ")
                else:
                    emit(schema.get("properties", {}), indent + "  ")
            else:
                default = schema.get("default")
                val = "fixme" if default is None else json.dumps(default)
                print(f"{indent}{prop}: {val}")

    print("\nSetup Instructions:\n")
    print("source_config:")
    emit(spec.get("properties", {}), "  ")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="tap-airbyte-wrapper-spark")
    ap.add_argument("--version", action="store_true")
    ap.add_argument("--about", action="store_true")
    ap.add_argument("--discover", action="store_true")
    ap.add_argument("--test", action="store_true")
    ap.add_argument("--config", action="append", default=[])
    ap.add_argument("--catalog", default=None)
    ap.add_argument("--state", default=None)
    ap.add_argument("--backfill", default=None, metavar="STREAM",
                    help="re-sync one historical cursor window of STREAM "
                         "without moving the forward bookmark "
                         "(requires --backfill-range)")
    ap.add_argument("--backfill-range", nargs=2, default=None,
                    metavar=("LO", "HI"),
                    help="half-open cursor window [LO, HI) for --backfill")
    ap.add_argument("--explain", default=None, metavar="QUERY",
                    help="print the formatted physical plan of a registry "
                         "query (list names with --explain list)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                    help="data directory for --explain")
    args = ap.parse_args(argv)

    if args.version:
        print(f"tap-airbyte-wrapper-spark v{__version__}")
        return 0

    if args.explain:
        import __spark_entry__ as entry_mod

        qs = entry_mod.queries()
        if args.explain == "list":
            print("\n".join(sorted(qs)))
            return 0
        if args.explain not in qs:
            print(f"error: unknown query {args.explain!r}; "
                  "use --explain list", file=sys.stderr)
            return 1
        df = qs[args.explain](build_spark(), args.sf_dir)
        df.explain(mode="formatted")
        return 0

    config = _load_config(args.config)
    if args.state:
        config["state_path"] = args.state

    from .sources import SourceError, list_sources
    from .sync import Engine

    if args.about and not config:
        print(json.dumps({"sources": sorted(list_sources())}, indent=2))
        return 0

    spark = build_spark()
    try:
        engine = Engine(spark, config)
    except SourceError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1

    if args.about:
        print(json.dumps({"spec": engine.spec()}, indent=2, sort_keys=True))
        print_spec_as_config(engine.spec())
        return 0
    if args.test:
        ok = engine.check()
        print(json.dumps({"connection": "succeeded" if ok else "failed"}))
        return 0 if ok else 1
    if args.discover:
        print(json.dumps(engine.discover().to_dict(), indent=2, sort_keys=True))
        return 0
    if args.catalog:
        with open(args.catalog) as f:
            cat_doc = json.load(f)
        # Full configured-catalog parity (reference tap.py:749-774 via
        # singer_sdk metadata): per-stream selection AND replication
        # method both come from the catalog document.  `selected` and
        # `replication-method` live either at the stream level or in
        # the root-breadcrumb metadata entry; a `forced-replication-
        # method` wins over a plain one.  Catalog-declared methods
        # override the config's replication_method map per stream.
        selected: list[str] = []
        methods = dict(config.get("replication_method") or {})
        for s in (cat_doc.get("streams") or []):
            name = (s.get("name") or s.get("tap_stream_id")
                    or s.get("stream"))
            if not name:
                continue
            # `or` instead of .get defaults: tools emit explicit JSON
            # null for empty metadata, and a present-but-null key
            # bypasses a .get(default)
            root_md = next(
                ((m.get("metadata") or {})
                 for m in (s.get("metadata") or [])
                 if isinstance(m, dict) and not m.get("breadcrumb")), {})
            # Explicit JSON null at the stream level is "unset", not
            # "selected" — fall through to the metadata entry.
            sel = s.get("selected")
            if sel is None:
                sel = root_md.get("selected")
            if sel is False:
                continue
            selected.append(name)
            # Forced (either location) outranks plain (either location):
            # forced is the SOURCE's capability declaration, plain is a
            # user preference.
            method = (root_md.get("forced-replication-method")
                      or s.get("forced-replication-method")
                      or root_md.get("replication-method")
                      or s.get("replication-method")
                      or s.get("replication_method"))
            if method:
                methods[name] = method
        config["streams"] = selected
        if methods:
            config["replication_method"] = methods
    if args.backfill:
        if not args.backfill_range:
            print("error: --backfill needs --backfill-range LO HI",
                  file=sys.stderr)
            return 2
        lo, hi = args.backfill_range
        try:
            n = engine.backfill(args.backfill, lo, hi)
        except (ValueError, SourceError) as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        print(json.dumps({"backfilled": n, "stream": args.backfill,
                          "range": [lo, hi]}))
        return 0

    engine.sync()
    return 0


if __name__ == "__main__":
    sys.exit(main())
