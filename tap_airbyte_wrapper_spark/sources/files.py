"""File-based sources: parquet / csv / json / jsonl directories.

The reference's closest analogue is ``airbyte/source-file`` (exercised by
tests/test_syncs.py:22-74 with a CSV), which infers a JSON Schema from the
file and emits one stream.  Here the Spark readers do the inference and the
scan is distributed + pushdown-capable from the start:

* parquet: schema from footer, predicate + projection pushdown for free;
* csv/json: one schema-inference pass (bounded via samplingRatio), then a
  schema-pinned scan so the read is single-pass at scale.

A ``dataset_dir`` source maps a directory of ``<table>.parquet`` files to a
multi-stream catalog — the local stand-in for a multi-stream connector and
the reader used for the driver's TPC-H-ish testdata.
"""

from __future__ import annotations

import glob
import json
import os
from typing import Any

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

try:
    import pyarrow.parquet as _pq
except ImportError:  # pragma: no cover - pyarrow ships in this env
    _pq = None

from ..casefold import lower
from ..catalog import Catalog, StreamEntry, SyncMode
from ..confutil import scoped_conf
from .base import Source, SourceError, register

# Streams in the driver corpus that support incremental sync, with their
# cursor columns (events is the designated incremental stream, FIXTURES.md §4).
_DEFAULT_CURSORS = {"events": "ts"}
_DEFAULT_PKS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _nanos_columns(path: str) -> list[str]:
    """Columns stored as parquet INT64 TIMESTAMP(NANOS) — the one shape
    Spark rejects.  Checked at the PARQUET schema level: pyarrow's arrow
    view also reports INT96 (Spark's own legacy timestamp) as
    ``timestamp[ns]``, but Spark reads INT96 natively and must NOT get
    the div-1000 conversion."""
    if _pq is None:
        return []
    probe = glob.glob(os.path.join(path, "*.parquet")) if os.path.isdir(path) else [path]
    if not probe:
        return []
    try:
        pqschema = _pq.ParquetFile(probe[0]).schema
        out = []
        for i in range(len(pqschema)):
            col = pqschema.column(i)
            if (col.physical_type == "INT64"
                    and "nanos" in str(col.logical_type).lower()):
                out.append(col.name)
        return out
    except Exception:
        return []


def conform_to_schema(df: DataFrame, schema) -> DataFrame:
    """Project ``df`` onto ``schema`` (a StructType): present columns are
    cast to the declared type, missing columns materialize as typed
    nulls, surplus columns are dropped.  This is the Airbyte/Singer
    contract under schema evolution — the configured catalog is the
    interface; upstream drift must not break a running sync, and NEW
    columns appear only after a re-discover updates the catalog."""
    cols = []
    have = set(df.columns)
    for field in schema.fields:
        if field.name in have:
            cols.append(F.col(field.name).cast(field.dataType)
                        .alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, read from the
    file's footer on the driver, with no Spark job.

    Spark's inference task does the same work on an executor: it reads
    the footer and converts it with ``ParquetToSparkSchemaConverter``
    through ``ParquetFileFormat.readSchemaFromFooter`` (which prefers the
    Catalyst schema a Spark writer stores in the footer); the data source
    then makes every field nullable.  The converter is built from the
    session conf, so the caller's scoped confs apply to it as they do to
    inference.  (Inference leaves the converter's case-sensitivity,
    field-id and variant-annotation flags at their defaults; only a
    session that sets ``spark.sql.parquet.ignoreVariantAnnotation``
    would see a difference, on variant columns.)

    Returns None, leaving the read to Spark's inference, when ``path`` is
    not one plain local file (a directory, glob, or a ``_``/``.`` file
    that Spark's listing treats as hidden) or its footer cannot be read;
    errors then surface from Spark exactly as before.
    """
    name = os.path.basename(path)
    if (not os.path.isfile(path) or name.startswith(("_", "."))
            or any(c in path for c in "{}[]*?\\")):
        return None
    # JavaClass by full name: ``spark._jvm.org.apache...`` would pay one
    # Py4J round-trip per package segment, on every call
    def jclass(name: str) -> JavaClass:
        return JavaClass(name, spark._jvm._gateway_client)

    parquet = "org.apache.spark.sql.execution.datasources.parquet."
    state = spark._jsparkSession.sessionState()
    hpath = jclass("org.apache.hadoop.fs.Path")(os.path.abspath(path))
    try:
        meta = jclass(parquet + "ParquetFooterReader").readFooter(
            jclass("org.apache.parquet.hadoop.util.HadoopInputFile")
            .fromPath(hpath, state.newHadoopConf()),
            jclass("org.apache.parquet.format.converter."
                   "ParquetMetadataConverter").SKIP_ROW_GROUPS)
        schema = jclass(parquet + "ParquetFileFormat").readSchemaFromFooter(
            jclass("org.apache.parquet.hadoop.Footer")(hpath, meta),
            jclass(parquet + "ParquetToSparkSchemaConverter")(state.conf()),
        ).asNullable()
    except Py4JError:
        return None
    return StructType.fromJson(json.loads(schema.json()))


def _schema_confs(ns_cols: list[str]) -> dict[str, str]:
    """Session confs under which a parquet schema resolves (see
    :func:`load_parquet`)."""
    confs = {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"}
    if ns_cols:
        confs["spark.sql.legacy.parquet.nanosAsLong"] = "true"
    return confs


# The nanos rule, in one place: an INT64 TIMESTAMP(NANOS) column resolves
# to raw longs under nanosAsLong, and surfaces as the microsecond
# TIMESTAMP this expression computes.
def _nanos_as_timestamp(c: str):
    return F.expr(f"timestamp_micros(`{c}` div 1000)")


def _nanos_as_timestamp_schema(schema: StructType,
                               ns_cols: list[str]) -> StructType:
    return StructType([
        StructField(f.name, TimestampType(), f.nullable)
        if f.name in ns_cols else f for f in schema.fields])


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema :func:`load_parquet` returns for ``path``, without
    building a DataFrame: for one plain file it is the footer schema
    under the same scoped confs and nanos rule, read on the driver;
    anything else falls back to ``load_parquet(...).schema``."""
    ns_cols = _nanos_columns(path)
    with scoped_conf(spark, _schema_confs(ns_cols)):
        schema = _footer_schema(spark, path)
    if schema is None:
        return load_parquet(spark, path).schema
    return _nanos_as_timestamp_schema(schema, ns_cols)


def load_parquet(
    spark: SparkSession,
    path: str,
    cursor_after: tuple[str, Any] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Parquet scan tolerant of TIMESTAMP(NANOS) columns, with
    pushdown-preserving cursor filtering.

    Spark has no nanosecond timestamp type and rejects such files outright.
    When the footer declares ``timestamp[ns]`` columns we read them as longs
    (``spark.sql.legacy.parquet.nanosAsLong``) and convert to microsecond
    timestamps with an integer-division expression — JVM-side, no precision
    loss (a double division WOULD lose precision at 1e18 ns).

    The schema is resolved when this function returns.  For a single file
    without ``merge_schema`` it comes from that file's current footer,
    read on the driver (``_footer_schema``) and pinned on the reader, so
    planning a scan starts no Spark job.  Directories, globs and
    ``merge_schema`` reads keep Spark's schema inference, which runs a
    job inside ``spark.read.parquet``.

    ``cursor_after=(column, bookmark)`` applies the incremental predicate
    *before* any conversion: for a nanos column the bookmark is converted to
    an epoch-nanos long and compared against the raw physical column, so the
    filter still reaches the parquet scan (row-group pruning at scale)
    instead of sitting above a derived expression where Catalyst cannot
    push it.
    """
    ns_cols = _nanos_columns(path)
    # Scope session confs to the schema resolution: both routes convert
    # the footer to a Catalyst schema before the reader returns, so the
    # confs can be restored immediately (actions on the returned
    # DataFrame still succeed).
    # - nanosAsLong (only when the footer declares nanos): leaking it true
    #   would make a later file whose probe failed read nanos as raw longs
    #   with no div-1000 conversion.
    # - inferTimestampNTZ=false (always): naive parquet timestamps
    #   (isAdjustedToUTC=false) otherwise surface as TIMESTAMP_NTZ, which
    #   Spark bars from event-time watermarks and numeric casts.  Reading
    #   them as session-tz TIMESTAMP (the session is pinned to UTC
    #   throughout the engine) keeps one uniform timestamp dtype, and the
    #   conversion happens at schema resolution so cursor filters still
    #   reach the scan.
    with scoped_conf(spark, _schema_confs(ns_cols)):
        reader = spark.read
        schema = None if merge_schema else _footer_schema(spark, path)
        if schema is not None:
            reader = reader.schema(schema)
        elif merge_schema:
            # union the footer schemas across all files (an evolving
            # directory where later files added columns); default reads
            # one file's schema and silently drops the rest
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(path)

    if cursor_after is not None:
        col, bookmark = cursor_after
        if bookmark is not None:
            if col in ns_cols:
                # The bookmark is rendered in the session time zone, so
                # Spark's own string -> timestamp cast reads it back; the
                # foldable bound becomes a literal in the optimizer and
                # the filter on the raw column is still pushed down.
                # Bookmarks are microsecond-truncated; raw values keep
                # nanos.  Widen by 999 ns so every row whose truncated
                # value == bookmark is treated as already synced.
                nanos = F.unix_micros(F.lit(bookmark).cast("timestamp"))
                df = df.filter(F.col(col) > nanos * 1000 + 999)
            else:
                ctype = df.schema[col].dataType
                df = df.filter(F.col(col) > F.lit(bookmark).cast(ctype))

    for c in ns_cols:
        df = df.withColumn(c, _nanos_as_timestamp(c))
    return df


class _FileSource(Source):
    """Single-stream file source: one path (file, directory or glob) is
    one stream with an optional cursor column.  Subclasses say how the
    path loads (``_load``, which discovery reads the schema from); a
    full read checks the loaded schema against the configured catalog
    (:meth:`_drift_checked`), and incremental reads take the base
    cursor filter over ``read``."""

    @classmethod
    def spec(cls) -> dict[str, Any]:
        return {
            "type": "object",
            "properties": {
                "path": {"type": "string", "description": "parquet path/glob"},
                "stream_name": {"type": ["string", "null"]},
                "cursor_field": {"type": ["string", "null"]},
                "primary_keys": {"type": ["array", "null"], "items": {"type": "string"}},
                "on_schema_drift": {
                    "type": ["string", "null"],
                    "enum": ["fail", "merge", None],
                    "description": "fail (default): error when files no "
                    "longer match the configured catalog; merge: read with "
                    "union-of-footers schema and conform output to the "
                    "catalog (missing columns null, new columns dropped "
                    "until re-discover)",
                },
            },
            "required": ["path"],
        }

    def _stream_name(self) -> str:
        if self.config.get("stream_name"):
            return self.config["stream_name"]
        base = os.path.basename(self.config["path"].rstrip("/"))
        return base.split(".")[0] or "stream"

    def _merge(self) -> bool:
        return self.config.get("on_schema_drift") == "merge"

    def discover(self, spark: SparkSession) -> Catalog:
        df = self._load(spark)
        cursor = self.config.get("cursor_field")
        modes = [SyncMode.FULL_REFRESH] + ([SyncMode.INCREMENTAL] if cursor else [])
        return Catalog(
            [
                StreamEntry(
                    name=self._stream_name(),
                    schema=df.schema,
                    primary_keys=list(self.config.get("primary_keys") or []),
                    replication_key=cursor,
                    supported_sync_modes=modes,
                    source=self.name,
                )
            ]
        )

    def read(self, spark: SparkSession, stream: StreamEntry) -> DataFrame:
        return self._drift_checked(self._load(spark), stream)

    def _drift_checked(self, df: DataFrame, stream: StreamEntry) -> DataFrame:
        """``df`` when its schema is the catalog's.  Otherwise fail
        loudly (the default: the configured catalog is a contract), or
        with on_schema_drift="merge" conform to the catalog — missing
        columns null, new columns dropped until a re-discover widens
        the catalog."""
        if df.schema == stream.schema:
            return df
        if self._merge():
            return conform_to_schema(df, stream.schema)
        raise SourceError(
            f"schema drift on stream {stream.name!r}: "
            f"discovered {stream.schema.simpleString()}, "
            f"now {df.schema.simpleString()}")


@register
class ParquetSource(_FileSource):
    """Single-stream parquet path source."""

    name = "parquet"

    def _load(self, spark: SparkSession) -> DataFrame:
        return load_parquet(
            spark, self.config["path"], merge_schema=self._merge())

    def read(self, spark: SparkSession, stream: StreamEntry) -> DataFrame:
        # The drift check must probe with the UNION of all footers
        # (mergeSchema): a plain read infers from one arbitrary file, so
        # a column added by newer files is visible or invisible
        # depending on listing order — a contract check cannot be
        # file-order-dependent.  (The probe is a footer-metadata pass,
        # parallelized by Spark; no data read.)
        return self._drift_checked(
            load_parquet(spark, self.config["path"], merge_schema=True),
            stream)

    def read_incremental(self, spark: SparkSession, stream: StreamEntry, bookmark: Any) -> DataFrame:
        df = load_parquet(
            spark, self.config["path"],
            cursor_after=(stream.replication_key, bookmark)
            if stream.replication_key else None,
            merge_schema=self._merge(),
        )
        if self._merge() and df.schema != stream.schema:
            df = conform_to_schema(df, stream.schema)
        return df


@register
class CsvSource(_FileSource):
    """Single-stream CSV source (header + inferred schema, like
    airbyte/source-file's CSV mode)."""

    name = "csv"

    @classmethod
    def spec(cls) -> dict[str, Any]:
        s = super().spec()
        s["properties"]["delimiter"] = {"type": ["string", "null"], "default": ","}
        s["properties"]["header"] = {"type": ["boolean", "null"], "default": True}
        return s

    def _reader(self, spark: SparkSession):
        return (
            spark.read.option("header", str(self.config.get("header", True)).lower())
            .option("delimiter", self.config.get("delimiter", ","))
        )

    def _load(self, spark: SparkSession) -> DataFrame:
        return self._reader(spark).option("inferSchema", "true").csv(self.config["path"])

    def read(self, spark: SparkSession, stream: StreamEntry) -> DataFrame:
        return self._reader(spark).schema(stream.schema).csv(self.config["path"])


@register
class JsonSource(_FileSource):
    """Single-stream JSONL source.

    ``quarantine_path`` config (optional): malformed lines are diverted
    there instead of silently becoming all-null rows (the reference's
    world handles per-record connector errors the same way — bad
    records must neither kill the sync nor corrupt the stream).  The
    read becomes text-scan + ``from_json``: a line the parser cannot
    turn into the stream schema (``from_json`` -> NULL struct) is
    written verbatim to the quarantine directory (one eager job), and
    ``read`` returns only the good, typed rows.  Costs one extra parse
    of the input versus the plain path — only when quarantine is on;
    incremental syncs filter over ``read``, so quarantine applies to
    them too.
    """

    name = "json"

    @classmethod
    def spec(cls) -> dict[str, Any]:
        s = super().spec()
        s["properties"]["quarantine_path"] = {
            "type": ["string", "null"],
            "description": "divert malformed lines here instead of "
                           "failing or null-filling",
        }
        return s

    def _load(self, spark: SparkSession) -> DataFrame:
        df = spark.read.json(self.config["path"])
        # malformed lines during discovery must not leak the inference
        # engine's corrupt-record column into the stream contract
        junk = spark.conf.get(
            "spark.sql.columnNameOfCorruptRecord", "_corrupt_record")
        return df.drop(junk) if junk in df.columns else df

    def read(self, spark: SparkSession, stream: StreamEntry) -> DataFrame:
        q = self.config.get("quarantine_path")
        if not q:
            return spark.read.schema(stream.schema).json(self.config["path"])
        from pyspark.sql.types import StructField, StringType

        # PERMISSIVE from_json yields an all-null struct for a malformed
        # line (indistinguishable from a legitimately-null record), so
        # parse with an explicit corrupt-record field: the parser fills
        # it with the raw line exactly when parsing failed.
        marked = type(stream.schema)(
            list(stream.schema.fields)
            + [StructField("_corrupt_record", StringType())])
        raw = spark.read.text(self.config["path"]).filter(
            F.trim(F.col("value")) != "")
        parsed = raw.select("value", F.from_json(
            F.col("value"), marked,
            {"columnNameOfCorruptRecord": "_corrupt_record"}).alias("__rec"))
        bad = parsed.filter(
            F.col("__rec._corrupt_record").isNotNull()).select("value")
        bad.write.mode("overwrite").text(q)
        return (
            parsed.filter(F.col("__rec._corrupt_record").isNull())
            .select("__rec.*").drop("_corrupt_record")
        )


@register
class OrcSource(_FileSource):
    """Single-stream ORC source.  Same columnar pushdown story as
    parquet (Spark's native ORC reader does predicate pushdown + column
    pruning via file/stripe statistics); schema comes from the ORC
    footer, so discovery needs no inference pass.  Incremental reads use
    the base cursor-filter path (``Source.read_incremental``) — the
    predicate lands in ``PushedFilters`` of the ORC scan."""

    name = "orc"

    def _load(self, spark: SparkSession) -> DataFrame:
        return spark.read.orc(self.config["path"])


@register
class DatasetDirSource(Source):
    """Multi-stream source over a directory of ``<table>.parquet`` files.

    The local analogue of a multi-stream Airbyte connector; used for
    /root/testdata/sf*/.  Cursor/PK metadata comes from config overrides,
    falling back to the driver-corpus defaults.
    """

    name = "dataset_dir"

    @classmethod
    def spec(cls) -> dict[str, Any]:
        return {
            "type": "object",
            "properties": {
                "path": {"type": "string", "description": "directory of <table>.parquet"},
                "cursors": {"type": ["object", "null"]},
                "primary_keys": {"type": ["object", "null"]},
            },
            "required": ["path"],
        }

    def _tables(self) -> list[tuple[str, str]]:
        root = self.config["path"]
        hits = sorted(glob.glob(os.path.join(root, "*.parquet")))
        if not hits:
            raise SourceError(f"no *.parquet under {root!r}")
        return [(os.path.basename(p).rsplit(".", 1)[0], p) for p in hits]

    def discover(self, spark: SparkSession) -> Catalog:
        cursors = {**_DEFAULT_CURSORS, **(self.config.get("cursors") or {})}
        pks = {**_DEFAULT_PKS, **(self.config.get("primary_keys") or {})}
        cat = Catalog()
        for name, path in self._tables():
            schema = parquet_schema(spark, path)
            cursor = cursors.get(name)
            cat.add(
                StreamEntry(
                    name=name,
                    schema=schema,
                    primary_keys=list(pks.get(name, [])),
                    replication_key=cursor if cursor in schema.names else None,
                    supported_sync_modes=[SyncMode.FULL_REFRESH]
                    + ([SyncMode.INCREMENTAL] if cursor in schema.names else []),
                    source=self.name,
                    options={"path": path},
                )
            )
        return cat

    def _path_for(self, stream: StreamEntry) -> str:
        return stream.options.get("path") or os.path.join(
            self.config["path"], f"{stream.name}.parquet"
        )

    def read(self, spark: SparkSession, stream: StreamEntry) -> DataFrame:
        return load_parquet(spark, self._path_for(stream))

    def read_incremental(self, spark: SparkSession, stream: StreamEntry, bookmark: Any) -> DataFrame:
        return load_parquet(
            spark, self._path_for(stream),
            cursor_after=(stream.replication_key, bookmark)
            if stream.replication_key else None,
        )


@register
class BinaryFileSource(Source):
    """Media-file source over Spark's ``binaryFile`` format: one row per
    file — (path, modificationTime, length, content) — plus an inferred
    ``media_type`` column, feeding the multimodal decode pipeline
    (``functions/multimodal.py``) directly.

    The reference has no binary ingestion at all (its records are JSON,
    bytes are UTF-8-decoded at the serializer, reference tap.py:55-56);
    a training-data engine needs raw image/audio/video bytes as
    first-class rows.  Incremental sync cursors on ``modificationTime``
    — the binaryFile source pushes modificationTime/length filters down
    to the file listing, so resumed syncs never open old files.

    Config: ``path`` (directory), optional ``glob`` (e.g. "*.png"),
    ``stream_name``.  Large files: binaryFile caps at
    ``spark.sql.sources.binaryFile.maxLength`` (default 2 GB); shard
    bigger blobs upstream.
    """

    name = "binary_files"

    _EXT_TYPES = {
        "png": "image/png", "jpg": "image/jpeg", "jpeg": "image/jpeg",
        "gif": "image/gif", "wav": "audio/wav", "mp3": "audio/mpeg",
        "mp4": "video/mp4", "webm": "video/webm",
    }

    @classmethod
    def spec(cls) -> dict[str, Any]:
        return {
            "type": "object",
            "properties": {
                "path": {"type": "string", "description": "directory of media files"},
                "glob": {"type": ["string", "null"], "description": "pathGlobFilter"},
                "stream_name": {"type": ["string", "null"]},
            },
            "required": ["path"],
        }

    def _stream_name(self) -> str:
        return (self.config.get("stream_name")
                or os.path.basename(self.config["path"].rstrip("/"))
                or "media")

    def _load(self, spark: SparkSession) -> DataFrame:
        reader = spark.read.format("binaryFile")
        if self.config.get("glob"):
            reader = reader.option("pathGlobFilter", self.config["glob"])
        df = reader.load(self.config["path"])
        ext = lower(F.element_at(F.split(F.col("path"), r"\."), -1))
        mtype = F.lit("application/octet-stream")
        for e, t in self._EXT_TYPES.items():
            mtype = F.when(ext == e, F.lit(t)).otherwise(mtype)
        return df.withColumn("media_type", mtype)

    def discover(self, spark: SparkSession) -> Catalog:
        return Catalog([
            StreamEntry(
                name=self._stream_name(),
                schema=self._load(spark).schema,
                primary_keys=["path"],
                replication_key="modificationTime",
                supported_sync_modes=[SyncMode.FULL_REFRESH, SyncMode.INCREMENTAL],
                source=self.name,
            )
        ])

    def read(self, spark: SparkSession, stream: StreamEntry) -> DataFrame:
        return self._load(spark)

    def read_incremental(self, spark: SparkSession, stream: StreamEntry, bookmark: Any) -> DataFrame:
        df = self._load(spark)
        if bookmark is not None:
            # pushed to the file listing by the binaryFile source
            df = df.filter(
                F.col("modificationTime")
                > F.lit(bookmark).cast("timestamp"))
        return df


@register
class TextLinesSource(Source):
    """Raw-text corpus source over ``spark.read.text``: one row per
    line — ``(value, source_file)`` — the ingestion front door for
    line-delimited corpora (one document per line, the common
    web-corpus interchange) that are not yet typed JSONL/CSV.

    The reference reads such data only through a connector
    (source-file); here it is a first-class stream whose rows feed the
    curation layer (``functions/text.py``/``corpus.py``) directly.
    ``wholetext=true`` flips to one row per FILE (document-per-file
    corpora) — same schema, the whole file body in ``value``.

    Scale shape: the text reader splits large files by
    ``maxPartitionBytes`` like any file scan (except in wholetext
    mode, where a file is one record by definition); ``source_file``
    is the metadata column, not a Python addition.  No incremental
    cursor — raw text has none; pair with ``exact_dedup`` or land via
    the merge sink keyed on content fingerprint for effective
    idempotence.
    """

    name = "text_lines"

    @classmethod
    def spec(cls) -> dict[str, Any]:
        return {
            "type": "object",
            "properties": {
                "path": {"type": "string",
                         "description": "file/dir/glob of text files"},
                "wholetext": {"type": ["boolean", "null"],
                              "description": "one row per file"},
                "line_sep": {"type": ["string", "null"]},
                "stream_name": {"type": ["string", "null"]},
            },
            "required": ["path"],
        }

    def _stream_name(self) -> str:
        return (self.config.get("stream_name")
                or os.path.basename(self.config["path"].rstrip("/"))
                or "text")

    def _load(self, spark: SparkSession) -> DataFrame:
        reader = spark.read.format("text")
        if self.config.get("wholetext"):
            reader = reader.option("wholetext", "true")
        if self.config.get("line_sep"):
            reader = reader.option("lineSep", self.config["line_sep"])
        return reader.load(self.config["path"]).select(
            F.col("value"),
            F.input_file_name().alias("source_file"),
        )

    def discover(self, spark: SparkSession) -> Catalog:
        return Catalog([
            StreamEntry(
                name=self._stream_name(),
                schema=self._load(spark).schema,
                primary_keys=[],
                replication_key=None,
                supported_sync_modes=[SyncMode.FULL_REFRESH],
                source=self.name,
            )
        ])

    def read(self, spark: SparkSession, stream: StreamEntry) -> DataFrame:
        return self._load(spark)
