"""Correctness checks, run outside the timed region.

Every check returns a list of failure messages; an empty list means the
output is correct.  The references are computed independently of the
engine: parquet footers, pyarrow filters, duckdb oracles and a pandas
replay of the CDC batches.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(val) -> str:
    """Strict cell form, the one the repo's oracle-parity test uses:
    numpy scalars unwrapped, then repr, so int 0 vs float 0.0 and
    last-ulp float noise mismatch; only NULL and NaN fold together."""
    if val is None:
        return "∅"
    if isinstance(val, np.generic):
        val = val.item()
    if isinstance(val, float) and math.isnan(val):
        return "∅"
    if isinstance(val, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(v) for v in val) + "]"
    return repr(val)


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash), columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()
    return len(lines), h


def _frame_digest(pdf) -> tuple[int, str]:
    return digest(list(pdf.columns),
                  list(pdf.itertuples(index=False, name=None)))


# -------------------------------------------------------------- query_mix


def duckdb_views(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_query(name: str, got, oracle_sql: str, con) -> list[str]:
    """``got`` is the query's pandas frame from Spark's ``toPandas``;
    the oracle runs in duckdb and converts through ``.df()``, as the
    oracle-parity test does."""
    want = con.execute(oracle_sql).df()
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != "
                f"oracle {sorted(want.columns)}"]
    n_got, h_got = _frame_digest(got)
    n_want, h_want = _frame_digest(want)
    if n_got != n_want:
        return [f"{name}: {n_got} rows, oracle {n_want}"]
    if h_got != h_want:
        return [f"{name}: value hash differs from the oracle"]
    return []


# ------------------------------------------------------- sync_full_files


def check_files_output(out_dir: str, data_dir: str, streams) -> list[str]:
    """Per stream: output line count == parquet row count, and every
    line parses (pyarrow's JSON reader) as a RECORD envelope of that
    stream."""
    import pyarrow.json as pj

    errors = []
    for s in streams:
        want = pq.ParquetFile(os.path.join(data_dir, f"{s}.parquet")) \
            .metadata.num_rows
        n = bad = 0
        for path in sorted(glob.glob(os.path.join(out_dir, s, "part-*"))):
            if os.path.getsize(path) == 0:
                continue
            try:
                t = pj.read_json(path)
            except pa.ArrowInvalid as exc:
                errors.append(f"files/{s}: {os.path.basename(path)} does "
                              f"not parse as JSON lines: {exc}")
                continue
            n += t.num_rows
            if set(t.column_names) != {"record", "stream", "type"} or \
                    not pa.types.is_struct(t.schema.field("record").type):
                bad += t.num_rows
                continue
            bad += t.num_rows - pc.sum(pc.and_(
                pc.equal(t.column("type"), "RECORD"),
                pc.equal(t.column("stream"), s)).cast("int64")).as_py()
        if n != want:
            errors.append(f"files/{s}: {n} lines, parquet has {want} rows")
        if bad:
            errors.append(f"files/{s}: {bad} lines are not RECORD envelopes")
    return errors


# ---------------------------------------------------- sync_stdout_singer


class SingerCounter:
    """Text sink handed to ``Engine.sync(out=...)``: counts UTF-8 bytes
    and messages by type per stream, and keeps the last STATE.

    RECORD lines are recognised by their envelope tail (``singer_message``
    sorts keys, so ``stream`` and ``type`` close the line) and credited
    to the stream they name; SCHEMA and STATE lines are parsed in full.
    """

    _TAIL = ',"type":"RECORD"}\n'
    _STREAM = ',"stream":"'

    def __init__(self) -> None:
        self.bytes = 0
        self.records: dict[str, int] = {}
        self.schemas: dict[str, int] = {}
        self.states = 0
        self.bad = 0
        self.last_state: dict | None = None

    def write(self, s: str) -> int:
        self.bytes += len(s.encode())
        if s.endswith(self._TAIL):
            i = s.rfind(self._STREAM)
            stream = s[i + len(self._STREAM):-len(self._TAIL) - 1]
            if i < 0 or stream not in self.records:
                self.bad += 1
            else:
                self.records[stream] += 1
            return len(s)
        try:
            msg = json.loads(s)
        except ValueError:
            self.bad += 1
            return len(s)
        kind = msg.get("type")
        if kind == "SCHEMA":
            self.schemas[msg["stream"]] = self.schemas.get(msg["stream"], 0) + 1
            self.records.setdefault(msg["stream"], 0)
        elif kind == "STATE":
            self.states += 1
            self.last_state = msg["value"]
        else:
            self.bad += 1
        return len(s)

    def flush(self) -> None:
        pass


def stdout_expected(data_dir: str) -> tuple[dict[str, int], str]:
    """Expected RECORD counts per stream and the events bookmark (the
    largest ``ts`` delivered), from pyarrow: events after the
    ``event_type != 'error'`` map filter."""
    ev = pq.read_table(os.path.join(data_dir, "events.parquet"),
                       columns=["ts", "event_type"])
    kept = ev.filter(pc.not_equal(ev.column("event_type"), "error"))
    counts = {"events": kept.num_rows}
    for s in ("orders", "customer"):
        counts[s] = pq.ParquetFile(
            os.path.join(data_dir, f"{s}.parquet")).metadata.num_rows
    bookmark = pc.max(kept.column("ts")).as_py().strftime(
        "%Y-%m-%dT%H:%M:%S.%f")
    return counts, bookmark


def check_stdout(sink: SingerCounter, expected: dict[str, int],
                 bookmark: str) -> list[str]:
    errors = []
    for s, n in expected.items():
        if sink.schemas.get(s) != 1:
            errors.append(f"stdout/{s}: {sink.schemas.get(s, 0)} SCHEMA "
                          "messages, expected 1")
        if sink.records.get(s) != n:
            errors.append(f"stdout/{s}: {sink.records.get(s, 0)} RECORDs, "
                          f"expected {n}")
    extra = set(sink.schemas) - set(expected)
    if extra:
        errors.append(f"stdout: unexpected streams {sorted(extra)}")
    if sink.bad:
        errors.append(f"stdout: {sink.bad} lines are not Singer messages")
    try:
        got = sink.last_state["bookmarks"]["events"]["ts"]
    except (KeyError, TypeError):
        return errors + ["stdout: no STATE with an events bookmark"]
    if got != bookmark:
        errors.append(f"stdout: events bookmark {got!r} != max(ts) "
                      f"{bookmark!r}")
    return errors


# ------------------------------------------------- cdc_merge_incremental


def check_cdc(snapshot: pa.Table, expected: pa.Table, state_path: str,
              last_cursor: int) -> list[str]:
    """Merge-sink snapshot == the independent replay, compared row by
    row after sorting both by key (keys are unique, so this is
    order-insensitive), and the committed ``_cursor`` bookmark == the
    last change's cursor."""
    errors = []
    key = expected.column_names[0]
    got = snapshot.select(expected.column_names).sort_by(key)
    want = expected.cast(got.schema)
    if got.num_rows != want.num_rows:
        errors.append(f"cdc: snapshot has {got.num_rows} rows, replay "
                      f"{want.num_rows}")
    elif not got.equals(want):
        bad = [c for c in got.column_names
               if not got.column(c).equals(want.column(c))]
        errors.append(f"cdc: snapshot differs from the replay in {bad}")
    with open(state_path) as f:
        bookmarks = json.load(f).get("bookmarks", {})
    got_cur = bookmarks.get("orders", {}).get("_cursor")
    if got_cur != last_cursor:
        errors.append(f"cdc: bookmark {got_cur!r} != last cursor "
                      f"{last_cursor}")
    return errors
