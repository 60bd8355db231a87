"""Spans around the engine's public entry points, kept in memory.

``install`` wraps each layer's entry points from the outside (the engine
itself is untouched) and returns a function that restores them.  A span
records (id, name, start, end, parent, op); spans opened on a thread
with no open span, such as the stream workers of a parallel sync, take
as parent the innermost open span of the thread that began the
operation (its root span when none is open).  Functions called once
per record (``singer_message``, the output's ``write``) are counted
instead: their call count and busy time accumulate per operation, and
the busy time is subtracted from the enclosing span's self time.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from typing import NamedTuple


class Span(NamedTuple):
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.reset()

    def reset(self) -> None:
        self.spans: list[Span] = []
        self.calls: dict[tuple[int, str], int] = defaultdict(int)
        self.busy: dict[tuple[int, str], float] = defaultdict(float)
        self._hidden: dict[int, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: int | None = None
        self._root: int | None = None
        self._op_stack: list[int] = []
        self._lock = threading.Lock()   # stream workers count concurrently

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # ------------------------------------------------------------ spans

    def _parent(self, stack: list[int]) -> int | None:
        if stack:
            return stack[-1]
        return self._op_stack[-1] if self._op_stack else self._root

    def begin_op(self, op: int) -> None:
        self._op = op
        self._root = next(self._ids)
        self._op_stack = self._stack()
        self._root_start = time.perf_counter()

    def end_op(self) -> None:
        self.spans.append(Span(self._root, "op", self._root_start,
                               time.perf_counter(), None, self._op))
        self._op = self._root = None

    def span(self, name: str, fn):
        """``fn`` wrapped so each call records a span named ``name``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            stack = self._stack()
            parent = self._parent(stack)
            sid = next(self._ids)
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                self.spans.append(Span(sid, name, t0, t1, parent, self._op))
        return traced

    def counted(self, name: str, fn):
        """``fn`` wrapped so calls only add to a per-operation count and
        busy time (for functions called once per record)."""
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                key = (self._op, name)
                parent = self._parent(self._stack())
                with self._lock:
                    self.calls[key] += 1
                    self.busy[key] += dt
                    self._hidden[parent] += dt
        return timed

    # ---------------------------------------------------------- reading

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def self_time(self, span: Span, spans: list[Span]) -> float:
        """Duration minus the union of its child spans (clipped to it)
        and the counted calls made directly under it."""
        kids = sorted((max(c.start, span.start), min(c.end, span.end))
                      for c in spans if c.parent == span.id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.end - span.start - covered - self._hidden.get(span.id, 0.0)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s._asdict()) + "\n")


def install(tracer: Tracer) -> "callable":
    """Wrap the layers' public entry points; returns the undo function.
    Names are patched where they are looked up: ``sync`` imported
    ``singer_message`` and ``write_singer_files`` by name, and the
    dataset sources call ``load_parquet`` through their module."""
    from tap_airbyte_wrapper_spark import maps, sinks, state, sync
    from tap_airbyte_wrapper_spark.operators import quality
    from tap_airbyte_wrapper_spark.sources import changelog, files

    patches = [
        (sync.Engine, "sync", tracer.span, "sync.sync"),
        (sync.Engine, "discover", tracer.span, "sync.discover"),
        (sync, "write_singer_files", tracer.span, "singer_io.files_write"),
        (sync, "singer_message", tracer.counted, "singer_io.serialize"),
        (files, "load_parquet", tracer.counted, "sources.load_parquet"),
        (maps.StreamMapper, "apply", tracer.span, "maps.apply"),
        (quality, "validate_expectations", tracer.span, "quality.validate"),
        (state.BookmarkStore, "commit", tracer.span, "state.commit"),
        (sinks, "merge_snapshot_write", tracer.span, "sinks.merge"),
    ]
    for cls in (files.DatasetDirSource, changelog.ChangelogSource):
        patches += [(cls, "discover", tracer.span, "sources.discover"),
                    (cls, "read", tracer.span, "sources.read"),
                    (cls, "read_incremental", tracer.span, "sources.read")]
    saved = []
    for owner, attr, wrap, name in patches:
        had = attr in vars(owner)
        orig = getattr(owner, attr)
        saved.append((owner, attr, had, vars(owner).get(attr)))
        setattr(owner, attr, wrap(name, orig))

    def undo() -> None:
        for owner, attr, had, orig in reversed(saved):
            if had:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
    return undo
