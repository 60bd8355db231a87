#!/usr/bin/env python3
"""Benchmark of the tap_airbyte_wrapper_spark engine.

Drives the engine's public entry points -- ``sync.Engine.sync`` and the
query registry behind ``__spark_entry__.queries()`` -- in one warm
process on ``local[nproc]``, as a closed loop: one caller, each
operation starts after the previous one finished.  Run from the root of
a checkout:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all        # every workload, one process
    python3 perfbench/run.py --smoke               # sf0.001, every metric and check

Workloads, metrics and the layer predictions are described in
``perfbench/README.md``.  Human-readable lines go to stdout first; the
last line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``).  Scratch files live in ``.perfbench_work/``
at the root of the checkout.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()         # set-up is timed from here

import argparse                   # noqa: E402
import glob                       # noqa: E402
import json                       # noqa: E402
import os                         # noqa: E402
import shutil                     # noqa: E402
import statistics                 # noqa: E402
import sys                        # noqa: E402
import traceback                  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DATA = os.path.join(HERE, "data")

WORKLOADS = ("sync_full_files", "sync_stdout_singer",
             "cdc_merge_incremental", "query_mix")
# The query list of the issue, cut to fit the run budget (README.md):
# minhash_verified_pairs -> embedding_near_dup (its duckdb oracle runs for
# minutes at sf0.1), knn_lsh_verified -> knn_bruteforce and
# pagerank_suppliers -> degrees_suppliers (each alone took 15-28 s), and
# q21_waiting_suppliers dropped (q9 keeps the TPC-H join family).
QUERY_MIX = ("q1_pricing_summary", "q9_product_profit", "exact_dedup_docs",
             "embedding_near_dup", "knn_bruteforce", "token_stats",
             "sessionization", "merge_upsert_orders", "degrees_suppliers")
END_TO_END = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


# ------------------------------------------------------------- session


def start_spark(nproc: int):
    """Warmed local SparkSession whose scratch files stay in ``WORK``."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp      # wins over spark.local.dir
    # executors' Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={WORK}")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()        # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the JVM."""
    kb = _vm_hwm_kb("self")
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


def cpu_s() -> float:
    """User plus system CPU seconds of this process and all its
    descendants (the JVM and its Python workers), counting children
    already reaped through their parents' totals."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:            # the process ended meanwhile
            continue
        procs[int(name)] = (int(fields[1]),
                            sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def spark_job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def spark_job_stats(spark, job_ids) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) of the given jobs."""
    tracker = spark.sparkContext.statusTracker()
    tasks = failed = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
                failed += st.numFailedTasks
    return len(job_ids), tasks, failed


# ----------------------------------------------------------- workloads


class Workload:
    """One workload: ``setup`` (timed into setup_s), then sequences of
    ``seq_ops`` operations; ``op`` returns the records it delivered,
    ``check`` the correctness failures as (op index, message) pairs,
    with op index None for the last op."""

    name = ""
    seq_ops = 1

    def __init__(self, spark, data_dir: str, seed: int, tracer) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.seed = seed
        self.tracer = tracer
        self.dir = os.path.join(WORK, self.name)
        os.makedirs(self.dir, exist_ok=True)

    def setup(self) -> None:
        pass

    def before_op(self) -> None:
        pass

    def op(self, i: int) -> int:
        raise NotImplementedError

    def check(self) -> list[tuple[int | None, str]]:
        return []

    def layer_extras(self, op: int) -> dict[str, float]:
        return {}


class SyncFullFiles(Workload):
    name = "sync_full_files"
    streams = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")

    def _config(self, data_dir: str, out: str) -> dict:
        return {
            "source": "dataset_dir",
            "source_config": {"path": data_dir},
            "flattening_enabled": True,
            "parallelism": 2,
            # a commit per stream keeps the state layer measured among
            # the workloads BENCHMARK.json lists
            "state_path": os.path.join(self.dir, "state.json"),
            "sink": {"type": "files", "path": out, "mode": "overwrite"},
            "expectations": {
                "orders": [
                    {"column": "o_orderkey", "kind": "not_null"},
                    {"column": "o_orderkey", "kind": "unique"},
                    {"column": "o_custkey", "kind": "foreign_key",
                     "ref_stream": "customer", "ref_col": "c_custkey"}],
                "lineitem": [
                    {"column": "l_orderkey", "kind": "not_null"},
                    {"column": "l_linenumber", "kind": "not_null"}],
            },
        }

    def op(self, i: int) -> int:
        from tap_airbyte_wrapper_spark.sync import Engine

        cfg = self._config(self.data_dir, os.path.join(self.dir, "out"))
        return Engine(self.spark, cfg).sync().total_records

    def check(self):
        from checks import check_files_output

        return [(None, e) for e in check_files_output(
            os.path.join(self.dir, "out"), self.data_dir, self.streams)]

    def layer_extras(self, op: int) -> dict[str, float]:
        out = os.path.join(self.dir, "out")
        return {
            "singer_io.files_out_bytes": float(sum(
                os.path.getsize(p) for p in glob.glob(f"{out}/*/part-*"))),
            "state.file_bytes": float(
                os.path.getsize(os.path.join(self.dir, "state.json"))),
        }


class SyncStdoutSinger(Workload):
    name = "sync_stdout_singer"

    def _config(self, data_dir: str) -> dict:
        return {
            "source": "dataset_dir",
            "source_config": {"path": data_dir},
            "streams": ["events", "orders", "customer"],
            "replication_method": {"events": "INCREMENTAL"},
            "stream_maps": {"events": {
                "__filter__": "event_type != 'error'",
                "uid_hash": "md5(cast(user_id as string))",
                "props": "__NULL__"}},
        }

    def _sync(self, data_dir: str):
        from checks import SingerCounter
        from tap_airbyte_wrapper_spark.sync import Engine

        sink = SingerCounter()
        if self.tracer.enabled:
            sink.write = self.tracer.counted("singer_io.out_write",
                                             sink.write)
        result = Engine(self.spark, self._config(data_dir)).sync(out=sink)
        return result, sink

    def op(self, i: int) -> int:
        result, self.sink = self._sync(self.data_dir)
        self.out_bytes = self.sink.bytes
        return result.total_records

    def check(self):
        from checks import check_stdout, stdout_expected

        expected, bookmark = stdout_expected(self.data_dir)
        return [(None, e) for e in check_stdout(self.sink, expected, bookmark)]

    def layer_extras(self, op: int) -> dict[str, float]:
        return {"singer_io.out_bytes": float(self.out_bytes)}


class CdcMergeIncremental(Workload):
    name = "cdc_merge_incremental"

    def setup(self) -> None:
        import pyarrow.parquet as pq
        from changefeed import ChangeFeed, base_table

        self.log = os.path.join(self.dir, "changelog")
        self.changes = os.path.join(self.log, "changes", "orders")
        self.merge = os.path.join(self.dir, "merge")
        self.state = os.path.join(self.dir, "state.json")
        os.makedirs(os.path.join(self.log, "base"))
        os.makedirs(self.changes)
        self.base = base_table(
            pq.read_table(os.path.join(self.data_dir, "orders.parquet")))
        pq.write_table(self.base,
                       os.path.join(self.log, "base", "orders.parquet"))
        self.feed = ChangeFeed(self.base, self.seed)
        self.batches = []
        self._sync()                  # the initial snapshot load

    def _sync(self) -> int:
        from tap_airbyte_wrapper_spark.sync import Engine

        cfg = {
            "source": "changelog",
            "source_config": {"path": self.log,
                              "primary_keys": {"orders": ["o_orderkey"]}},
            "replication_method": {"orders": "INCREMENTAL"},
            "state_path": self.state,
            "sink": {"type": "merge", "path": self.merge, "n_buckets": 16},
        }
        return Engine(self.spark, cfg).sync().total_records

    def _write_batch(self) -> None:
        import pyarrow.parquet as pq

        batch = self.feed.next_batch()
        self.batches.append(batch)
        pq.write_table(batch, os.path.join(
            self.changes, f"batch-{len(self.batches):05d}.parquet"))

    def op(self, i: int) -> int:
        return self._sync()

    def before_op(self) -> None:
        # writing the change batch is input generation: not timed
        self._write_batch()

    def check(self):
        from changefeed import replay
        from checks import check_cdc
        from tap_airbyte_wrapper_spark.sinks import read_merge_snapshot

        snap = read_merge_snapshot(self.spark, self.merge, "orders").toArrow()
        return [(None, e) for e in check_cdc(
            snap, replay(self.base, self.batches), self.state,
            self.feed.last_cursor)]

    def layer_extras(self, op: int) -> dict[str, float]:
        from tap_airbyte_wrapper_spark.sinks import list_merge_versions

        root = os.path.join(self.merge, "orders")
        vdir = os.path.join(root, f"v{list_merge_versions(self.merge, 'orders')[-1]}")
        total = new = 0
        touched = set()
        for dirpath, _, names in os.walk(vdir):
            for n in names:
                if not n.endswith(".parquet"):
                    continue
                st = os.stat(os.path.join(dirpath, n))
                total += st.st_size
                if st.st_nlink == 1:          # written by this version
                    new += st.st_size
                    touched.add(dirpath)
        tr = self.tracer
        n_reads = sum(1 for s in tr.op_spans(op)
                      if s.name in ("sources.discover", "sources.read"))
        return {
            "sinks.touched_buckets": float(len(touched)),
            "sinks.rewrite_ratio": new / total if total else 0.0,
            "state.file_bytes": float(os.path.getsize(self.state)),
            # every discover/read loads every change file; one is new
            "sources.changelog_files_read": float(
                n_reads * len(self.batches)),
        }


class QueryMix(Workload):
    name = "query_mix"
    seq_ops = len(QUERY_MIX)

    def setup(self) -> None:
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.frames: dict[str, object] = {}

    def _run(self, q: str, data_dir: str):
        """Build the plan, then run it and deliver its rows as arrow."""
        df = self.tracer.span(f"plans.{q}.build", self.queries[q])(
            self.spark, data_dir)
        return self.tracer.span(f"plans.{q}.exec", df.toArrow)()

    def op(self, i: int) -> int:
        q = QUERY_MIX[i % len(QUERY_MIX)]
        table = self._run(q, self.data_dir)
        # query-scoped persists must not pile up across the sequence
        self.spark.catalog.clearCache()
        self.frames[q] = (i, table)
        return table.num_rows

    def check(self):
        from checks import check_query, duckdb_views

        con = duckdb_views(self.data_dir)
        errors = []
        for q, (i, table) in self.frames.items():
            pdf = to_spark_pandas(table)
            errors += [(i, e) for e in check_query(q, pdf, self.oracles[q],
                                                   con)]
        con.close()
        return errors


def to_spark_pandas(table):
    """Arrow result -> the pandas frame Spark's ``toPandas`` gives:
    timestamps as naive UTC values."""
    import pyarrow as pa

    for i, field in enumerate(table.schema):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            table = table.set_column(
                i, field.name, table.column(i).cast(pa.timestamp("us")))
    return table.to_pandas()


CLASSES = {c.name: c for c in (SyncFullFiles, SyncStdoutSinger,
                               CdcMergeIncremental, QueryMix)}


# --------------------------------------------------------------- runner


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and
    its label; with fewer than eleven samples, the maximum."""
    s = sorted(samples)
    n = len(s)
    if n >= 11:
        return s[n - 11], f"p{100.0 * (n - 10) / n:.1f}"
    return s[-1], "max"


def run_workload(spark, name: str, args, tracer, setup_s: float) -> dict:
    data = os.path.join(DATA, "sf0.001" if args.smoke else "sf0.1")
    w = CLASSES[name](spark, data, args.seed, tracer)
    t = time.perf_counter()
    w.setup()
    setup_s += time.perf_counter() - t

    # Closed loop of whole sequences for ``seconds``, at least one.  A
    # traced run does the same work with every span recorded.
    traced = bool(args.trace)
    tracer.enabled = traced
    lat: list[float] = []
    seq_walls: list[float] = []
    records = 0
    cpu = 0.0
    raised: list[tuple[int, str]] = []
    jobs: dict[int, tuple[int, int, int]] = {}
    extras: dict[int, dict] = {}
    i = 0
    seq = 0
    t_loop = time.perf_counter()
    while seq < 1 or time.perf_counter() - t_loop < args.seconds:
        wall = 0.0
        for _ in range(w.seq_ops):
            w.before_op()
            before = spark_job_ids(spark) if traced else None
            if traced:
                tracer.begin_op(i)
            c = cpu_s()
            t = time.perf_counter()
            try:
                records += w.op(i)
            except Exception as exc:      # counted, the loop goes on
                traceback.print_exc()
                raised.append((i, f"{type(exc).__name__}: {exc}"))
            dt = time.perf_counter() - t
            cpu += cpu_s() - c
            if traced:
                tracer.end_op()
                jobs[i] = spark_job_stats(spark, spark_job_ids(spark) - before)
                extras[i] = w.layer_extras(i)
            lat.append(dt)
            wall += dt
            i += 1
        seq_walls.append(wall)
        seq += 1
    tracer.enabled = False
    rss = peak_rss_mb(spark)

    failures = [(i - 1 if j is None else j, msg) for j, msg in w.check()]
    failed_ops = {j for j, _ in raised} | {j for j, _ in failures}
    for j, msg in raised + failures:
        print(f"  FAILED op {j}: {msg}")

    wall_s = statistics.median(seq_walls)
    p50 = statistics.median(lat) * 1000.0
    tail_ms, tail_label = tail([x * 1000.0 for x in lat])
    e2e = {"setup_s": setup_s, "cpu_s": cpu / seq, "peak_rss_mb": rss}
    print(f"workload {name}: seed {args.seed}, {len(lat)} ops in "
          f"{seq} sequences of {w.seq_ops}, {records} records")
    for k, v in e2e.items():
        print(f"  {k:<16} {v:>14.4f} {END_TO_END[k]}")
    # Printed, not in the JSON.  On a host shared with other machines
    # the wall-clock times of one run spread up to 0.28 of their median
    # over ten runs, the CPU time of the same work 0.04-0.12 (README).
    # A run's record count is fixed, so records_per_s restates wall_s;
    # with one sync per run the op latencies repeat it too; the median
    # of nine different queries is one query's latency, the tail is the
    # maximum, and failed_ratio is 0 when correct.
    print(f"  {'wall_s':<16} {wall_s:>14.4f} s")
    print(f"  {'records_per_s':<16} {records / sum(lat):>14.4f} 1/s")
    print(f"  {'op_p50_ms':<16} {p50:>14.4f} ms  (n={len(lat)})")
    print(f"  {'op_tail_ms':<16} {tail_ms:>14.4f} ms  ({tail_label} of "
          f"n={len(lat)})")
    print(f"  {'failed_ratio':<16} {len(failed_ops) / len(lat):>14.4f} "
          f"({len(failed_ops)}/{len(lat)})")

    layers = {}
    if args.trace:
        layers = layer_metrics(tracer, jobs, extras)
        layers["trace.wall_s"] = (wall_s, "s")
        for k, (v, unit) in layers.items():
            print(f"  {k:<36} {v:>14.4f} {unit}")
    return {"attempted": len(lat), "failed": len(failed_ops),
            "e2e": e2e, "layers": layers}


def layer_metrics(tracer, jobs, extras) -> dict:
    """Per-layer numbers: for each traced op the layer's total, then
    the median over traced ops."""
    per_op: dict[str, list[float]] = {}

    def add(key: str, value: float) -> None:
        per_op.setdefault(key, []).append(value)

    for op in sorted(jobs):
        spans = tracer.op_spans(op)
        ms: dict[str, float] = {}
        n: dict[str, int] = {}
        for s in spans:
            ms[s.name] = ms.get(s.name, 0.0) + (s.end - s.start) * 1000.0
            n[s.name] = n.get(s.name, 0) + 1
        sync_self = sum(tracer.self_time(s, spans) for s in spans
                        if s.name == "sync.sync") * 1000.0
        add("sources.discover_ms", ms.get("sources.discover", 0.0))
        add("sources.discover_calls", n.get("sources.discover", 0))
        add("sources.load_parquet_calls",
            tracer.calls.get((op, "sources.load_parquet"), 0))
        add("sources.read_plan_ms", ms.get("sources.read", 0.0))
        add("maps.apply_ms", ms.get("maps.apply", 0.0))
        add("quality.validate_ms", ms.get("quality.validate", 0.0))
        add("singer_io.messages",
            tracer.calls.get((op, "singer_io.serialize"), 0))
        add("singer_io.serialize_ms",
            tracer.busy.get((op, "singer_io.serialize"), 0.0) * 1000.0)
        add("singer_io.out_write_ms",
            tracer.busy.get((op, "singer_io.out_write"), 0.0) * 1000.0)
        add("singer_io.files_write_ms", ms.get("singer_io.files_write", 0.0))
        add("sinks.merge_ms", ms.get("sinks.merge", 0.0))
        add("state.commit_ms", ms.get("state.commit", 0.0))
        add("state.commits", n.get("state.commit", 0))
        add("sync.wall_ms", ms.get("sync.sync", 0.0))
        add("sync.self_ms", sync_self)
        for q in QUERY_MIX:
            add(f"plans.{q}.build_ms", ms.get(f"plans.{q}.build", 0.0))
            add(f"plans.{q}.exec_ms", ms.get(f"plans.{q}.exec", 0.0))
        j, t, f = jobs[op]
        add("spark.jobs", j)
        add("spark.tasks", t)
        add("spark.failed_tasks", f)
        for k, v in extras[op].items():
            add(k, v)

    out = {}
    for key in LAYER_UNITS:
        vals = per_op.get(key, [0.0])
        if key.startswith("plans."):   # one op per query in a sequence
            vals = [v for v in vals if v] or [0.0]
        out[key] = (float(statistics.median(vals)), LAYER_UNITS[key])
    return out


LAYER_UNITS = {
    "sources.discover_ms": "ms", "sources.discover_calls": "count",
    "sources.load_parquet_calls": "count", "sources.read_plan_ms": "ms",
    "sources.changelog_files_read": "ratio",
    "maps.apply_ms": "ms", "quality.validate_ms": "ms",
    "singer_io.messages": "count", "singer_io.serialize_ms": "ms",
    "singer_io.out_write_ms": "ms", "singer_io.out_bytes": "bytes",
    "singer_io.files_write_ms": "ms", "singer_io.files_out_bytes": "bytes",
    "sinks.merge_ms": "ms", "sinks.touched_buckets": "count",
    "sinks.rewrite_ratio": "ratio",
    "state.commit_ms": "ms", "state.commits": "count",
    "state.file_bytes": "bytes",
    "sync.wall_ms": "ms", "sync.self_ms": "ms",
    **{f"plans.{q}.{k}": "ms" for q in QUERY_MIX
       for k in ("build_ms", "exec_ms")},
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all",
                    help=f"one of {', '.join(WORKLOADS)}, or all")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 inputs, one operation per workload, "
                         "all workloads, traced")
    args = ap.parse_args(argv)
    if args.smoke:
        args.workload, args.seconds, args.trace = "all", 0.0, 1
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    if any(n not in CLASSES for n in names):
        ap.error(f"unknown workload {args.workload!r}")
    for needed in (os.path.join(ROOT, "tap_airbyte_wrapper_spark"),
                   os.path.join(ROOT, "__spark_entry__.py"),
                   os.path.join(DATA, "sf0.1"), os.path.join(DATA, "sf0.001")):
        if not os.path.exists(needed):
            print(f"perfbench: {needed} is missing; run from the root of a "
                  "full checkout", file=sys.stderr)
            return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    sys.path[:0] = [ROOT, HERE]
    from tracing import Tracer, install

    spark = start_spark(len(os.sched_getaffinity(0)))
    setup_s = time.perf_counter() - _T0
    tracer = Tracer()
    undo = install(tracer) if args.trace else None
    results = {}
    try:
        for n in names:
            results[n] = run_workload(spark, n, args, tracer, setup_s)
            setup_s = 0.0     # later workloads of ``all`` share the session
            if args.trace:
                tracer.dump(os.path.join(WORK, f"spans-{n}.jsonl"))
                tracer.reset()
    finally:
        if undo:
            undo()
        stop_spark(spark)
        for d in os.listdir(WORK):     # keep only the span files
            if not d.startswith("spans-"):
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)

    metrics = {}
    for n, r in results.items():
        prefix = "" if len(results) == 1 else f"{n}."
        if args.trace:
            vals = r["layers"]
        else:
            vals = {k: (v, END_TO_END[k]) for k, v in r["e2e"].items()}
        for k, (v, unit) in vals.items():
            metrics[prefix + k] = {"value": v, "unit": unit}
    failed = sum(r["failed"] for r in results.values())
    print(json.dumps({
        "correct": failed == 0,
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
