"""The repository's benchmark: seeded inputs, timed operations, checked
outputs, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. Every file it writes goes under
``.perfbench-work/`` there; generated inputs stay cached by seed and
generator version, everything else is removed before it exits.
BENCHMARK.json states the workloads, why each is there, the driving model
and which layer metric should move which end-to-end metric.

A run sets the session up ``SETUPS`` times, then makes one untimed pass
over the workload's operations that checks every output and warms the JVM,
then times whole passes (the seed orders each pass) until their total is
closest to ``--seconds``. A load's output is checked again after each timed
load, outside its timing.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` measures half
the time untraced, then restarts the session with Spark's event log on,
tags every job ``<workload>/<op>@<pass>/<phase>``, wraps the sink in
counters and reports the per-layer metrics reduced from the log.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the ``#`` lines before it restate the settings, inputs and details.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import random
import re
import shlex
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from pathlib import Path

import evlog
import gen
from stats import phi

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")

ITERATIVE = ("graph_mst_boruvka", "cluster_dbscan_grid", "graph_hits_scores",
             "dedup_funnel_survivors", "ann_nndescent_graph",
             "bpe_pair_merge_fit")
SETUPS = 3              # set-ups per run: one cold JVM, then warm restarts
RUN_LIMIT_S = 140.0     # no pass starts after this much wall time
DRIVER_MEM = "2g"
# local[n] per workload, capped by the host. The loads are parallel scans
# and encodes. The query entries run hundreds of small jobs one after
# another: on a 4-vCPU host their ten-seed pass_s quartile spread was 19% at
# local[4] and 12% at local[2], which leaves cores to this process and the
# JVM's own threads.
CPUS = {"load_bulk": 4, "query_tpch": 2, "query_iterative": 2}
COLLECT_KINDS = frozenset({"collect", "first", "head", "take", "count",
                           "toPandas", "toLocalIterator", "toArrow"})
CKPT_KINDS = frozenset({"localCheckpoint", "checkpoint"})


class CheckFailed(Exception):
    """An operation's output did not match its expected value."""


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


# -- environment ------------------------------------------------------------

def configure_env(cpus: int) -> dict[str, str]:
    """Pin the session to this host and keep every file inside WORK. Must
    run before pyspark launches its JVM."""
    dirs = {k: os.path.join(WORK, k) for k in
            ("tmp", "spark-local", "warehouse", "eventlog", "collections")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    knobs = {"SPARK_GRAFT_CPUS": str(cpus),
             "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
             "SPARK_LOCAL_DIRS": dirs["spark-local"],
             "TMPDIR": dirs["tmp"]}
    os.environ.update(knobs)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={dirs['warehouse']}"),
        "--conf", shlex.quote("spark.driver.extraJavaOptions="
                              f"-Djava.io.tmpdir={dirs['tmp']}"),
        "pyspark-shell"])
    tempfile.tempdir = None
    return knobs


def eventlog_conf() -> dict[str, str]:
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": Path(WORK, "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def peak_rss_mb(pid: str = "self") -> float:
    """Peak resident set of a process (this driver by default) since it
    started or since ``reset_peak_rss``."""
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f
                    if line.startswith("VmHWM:")) / 1024.0


def reset_peak_rss() -> None:
    """Restart this process's peak-RSS mark at its current RSS, so the
    peak covers the timed operations and not input generation or the
    output check (Linux ``clear_refs`` code 5)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


# -- tracing ----------------------------------------------------------------

class NoTrace:
    """Untraced runs: no job groups, plain loader and sink."""

    def op(self, label: str) -> None:
        pass

    def phase(self, name: str) -> None:
        pass

    def done(self) -> None:
        pass

    def loader(self, spark):
        from arangodb_java_parquet_spark.sources import ParquetLoader
        return ParquetLoader(spark)

    def collection(self, spark, root: str, name: str):
        from arangodb_java_parquet_spark.sources import LocalCollection
        return LocalCollection(root, name)

    def after_load(self, col) -> None:
        pass


class Trace(NoTrace):
    """Tags jobs ``<workload>/<op>/<phase>``, times each phase and keeps
    each operation's timed span (it ends where the ``check`` phase starts)."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.label = ""
        self.current: str | None = None
        self.t_phase = self.t_op = 0.0
        self.phase_s: dict[tuple[str, str], float] = defaultdict(float)
        self.spans: dict[str, tuple[float, float]] = {}
        self.sink: dict[str, float] = defaultdict(float)

    def op(self, label: str) -> None:
        self.label, self.t_op = label, time.time()

    def _end_phase(self) -> float:
        now = time.time()
        if self.current is not None:
            self.phase_s[(self.label, self.current)] += now - self.t_phase
        return now

    def phase(self, name: str) -> None:
        now = self._end_phase()
        if name == "check":
            self.spans.setdefault(self.label, (self.t_op, now))
        self.current, self.t_phase = name, now
        self.sc.setJobGroup(f"{self.workload}/{self.label}/{name}", name)

    def done(self) -> None:
        self.spans.setdefault(self.label, (self.t_op, self._end_phase()))
        self.current = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def loader(self, spark):
        from arangodb_java_parquet_spark.sources import ParquetLoader
        trace = self

        class PhasedLoader(ParquetLoader):
            def read(self, path):
                trace.phase("read")
                try:
                    return super().read(path)
                finally:
                    trace.phase("write")

        return PhasedLoader(spark)

    def collection(self, spark, root: str, name: str):
        from benchsink import CountingCollection
        return CountingCollection(root, name, spark.sparkContext)

    def after_load(self, col) -> None:
        self.sink["calls"] += col.calls.value
        self.sink["docs"] += col.docs.value
        self.sink["bytes"] += col.bytes.value
        self.sink["nanos"] += col.nanos.value
        self.sink["files"] += sum(1 for f in os.listdir(col.path)
                                  if f.startswith("part-"))


# -- workloads --------------------------------------------------------------

def doc_fingerprint(df, column: str) -> tuple:
    """Order-free multiset fingerprint of a string column: count plus three
    sums of independent 32-bit hashes."""
    from pyspark.sql import functions as F
    c = F.col(column)
    h = F.xxhash64(c)
    row = df.select(F.count(F.lit(1)),
                    F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))),
                    F.sum(F.shiftrightunsigned(h, 32)),
                    F.sum(F.crc32(c.cast("binary")))).first()
    return tuple(row)


class LoadBulk:
    """``ParquetLoader.load`` of one seeded lineitem-shaped file
    (``spark`` encode, ``batch_size=1000``) into a ``LocalCollection``."""

    def __init__(self, seed: int, cache: str):
        self.seed, self.cache = seed, cache
        self.path = ""
        self.rows = 0
        self.expected: tuple = ()
        self.n_loads = 0

    def prepare(self) -> list[str]:
        import pyarrow.parquet as pq
        self.path = gen.bulk_file(self.cache, self.seed)
        self.rows = pq.ParquetFile(self.path).metadata.num_rows
        return [self.path]

    def check_pass(self, spark, rng) -> set[str]:
        from arangodb_java_parquet_spark.functions.docjson import (
            DOC_COL, encode_documents)
        self.expected = doc_fingerprint(
            encode_documents(spark.read.parquet(self.path), mode="spark"),
            DOC_COL)
        try:
            self.run(spark, "load", NoTrace())
        except CheckFailed:
            traceback.print_exc()
            return {"load"}
        return set()

    def pass_ops(self, rng, traced: bool) -> list[str]:
        return ["load", "encode"] if traced else ["load"]

    def units(self, op: str) -> int:
        return self.rows

    def run(self, spark, op: str, tr) -> float:
        if op == "encode":
            # the encode layer alone: scan + encode, forced by the noop sink
            from arangodb_java_parquet_spark.functions.docjson import (
                encode_documents)
            tr.phase("encode")
            t0 = time.perf_counter()
            (encode_documents(spark.read.parquet(self.path), mode="spark")
             .write.format("noop").mode("overwrite").save())
            return time.perf_counter() - t0
        self.n_loads += 1
        col = tr.collection(spark, os.path.join(WORK, "collections"),
                            f"bulk-{self.n_loads}")
        loader = tr.loader(spark)
        tr.phase("write")
        t0 = time.perf_counter()
        n = loader.load(self.path, col, overwrite=True, batch_size=1000,
                        mode="spark")
        seconds = time.perf_counter() - t0
        tr.phase("check")
        try:
            got = doc_fingerprint(spark.read.text(col.path), "value")
            tr.after_load(col)
        finally:
            col.drop()
        if n != self.rows or got != self.expected:
            raise CheckFailed(f"load returned {n} of {self.rows} rows; "
                              f"documents {got} != {self.expected}")
        return seconds


class Queries:
    """One registry entry per operation: built, then forced with the noop
    sink. Inputs are the fixed generated tables; the seed sets the order."""

    def __init__(self, name: str, cache: str):
        import __spark_entry__ as entry
        self.cache = cache
        self.qs = entry.queries()
        self.oracles = entry.oracle_sql()
        if name == "query_tpch":
            tpch = {int(m[1]): n for n in self.qs
                    if (m := re.fullmatch(r"q(\d+)_\w+", n))}
            self.entries = [tpch[k] for k in sorted(tpch)]
        else:
            self.entries = list(ITERATIVE)
        self.dir = ""
        self.table_rows: dict[str, int] = {}
        self.reads: dict[str, int] = {}

    def prepare(self) -> list[str]:
        import pyarrow.parquet as pq
        self.dir = gen.query_dir(self.cache)
        paths = sorted(os.path.join(self.dir, f) for f in os.listdir(self.dir))
        self.table_rows = {os.path.basename(p): pq.ParquetFile(p)
                           .metadata.num_rows for p in paths}
        return paths

    def check_pass(self, spark, rng) -> set[str]:
        """Run every entry once, compare it with its DuckDB oracle, and
        record how many source rows each one reads."""
        from pyspark.sql.readwriter import DataFrameReader
        from tools.check_correctness import canon

        bad = set()
        seen: list[str] = []
        original = DataFrameReader.parquet

        def recording_parquet(reader, *paths, **kw):
            seen.extend(os.path.basename(str(p)) for p in paths)
            return original(reader, *paths, **kw)

        DataFrameReader.parquet = recording_parquet
        try:
            for name in self.entries:  # one fixed order: the same warm-up
                seen.clear()
                try:
                    df = self.qs[name](spark, self.dir)
                    got = [tuple(r) for r in df.collect()]
                    cols = df.columns
                    self.reads[name] = sum(self.table_rows.get(t, 0)
                                           for t in seen)
                    if name not in self.oracles:
                        continue
                    want_cols, want = self.oracle(name)
                    if (sorted(cols) != sorted(want_cols)
                            or [list(r) for r in canon(got, cols)] != want):
                        raise CheckFailed(f"{name}: differs from its oracle")
                except Exception:
                    traceback.print_exc()
                    bad.add(name)
        finally:
            DataFrameReader.parquet = original
        return bad

    def oracle(self, name: str) -> tuple[list[str], list[list[str]]]:
        """Columns and canonical rows of the entry's DuckDB oracle on the
        generated tables, cached beside them by DuckDB version and SQL. A
        cache miss is filled by a child process, so DuckDB's memory never
        counts toward this driver's peak."""
        import duckdb

        sql = self.oracles[name]
        key = hashlib.sha256(f"{duckdb.__version__}\n{sql}".encode()).hexdigest()
        path = os.path.join(f"{self.dir}-oracles", f"{name}-{key[:16]}.json")
        if not os.path.exists(path):
            child = subprocess.run([sys.executable,
                                    os.path.join(HERE, "oracle.py"),
                                    self.dir, sql, path])
            if child.returncode:
                raise CheckFailed(f"{name}: its oracle did not run")
        with open(path, encoding="utf-8") as f:
            cols, rows = json.load(f)
        return cols, rows

    def pass_ops(self, rng, traced: bool) -> list[str]:
        return rng.sample(self.entries, len(self.entries))

    def units(self, op: str) -> int:
        return self.reads.get(op, 0)

    def run(self, spark, op: str, tr) -> float:
        tr.phase("construct")
        t0 = time.perf_counter()
        df = self.qs[op](spark, self.dir)
        tr.phase("execute")
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


def make_workload(name: str, seed: int, cache: str):
    if name == "load_bulk":
        return LoadBulk(seed, cache)
    return Queries(name, cache)


# -- the run ----------------------------------------------------------------

class Run:
    def __init__(self, args, cpus: int):
        self.args = args
        self.cpus = cpus
        self.t_start = time.time()
        self.rng = random.Random(args.seed)
        self.wl = make_workload(args.workload, args.seed,
                                os.path.join(WORK, "inputs"))
        self.spark = None
        self.setups: list[dict[str, float]] = []
        self.bad: set[str] = set()
        self.attempted = 0
        self.failed = 0

    def setup(self, traced: bool = False) -> None:
        """(Re)start the session: inputs, ``get_spark``, package shipping.
        The first call launches the JVM; later ones restart the context in
        it. A traced context gets the event log through JVM properties."""
        from pyspark import SparkContext

        from arangodb_java_parquet_spark.session import get_spark
        from arangodb_java_parquet_spark.shipping import ensure_package_shipped
        if self.spark is not None:
            self.spark.stop()
            system = SparkContext._jvm.java.lang.System
            for k, v in eventlog_conf().items():
                if traced:
                    system.setProperty(k, v)
                else:
                    system.clearProperty(k)
        t0 = time.perf_counter()
        self.inputs = self.wl.prepare()
        t1 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}")
        t2 = time.perf_counter()
        ensure_package_shipped(self.spark)
        t3 = time.perf_counter()
        # first job: brings up the task scheduler and the python workers
        n = self.cpus
        self.spark.sparkContext.parallelize(range(n), n).map(abs).count()
        t4 = time.perf_counter()
        if traced:
            self.spark.sparkContext.addPyFile(os.path.join(HERE, "benchsink.py"))
        self.setups.append({"setup_s": t4 - t0, "inputs_s": t1 - t0,
                            "start_s": t2 - t1, "ship_s": t3 - t2,
                            "first_job_s": t4 - t3})

    def measure(self, seconds: float, tr, traced: bool,
                min_passes: int = 1) -> dict[str, list[float]]:
        """Closed loop of whole passes: the number of passes whose total
        comes closest to ``seconds``, at least ``min_passes``."""
        samples: dict[str, list[float]] = defaultdict(list)
        t0 = time.time()
        p = 0
        while p < min_passes or (
                time.time() - t0 + (time.time() - t0) / (2 * p) < seconds
                and time.time() - self.t_start < RUN_LIMIT_S):
            for op in self.wl.pass_ops(self.rng, traced):
                tr.op(f"{op}@{p}")
                self.attempted += 1
                try:
                    if op in self.bad:
                        raise CheckFailed(f"{op} failed its output check")
                    samples[op].append(self.wl.run(self.spark, op, tr))
                except Exception:
                    traceback.print_exc()
                    self.failed += 1
                    samples[op].append(float("inf"))
                finally:
                    tr.done()
            p += 1
        self.passes = p
        return samples

    def e2e(self, samples: dict[str, list[float]]) -> dict[str, float]:
        pooled = [s for xs in samples.values() for s in xs]
        per_op = {op: statistics.median(xs) for op, xs in samples.items()}
        p, tail, n = phi(pooled)
        units = sum(self.wl.units(op) * len(xs) for op, xs in samples.items())
        # Printed, not gated: with a handful of operations per run their
        # ten-seed quartile spread reached 26% on query_iterative.
        log(f"op_p50_s = {statistics.median(per_op.values()):.4f} s "
            f"(median of {len(per_op)} per-op medians); op_phi_s = "
            f"{tail:.4f} s (p{p:g} of n={n} operations)")
        log("per-op s (median, n, min, max) " + json.dumps(
            {op: [round(per_op[op], 3), len(xs), round(min(xs), 3),
                  round(max(xs), 3)] for op, xs in sorted(samples.items())}))
        return {"pass_s": sum(per_op.values()),
                "rows_per_s": units / sum(pooled)}

    def finish(self, metrics: dict[str, float], units: dict[str, str]) -> None:
        # a failed operation counts as infinitely slow; JSON has no
        # infinity, so a time reads as the run's time limit instead
        limit = 180.0
        out = {k: {"value": min(v, limit) if units[k] == "s" else v,
                   "unit": units[k]} for k, v in metrics.items()}
        log(f"failed_ratio = {self.failed}/{self.attempted}")
        print(json.dumps({"correct": self.failed == 0 and not self.bad,
                          "attempted": self.attempted,
                          "failed": self.failed, "metrics": out}))


E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "pass_s": "s",
             "rows_per_s": "rows/s"}

LAYER_UNITS = {
    "session.start_s": "s", "shipping.ship_s": "s",
    "loader.read_s": "s", "loader.read_jobs": "count",
    "docjson.encode_s": "s", "docjson.encode_docs_per_s": "docs/s",
    "sink.insert_s": "s", "sink.batches": "count", "sink.docs": "count",
    "sink.bytes": "bytes", "sink.files": "count", "sink.delivered_ratio": "ratio",
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "queries.execute_s": "s", "queries.execute_jobs": "count",
    "queries.schema_infer_jobs": "count", "queries.collect_jobs": "count",
    "materialize.ckpt_jobs": "count",
    **{f"{e}.{m}": u for e in ITERATIVE
       for m, u in (("construct_s", "s"), ("construct_jobs", "count"))},
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.driver_gap_s": "s", "sched.jobs_repeat_ratio": "ratio",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.core_util": "ratio", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "trace.overhead_ratio": "ratio",
}


def layer_metrics(run: Run, tr: Trace, samples, log_path: str,
                  untraced_pass_s: float) -> dict[str, float]:
    """Per-layer figures per traced pass, reduced from the event log, the
    phase timers and the sink counters. Layers the workload does not run
    read 0."""
    w = run.args.workload
    P = run.passes
    jobs = [j for j in evlog.read_jobs(log_path)
            if j.group and j.group.startswith(f"{w}/")
            and "@" in j.group and not j.group.endswith("/check")]

    def parts(j):
        label, phase = j.group[len(w) + 1:].rsplit("/", 1)
        return label.rsplit("@", 1)[0], label, phase

    m = dict.fromkeys(LAYER_UNITS, 0.0)
    setups = run.setups[1:] or run.setups
    m["session.start_s"] = statistics.median(s["start_s"] for s in setups)
    m["shipping.ship_s"] = statistics.median(s["ship_s"] for s in setups)
    m["sched.jobs"] = len(jobs) / P
    m["sched.stages"] = sum(j.stages for j in jobs) / P
    m["sched.tasks"] = sum(j.tasks for j in jobs) / P
    run_s = sum(j.run_ms for j in jobs) / 1e3
    m["exec.run_s"] = run_s / P
    m["exec.cpu_s"] = sum(j.cpu_ns for j in jobs) / 1e9 / P
    m["exec.gc_s"] = sum(j.gc_ms for j in jobs) / 1e3 / P
    m["exec.shuffle_read_bytes"] = sum(j.shuffle_read_bytes for j in jobs) / P
    m["exec.shuffle_write_bytes"] = sum(j.shuffle_write_bytes for j in jobs) / P
    m["exec.spill_bytes"] = sum(j.spill_bytes for j in jobs) / P
    by_label = defaultdict(list)
    for j in jobs:
        by_label[parts(j)[1]].append(j)
    wall = gap = 0.0
    for label, (a, b) in tr.spans.items():
        wall += b - a
        gap += (b - a) - evlog.covered_seconds(
            [(j.submit_ms / 1e3, j.end_ms / 1e3) for j in by_label[label]],
            a, b)
    m["sched.driver_gap_s"] = gap / P
    m["exec.core_util"] = run_s / (wall * run.cpus)

    # job counts per operation, pass over pass
    counts = defaultdict(lambda: defaultdict(int))
    for j in jobs:
        op, label, _ = parts(j)
        counts[op][label] += 1
    varying = sorted(op for op, c in counts.items() if len(set(c.values())) > 1)
    m["sched.jobs_repeat_ratio"] = 1 - len(varying) / max(1, len(counts))
    log(f"job counts repeat across {P} traced passes except: "
        f"{', '.join(varying) or 'none'}")

    def phase_s(phase: str, op: str | None = None) -> float:
        return sum(v for (label, ph), v in tr.phase_s.items()
                   if ph == phase and (op is None
                                       or label.rsplit("@", 1)[0] == op)) / P

    def njobs(phase: str, kinds=None, op: str | None = None) -> float:
        return sum(1 for j in jobs if parts(j)[2] == phase
                   and (kinds is None or j.call_kind in kinds)
                   and (op is None or parts(j)[0] == op)) / P

    if isinstance(run.wl, LoadBulk):
        rows = run.wl.rows
        m["loader.read_s"] = phase_s("read")
        m["loader.read_jobs"] = njobs("read")
        m["docjson.encode_s"] = phase_s("encode")
        m["docjson.encode_docs_per_s"] = rows / m["docjson.encode_s"]
        m["sink.insert_s"] = tr.sink["nanos"] / 1e9 / P
        m["sink.batches"] = tr.sink["calls"] / P
        m["sink.docs"] = tr.sink["docs"] / P
        m["sink.bytes"] = tr.sink["bytes"] / P
        m["sink.files"] = tr.sink["files"] / P
        m["sink.delivered_ratio"] = tr.sink["docs"] / (rows * P)
        m["materialize.ckpt_jobs"] = sum(
            1 for j in jobs if j.call_kind in CKPT_KINDS) / P
    else:
        m["queries.construct_s"] = phase_s("construct")
        m["queries.execute_s"] = phase_s("execute")
        m["queries.construct_jobs"] = njobs("construct")
        m["queries.execute_jobs"] = njobs("execute")
        m["queries.schema_infer_jobs"] = njobs("construct", {"parquet"})
        m["queries.collect_jobs"] = njobs("construct", COLLECT_KINDS)
        m["materialize.ckpt_jobs"] = sum(
            1 for j in jobs if j.call_kind in CKPT_KINDS) / P
        if w == "query_iterative":
            for e in ITERATIVE:
                m[f"{e}.construct_s"] = phase_s("construct", e)
                m[f"{e}.construct_jobs"] = njobs("construct", op=e)
    shared = [op for op in samples if op in run.untraced_ops]
    m["trace.overhead_ratio"] = sum(
        statistics.median(samples[op]) for op in shared) / untraced_pass_s
    return m


def newest_log() -> str:
    d = os.path.join(WORK, "eventlog")
    logs = [os.path.join(d, f) for f in os.listdir(d)
            if not f.endswith(".inprogress")]
    return max(logs, key=os.path.getmtime)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM that pyspark launched, and wait."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def become_subreaper() -> None:
    """Adopt orphaned descendants (Linux ``PR_SET_CHILD_SUBREAPER``): the
    python workers the JVM forks outlive it briefly, and as orphans they
    would escape ``stop_children``."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    kids = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        if ppid == me:
            kids.append(int(d))
    return kids


def stop_children(grace_s: float = 10.0) -> None:
    """Terminate every process this one still parents, adopted orphans
    included, and reap each until none is left; SIGKILL after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in _children():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def clean_work() -> None:
    import shutil
    for d in ("collections", "eventlog", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("load_bulk", "query_tpch", "query_iterative"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import arangodb_java_parquet_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    cpus = min(CPUS[args.workload], len(os.sched_getaffinity(0)))
    knobs = configure_env(cpus)

    become_subreaper()
    run = Run(args, cpus)
    try:
        return _run(run, knobs)
    finally:
        try:
            stop_spark(run.spark)
        finally:
            stop_children()
            clean_work()


def _run(run: Run, knobs: dict[str, str]) -> int:
    args = run.args
    log(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} master=local[{run.cpus}] "
        + " ".join(f"{k}={os.path.relpath(v, ROOT) if os.sep in v else v}"
                   for k, v in knobs.items()))
    for _ in range(SETUPS):
        run.setup()
    log("inputs " + json.dumps(gen.fingerprint(run.inputs)))
    log("setups (s): " + "; ".join(
        " ".join(f"{k}={v:.3f}" for k, v in s.items()) for s in run.setups))

    run.bad = run.wl.check_pass(run.spark, run.rng)
    log(f"output check: {'all pass' if not run.bad else sorted(run.bad)} "
        f"at {time.time() - run.t_start:.1f}s")

    reset_peak_rss()
    seconds = args.seconds / 2 if args.trace else args.seconds
    samples = run.measure(seconds, NoTrace(), traced=False)
    run.untraced_ops = set(samples)
    log(f"{run.passes} timed passes done at {time.time() - run.t_start:.1f}s")
    from pyspark import SparkContext
    log(f"peak RSS (MB): driver over the timed passes {peak_rss_mb():.1f}, "
        f"JVM over the run {peak_rss_mb(str(SparkContext._gateway.proc.pid)):.1f}")
    metrics = {"setup_s": statistics.median(s["setup_s"] for s in run.setups),
               "peak_rss_mb": peak_rss_mb(), **run.e2e(samples)}
    if not args.trace:
        run.finish(metrics, E2E_UNITS)
        return 0

    # traced half: a fresh context with the event log on
    run.setup(traced=True)
    tr = Trace(run.spark, args.workload)
    run.wl.run(run.spark, run.wl.pass_ops(run.rng, False)[0], NoTrace())
    traced = run.measure(seconds, tr, traced=True, min_passes=2)
    run.spark.stop()
    layers = layer_metrics(run, tr, traced, newest_log(), metrics["pass_s"])
    log("untraced e2e " + json.dumps({k: round(v, 4)
                                      for k, v in metrics.items()}))
    run.finish(layers, LAYER_UNITS)
    return 0


if __name__ == "__main__":
    sys.exit(main())
