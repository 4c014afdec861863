#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 4 --trace 0

Run from the repository root. Workloads (frozen in perfbench/workloads.json):

* ``sql_analytics`` — relational registry queries over seeded fixture
  tables; an op is one query run to a ``noop`` sink, and the seed also
  permutes op order;
* ``etl_weekly`` — seeded weekly weather CSV batches over a warehouse that
  already holds 40 weeks; per weekly file, a batch op
  (``pipeline.run_incremental_batch``, followed by the serving queries
  S1-S3) and a stream op (one micro-batch of the stateful streaming dedup).

One process, one local session at ``local[nproc]``, one closed-loop
client. Set-up (session start plus warm-up) is repeated and its median
reported. The ops are then run once untimed, which warms them and checks
their output; the timed loop runs whole passes over the ops until
``--seconds`` of op time have elapsed and enough ops have run to leave the
workload's ``tail_beyond`` samples beyond its tail percentile. Between ops
the session hygiene of ``bench.py`` runs outside the op timers.

``--trace 1`` follows the untraced loop with a traced one and another
untraced one. The traced loop records spans around the calls into each
layer, tags Spark jobs with the group ``{op}:{phase}``, folds Spark's event
log per op, collects streaming progress with a listener and counts the
driver log's warnings. The run reports the per-layer metrics, and the
tracing overhead against both untraced loops.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. The full record (run context, per-op data) is
written to perfbench/.work/results/, spans to perfbench/.work/trace/.
"""

from __future__ import annotations

import argparse
import datetime as dt
import gc
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

from spans import (
    STREAM_KEYS,
    LogCounter,
    StreamProgress,
    Tracer,
    fold_event_log,
    sql_execution_starts,
    stream_metrics,
    wrap_public,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN = os.path.join(WORK, "run")
PACKAGE = "projektdataengineering_spark"
# fits beside other tenants of a 15 GB host; the inputs are a few MB
DRIVER_MEMORY = "2g"
# the first start is cold (JVM class loading, JIT, codegen); the median
# of three is a warm one
SETUP_ITERATIONS = 3

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    k = max(0, min(len(ordered) - 1, int(-(-pct * len(ordered) // 100)) - 1))
    return ordered[k]


# ---------------------------------------------------------------------------
# Process environment
# ---------------------------------------------------------------------------

def cpus() -> int:
    return len(os.sched_getaffinity(0))


def redirect_output(log_path: str):
    """Send fds 1 and 2 (inherited by the JVM and the Python workers) to a
    log file; return streams on the original stdout and stderr."""
    sys.stdout.flush()
    sys.stderr.flush()
    out = os.fdopen(os.dup(1), "w")
    err = os.fdopen(os.dup(2), "w")
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    os.close(fd)
    return out, err


SCRATCH = os.path.join(ROOT, ".scratch")
SCRATCH_LEDGER = os.path.join(WORK, "scratch_created.json")


def scratch_entries() -> set[str]:
    """The engine's persisted indexes and ledgers: .scratch/<kind>/<name>."""
    out = set()
    if os.path.isdir(SCRATCH):
        for kind in os.listdir(SCRATCH):
            sub = os.path.join(SCRATCH, kind)
            names = os.listdir(sub) if os.path.isdir(sub) else []
            out.update(os.path.join(kind, n) for n in names)
            out.add(kind)
    return out


def reset_state() -> set[str]:
    """Start every run from the same program state: remove what earlier runs
    left in .scratch and the run area (Spark local dirs, temp dirs, event
    log, SQL warehouse, ingest rounds). Returns the .scratch entries present
    before this run."""
    try:
        with open(SCRATCH_LEDGER) as fh:
            left = json.load(fh)
    except (OSError, ValueError):
        left = []
    for rel in sorted(left, reverse=True):
        path = os.path.join(SCRATCH, rel)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)
    shutil.rmtree(RUN, ignore_errors=True)
    for sub in ("local", "tmp", "events", "etl", "warmup"):
        os.makedirs(os.path.join(RUN, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN, "local")
    os.environ["TMPDIR"] = os.path.join(RUN, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    # every JVM, the spark-submit launcher's too: temp files in the run area
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(RUN, 'tmp')} -XX:-UsePerfData"
    )
    return scratch_entries()


def record_scratch(before: set[str]) -> None:
    """Note the .scratch entries this run created, for the next run to remove."""
    with open(SCRATCH_LEDGER, "w") as fh:
        json.dump(sorted(scratch_entries() - before), fh)


def git_commit() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


class RssSampler(threading.Thread):
    """Peak RSS of the JVM plus its descendant processes (the Python
    workers), sampled from /proc: over the whole run, and per window
    between calls of ``take``."""

    def __init__(self, pid: int, interval: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak_kb = self.window_kb = 0
        self.tree = self._tree()
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        tree, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            tree.append(p)
            todo.extend(children.get(p, []))
        return tree

    def _sample(self) -> int:
        kb = sum(self._rss_kb(p) for p in self.tree)
        with self._lock:
            self.peak_kb = max(self.peak_kb, kb)
            self.window_kb = max(self.window_kb, kb)
        return kb

    def run(self) -> None:
        refreshed = time.monotonic()
        while not self._stop_evt.is_set():
            if time.monotonic() - refreshed > 1.0:
                self.tree, refreshed = self._tree(), time.monotonic()
            self._sample()
            self._stop_evt.wait(self.interval)

    def take(self) -> float:
        """Peak of the window since the last call (including a sample taken
        now), in MB; starts a new window."""
        self._sample()
        with self._lock:
            kb, self.window_kb = self.window_kb, 0
        return kb / 1024.0

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Session set-up
# ---------------------------------------------------------------------------

def launch_conf():
    """What the driver JVM is launched with: master and heap."""
    from pyspark import SparkConf

    return SparkConf().setMaster(f"local[{cpus()}]").set("spark.driver.memory", DRIVER_MEMORY)


def start_session(trace: bool):
    from projektdataengineering_spark.session import get_spark

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    conf = {"spark.sql.warehouse.dir": os.path.join(RUN, "spark-warehouse")}
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(RUN, "events")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark(app_name="perfbench", extra_conf=conf)


def warm_up(spark, fixture_dir: str) -> None:
    """bench.py's warm-up: the flagship plan and the CSV, JSON and ORC
    writers. (bench.py also starts the Arrow worker pool; no op here runs
    Python workers, so that step is left out.)"""
    from projektdataengineering_spark.flagship import flagship

    flagship(spark, fixture_dir).write.format("noop").mode("overwrite").save()
    tiny = spark.range(10).selectExpr("id", "cast(id as string) s", "timestamp'2024-01-01' ts")
    for fmt in ("csv", "json", "orc"):
        p = os.path.join(RUN, "warmup", fmt)
        tiny.write.mode("overwrite").format(fmt).save(p)
        spark.read.format(fmt).load(p).write.format("noop").mode("overwrite").save()


def set_up(trace: bool, fixture_dir: str):
    """Launch the JVM, then start and warm a session SETUP_ITERATIONS
    times; keep the last one. Returns (spark, per-iteration timings)."""
    from pyspark import SparkContext

    t0 = time.perf_counter()
    SparkContext._ensure_initialized(conf=launch_conf())
    jvm_s = time.perf_counter() - t0
    starts, warms, spark = [], [], None
    for i in range(SETUP_ITERATIONS):
        t0 = time.perf_counter()
        spark = start_session(trace)
        t1 = time.perf_counter()
        warm_up(spark, fixture_dir)
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
        if i < SETUP_ITERATIONS - 1:
            spark.stop()
    return spark, {"jvm_s": jvm_s, "start_s": starts, "warmup_s": warms}


class Hygiene:
    """bench.py's between-op session hygiene, timed apart from the ops."""

    def __init__(self, spark):
        self.spark, self.n, self.seconds = spark, 0, 0.0

    def __call__(self) -> None:
        t0 = time.perf_counter()
        spark = self.spark
        gc.collect(1)
        spark.catalog.clearCache()
        for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)
        if self.n % 8 == 0:
            for tbl in spark.catalog.listTables():
                if tbl.tableType == "TEMPORARY" and tbl.name.endswith(("_sink", "_out")):
                    spark.catalog.dropTempView(tbl.name)
            gc.collect()
            spark._jvm.System.gc()
        self.n += 1
        self.seconds += time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

def fixture_tables(seed: int) -> str:
    """The seeded fixture tables, generated once per seed."""
    import fixtures

    path = os.path.join(WORK, "fixtures", f"seed{seed}")
    if not os.path.exists(path):
        shutil.rmtree(path + ".tmp", ignore_errors=True)
        fixtures.write_tables(seed, path + ".tmp")
        os.replace(path + ".tmp", path)
    return path


class Registry:
    """sql_analytics: registered queries, one op = one query to ``noop``."""

    def __init__(self, name: str, config: dict, seed: int):
        from projektdataengineering_spark.queries import load_registry

        registry = load_registry()
        missing = [q for q in config["queries"] if q not in registry]
        if missing:
            raise RuntimeError(f"{name}: frozen queries no longer registered: {missing}")
        self.check_rule(name, config, registry)
        self.queries = {q: registry[q] for q in config["queries"]}
        self.fixture_dir = fixture_tables(seed)
        self.rng = random.Random(seed)
        self.failed_ops: set[str] = set()

    @staticmethod
    def check_rule(name: str, config: dict, registry: dict) -> None:
        derived = set()
        for fam in config["families"]:
            names = sorted(
                n for n, q in registry.items()
                if q.family == fam and n not in config["excluded"]
            )
            derived.update(names[::config["stride"]])
        if derived != set(config["queries"]):
            print(f"{name}: the selection rule now yields a different list than the "
                  f"frozen one (+{sorted(derived - set(config['queries']))} "
                  f"-{sorted(set(config['queries']) - derived)}); the frozen list is used",
                  file=sys.stderr)

    def verify(self, spark, hygiene) -> dict:
        """Run every op once, collecting its rows, and compare each with the
        oracle hash. Also the ops' warm-up."""
        from verify import OracleCache, frame_hash

        oracle = OracleCache(self.fixture_dir, os.path.join(WORK, "oracle_cache.json"))
        detail = {}
        for q, qd in sorted(self.queries.items()):
            hygiene()
            try:
                got = frame_hash(qd.fn(spark, self.fixture_dir).toPandas())
                want = oracle.hash(qd.oracle)
                ok = got == want
            except Exception as exc:  # counted as a failed op, reported
                got, want, ok = repr(exc)[:300], None, False
            if not ok:
                self.failed_ops.add(q)
            detail[q] = {"ok": ok, "got": got, "want": want}
        oracle.save()
        return {"ops": detail, "oracle_cache_hits": oracle.hits}

    def passes(self):
        names = sorted(self.queries)
        while True:
            self.rng.shuffle(names)
            yield list(names)

    def run_op(self, spark, key: str, tracer, tag: str) -> dict:
        qd = self.queries[key]
        if not tracer.enabled:
            t0 = time.perf_counter()
            qd.fn(spark, self.fixture_dir).write.format("noop").mode("overwrite").save()
            return {"latency_s": time.perf_counter() - t0}
        sc = spark.sparkContext
        walls = {}

        def phase(name, fn):
            sc.setJobGroup(f"{tag}:{name}", tag)
            p0 = time.perf_counter()
            with tracer.span(name):
                out = fn()
            walls[f"{tag}:{name}"] = time.perf_counter() - p0
            return out

        t0 = time.perf_counter()
        with tracer.span("op"):
            df = phase("construct", lambda: qd.fn(spark, self.fixture_dir))
            # the write plans and runs; split_plan later cuts the plan span
            # off the front at the write's SQL execution start
            exec_start = time.time()
            phase("exec", lambda: df.write.format("noop").mode("overwrite").save())
        sc.setJobGroup("bench:hygiene", "hygiene")
        return {"latency_s": time.perf_counter() - t0, "walls": walls, "exec_start": exec_start}


class Weekly:
    """etl_weekly: per weekly file, one batch op (then S1-S3) and one
    stream op."""

    # the untimed warm-up covers the first two files: the second run of
    # each op is the first warm one (the first stream op starts Python
    # workers)
    VERIFY_FILES = 2

    def __init__(self, name: str, config: dict, seed: int):
        import etl

        self.etl = etl
        self.fixture_dir = fixture_tables(seed)  # read by the session warm-up
        self.round = etl.WeeklyRound(seed, config["history_weeks"], config["weeks"],
                                     config["rows_per_week"], os.path.join(RUN, "etl"))
        self.failed_ops: set[str] = set()
        self.n_round = 0
        self.paths: dict[str, str] = {}
        self.expected_hash = None

    def verify(self, spark, hygiene) -> dict:
        """Load the warehouse history, then the ops of the round's first
        ``VERIFY_FILES`` files, untimed: the ops' warm-up. Every op of the
        timed loop is checked too, outside its timer, and the warehouse
        after the last round."""
        t0 = time.perf_counter()
        detail = {"history_files": self.round.build_history(spark),
                  "history_s": time.perf_counter() - t0}
        for key in self.next_round()[:2 * self.VERIFY_FILES]:
            hygiene()
            try:
                rec = self.run_op(spark, key, Tracer(False), f"verify-{key}")
            except Exception:  # counted as a failed op, reported
                rec = {"ok": False, "error": traceback.format_exc()}
            detail[key] = rec
            if not rec["ok"]:
                self.failed_ops.add(key)
        return {"ops": detail}

    def next_round(self):
        self.paths = self.round.reset(self.n_round)
        self.n_round += 1
        self.offered_bytes = 0
        return [f"{lane}{k}" for k in range(len(self.round.files)) for lane in ("batch", "stream")]

    def check_warehouse(self) -> bool:
        """The new rows of the warehouse against the expected ones, and the
        history rows by count."""
        from verify import rows_hash

        if self.expected_hash is None:
            self.expected_hash = rows_hash(self.round.cols, self.round.stored_rows)
        cols, rows, n_history = self.etl.read_warehouse(self.paths["warehouse"])
        ok = rows_hash(cols, rows) == self.expected_hash and n_history == self.round.history_rows
        if not ok:
            self.failed_ops.add("warehouse")
        return ok

    def passes(self):
        while True:
            yield self.next_round()

    def run_op(self, spark, key: str, tracer, tag: str) -> dict:
        lane = key.rstrip("0123456789")
        k = int(key[len(lane):])
        self.round.offer(self.paths, k, lane)
        sc = spark.sparkContext
        if lane == "stream":
            return self.run_stream(spark, k, tracer, tag)
        when = dt.datetime(2022, 1, 10, tzinfo=dt.timezone.utc) + dt.timedelta(days=7 * k)
        if tracer.enabled:
            sc.setJobGroup(f"{tag}:batch", tag)
        t0 = time.perf_counter()
        with tracer.span("batch"):
            res = self.etl.run_batch(spark, self.paths, when)
        t1 = time.perf_counter()
        rec = {"latency_s": t1 - t0, "walls": {f"{tag}:batch": t1 - t0},
               "rows_offered": self.round.rows_offered[k], "rows_written": res.rows_written}
        ok = res.rows_written == len(self.round.adds[k])
        serves = {}
        with tracer.span("serve"):
            for which in ("S1", "S2", "S3"):
                if tracer.enabled:
                    sc.setJobGroup(f"{tag}:{which}", tag)
                s0 = time.perf_counter()
                with tracer.span(which):
                    out = self.etl.serve(spark, self.paths["warehouse"], which)
                serves[which] = time.perf_counter() - s0
                if which == "S3":
                    rec["files_read"] = out
                else:
                    ok = ok and out == self.round.serve_expected[k][which == "S2"]
        if tracer.enabled:
            sc.setJobGroup("bench:hygiene", "hygiene")
        rec["serve_s"] = serves
        rec["ok"] = ok
        n_files, size = self.etl.warehouse_stats(self.paths["warehouse"])
        self.offered_bytes += len(self.round.files[k][1].encode())
        rec["warehouse_files"] = n_files
        rec["stored_per_input"] = (size - self.round.history_bytes) / self.offered_bytes
        return rec

    def run_stream(self, spark, k: int, tracer, tag: str) -> dict:
        """One micro-batch; its jobs run in the query's own job group (the
        run id), which the traced run maps back to ``{tag}:stream``."""
        t0 = time.perf_counter()
        with tracer.span("stream"):
            run_id = self.etl.run_stream(spark, self.paths)
        t1 = time.perf_counter()
        got = self.etl.read_stream_epoch(self.paths["stream_sink"], k)
        return {"latency_s": t1 - t0, "walls": {f"{tag}:stream": t1 - t0},
                "run_id": run_id, "ok": got == self.round.stream_expected[k]}


WORKLOADS = {"sql_analytics": Registry, "etl_weekly": Weekly}


# ---------------------------------------------------------------------------
# Timed loop
# ---------------------------------------------------------------------------

def tail_samples(tail_pct: float, beyond: int) -> int:
    """Fewest ops that leave ``beyond`` samples beyond the nearest-rank
    ``tail_pct`` percentile."""
    n = beyond
    while n - math.ceil(round(tail_pct * n / 100, 9)) < beyond:
        n += 1
    return n


def timed_loop(spark, wl, seconds: float, min_ops: int, tracer, hygiene,
               log_counter=None, rss=None) -> list[dict]:
    """Whole passes over the ops until ``seconds`` of op time have elapsed
    and at least ``min_ops`` ops have run (enough samples for the tail)."""
    records: list[dict] = []
    busy = 0.0
    passes = wl.passes()
    while busy < seconds or len(records) < min_ops:
        for key in next(passes):
            hygiene()
            tag = f"{key}#{len(records)}"
            tracer.op = tag
            if log_counter is not None:
                log_counter.take()
            if rss is not None:
                rss.take()
            t0 = time.perf_counter()
            try:
                rec = wl.run_op(spark, key, tracer, tag)
            except Exception:  # a failed op counts against failed_frac
                rec = {"latency_s": time.perf_counter() - t0, "error": traceback.format_exc()}
            rec.update(op=tag, key=str(key))
            if log_counter is not None:
                rec["warns"] = log_counter.take()
            if rss is not None:
                rec["rss_mb"] = rss.take()
            busy += rec["latency_s"] + sum(rec.get("serve_s", {}).values())
            records.append(rec)
    return records


def is_failed(wl, rec: dict) -> bool:
    return "error" in rec or rec["key"] in wl.failed_ops or rec.get("ok") is False


def end_to_end(records, setup, tail_pct, wl) -> dict:
    lat = [r["latency_s"] for r in records if not is_failed(wl, r)] or [0.0]
    busy = sum(r["latency_s"] + sum(r.get("serve_s", {}).values()) for r in records)
    total = [a + b for a, b in zip(setup["start_s"], setup["warmup_s"])]
    return {
        "setup_s": statistics.median(total),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": percentile(lat, tail_pct),
        "ops_per_s": len(lat) / busy if busy > 0 else 0.0,
        # the median over ops of each op's peak: one op's spike (a heap
        # resize, an extra Python worker) does not decide the figure
        "peak_rss_mb": statistics.median(r["rss_mb"] for r in records),
    }


# ---------------------------------------------------------------------------
# Per-layer metrics
# ---------------------------------------------------------------------------

PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "catalog.load_table_calls": "count", "catalog.load_table_s": "s",
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "queries.plan_s": "s", "queries.exec_s": "s", "queries.exec_jobs": "count",
    "queries.exec_stages": "count", "queries.exec_tasks": "count",
    "queries.window_nopartition_warns": "count", "queries.hint_ignored_warns": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B", "exec.input_bytes": "B",
    "exec.core_idle_frac": "1", "exec.task_skew": "1",
    "operators.python_s": "s", "operators.python_bytes": "B",
    "streaming.batches": "count", "streaming.empty_batches": "count",
    "streaming.input_rows": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.plan_s": "s", "streaming.offset_s": "s",
    "streaming.commit_s": "s", "streaming.state_rows": "count",
    "streaming.state_bytes": "B", "streaming.state_commit_s": "s",
    "streaming.rows_late_dropped": "count",
    "sources.read_csv_s": "s", "operators.hwm_s": "s", "pipeline.write_s": "s",
    "sources.archive_s": "s",
    "pipeline.rows_offered": "count", "pipeline.rows_written": "count",
    "pipeline.accept_ratio": "1", "pipeline.warehouse_files": "count",
    "pipeline.ingest_rows_per_s": "1/s", "pipeline.stored_bytes_per_input_byte": "1",
    "serve.p50_s": "s", "serve.tail_s": "s", "serve.files_read": "count",
    "bench.hygiene_s": "s", "bench.verify_s": "s", "bench.trace_overhead_frac": "1",
}


def instrument(tracer) -> None:
    """Wrap the engine's public layer entry points where the engine binds
    them, and the parquet reader and writer the ingest calls."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from projektdataengineering_spark import catalog, sources
    from projektdataengineering_spark.operators import incremental
    from projektdataengineering_spark.sources import archive

    for fn, name in (
        (catalog.load_table, "catalog.load_table"),
        (sources.read_csv_with_casts, "sources.read_csv"),
        (incremental.high_water_mark, "operators.hwm"),
        (archive.archive_files, "sources.archive"),
    ):
        wrap_public(tracer, PACKAGE, fn, name)
    DataFrameWriter.parquet = tracer.wrap("pipeline.write", DataFrameWriter.parquet)
    DataFrameReader.parquet = tracer.wrap("pipeline.read_parquet", DataFrameReader.parquet)


def split_plan(tracer, traced: list[dict], sql_starts: list[float]) -> None:
    """Cut a ``plan`` span off the front of each registry op's ``exec``
    span: the write's planning ends when its SQL execution starts."""
    exec_spans = {s["op"]: s for s in tracer.spans if s["name"] == "exec"}
    for r in traced:
        span = exec_spans.get(r["op"])
        if span is None or "exec_start" not in r:
            continue
        wall = span["end"] - span["start"]
        # event-log times are whole milliseconds
        after = [t for t in sql_starts if r["exec_start"] - 1e-3 <= t <= r["exec_start"] + wall]
        plan = min(wall, max(0.0, after[0] - r["exec_start"])) if after else 0.0
        tracer.spans.append({"id": len(tracer.spans), "parent": span["parent"], "name": "plan",
                             "op": r["op"], "start": span["start"], "end": span["start"] + plan})
        span["start"] += plan


def per_layer(wl, config, setup, untraced, traced, after, tracer, fold, streams,
              hygiene_per_op, verify_s):
    """Per-op means of the traced loop, plus set-up and benchmark costs.
    The ingest layers' figures are means over the batch ops, the streaming
    figures over the stream ops; the pipeline and serve figures come from
    the first untraced loop."""
    n = max(1, len(traced))
    by_op: dict[str, dict[str, list[float]]] = {}
    for s in tracer.spans:
        by_op.setdefault(s["op"], {}).setdefault(s["name"], []).append(s["end"] - s["start"])
    batches = [r for r in traced if "batch" in by_op.get(r["op"], {})]

    def span_s(name, ops=traced):
        return sum(sum(by_op.get(r["op"], {}).get(name, [])) for r in ops) / max(1, len(ops))

    def group(suffix, key):
        return sum(fold.get(f"{r['op']}:{suffix}", {}).get(key, 0.0) for r in traced) / n

    def all_groups(key):
        return sum(
            v.get(key, 0.0) for g, v in fold.items()
            if any(g.startswith(r["op"] + ":") for r in traced)
        ) / n

    exec_phases = ("exec",) if isinstance(wl, Registry) else ("batch", "stream")
    m = {
        "session.start_s": statistics.median(setup["start_s"]),
        "session.warmup_s": statistics.median(setup["warmup_s"]),
        "catalog.load_table_calls": sum(
            len(by_op.get(r["op"], {}).get("catalog.load_table", [])) for r in traced
        ) / n,
        "catalog.load_table_s": span_s("catalog.load_table"),
        "queries.construct_s": span_s("construct"),
        "queries.construct_jobs": group("construct", "jobs"),
        "queries.plan_s": span_s("plan"),
        "queries.exec_s": span_s("exec"),
        "queries.exec_jobs": group("exec", "jobs"),
        "queries.exec_stages": group("exec", "stages"),
        "queries.exec_tasks": group("exec", "tasks"),
        "queries.window_nopartition_warns": sum(
            r.get("warns", {}).get("window_nopartition_warns", 0) for r in traced) / n,
        "queries.hint_ignored_warns": sum(
            r.get("warns", {}).get("hint_ignored_warns", 0) for r in traced) / n,
        "operators.python_s": all_groups("python_s"),
        "operators.python_bytes": all_groups("python_bytes"),
        "sources.read_csv_s": span_s("sources.read_csv", batches),
        "operators.hwm_s": span_s("operators.hwm", batches),
        "pipeline.write_s": span_s("pipeline.write", batches),
        "sources.archive_s": span_s("sources.archive", batches),
        "bench.hygiene_s": hygiene_per_op,
        "bench.verify_s": verify_s,
    }
    for key in ("run_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "input_bytes", "core_idle_frac", "task_skew"):
        m[f"exec.{key}"] = sum(group(phase, key) for phase in exec_phases)
    folded = [stream_metrics(reports) for reports in streams.values()]
    for key in STREAM_KEYS:
        m[f"streaming.{key}"] = statistics.fmean([f[key] for f in folded]) if folded else 0.0
    ingest = [r for r in untraced if "rows_offered" in r and not is_failed(wl, r)]
    offered = sum(r["rows_offered"] for r in ingest)
    written = sum(r["rows_written"] for r in ingest)
    serve = [v for r in ingest for v in r["serve_s"].values()]

    def mean(key):
        return statistics.fmean([r[key] for r in ingest]) if ingest else 0.0

    m.update({
        "pipeline.rows_offered": mean("rows_offered"),
        "pipeline.rows_written": mean("rows_written"),
        "pipeline.accept_ratio": written / offered if offered else 0.0,
        "pipeline.warehouse_files": mean("warehouse_files"),
        "pipeline.ingest_rows_per_s": offered / sum(r["latency_s"] for r in ingest)
        if offered else 0.0,
        "pipeline.stored_bytes_per_input_byte": mean("stored_per_input"),
        "serve.p50_s": statistics.median(serve) if serve else 0.0,
        "serve.tail_s": percentile(serve, config["tail_percentile"]) if serve else 0.0,
        "serve.files_read": mean("files_read"),
    })
    base = statistics.fmean([r["latency_s"] for r in untraced + after])
    m["bench.trace_overhead_frac"] = (
        statistics.fmean([r["latency_s"] for r in traced]) / base - 1.0 if base > 0 else 0.0
    )
    return {k: m[k] for k in PER_LAYER}


def span_coverage(tracer, records) -> dict[str, float]:
    """Per top-level span name, the smallest share of its wall time that
    its child spans cover. (A stream op's one child is its sink write; the
    rest of its micro-batch is in the streaming.* figures.)"""
    worst: dict[str, float] = {}
    for r in records:
        spans = [s for s in tracer.spans if s["op"] == r["op"]]
        for top in (s for s in spans if s["parent"] is None):
            kids = sum(s["end"] - s["start"] for s in spans if s["parent"] == top["id"])
            wall = top["end"] - top["start"]
            if wall > 0:
                worst[top["name"]] = min(worst.get(top["name"], 1.0), kids / wall)
    return worst


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------

def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, config, err) -> dict:
    import bench
    import verify

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cpus(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": DRIVER_MEMORY,
        "git_commit": git_commit(), "calib_sec_before": bench._calibrate(),
    }
    phases = context["phase_s"] = {}
    mark = [time.perf_counter()]

    def phase(name):
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now

    verify.self_test()
    wl = WORKLOADS[args.workload](args.workload, config, args.seed)
    min_ops = tail_samples(config["tail_percentile"], config["tail_beyond"])
    phase("prepare")
    spark = None
    try:
        spark, setup = set_up(bool(args.trace), wl.fixture_dir)
        phase("setup")
        from pyspark import SparkContext

        context.update(master=spark.sparkContext.master, spark_version=spark.version)
        hygiene = Hygiene(spark)
        t0 = time.perf_counter()
        verification = wl.verify(spark, hygiene)
        verify_s = time.perf_counter() - t0
        phase("verify")
        hygiene.seconds, hygiene.n = 0.0, 0
        sampler = RssSampler(SparkContext._gateway.proc.pid)
        sampler.start()
        untraced = timed_loop(spark, wl, args.seconds, min_ops, Tracer(False),
                              hygiene, rss=sampler)
        context["peak_rss_max_mb"] = sampler.stop()
        phase("loop")
        hygiene_per_op = hygiene.seconds / max(1, len(untraced))
        traced, after, tracer = [], [], Tracer(bool(args.trace))
        if args.trace:
            # untraced, traced, untraced: the overhead compares the traced
            # loop with both neighbours, so warming across loops cancels
            instrument(tracer)
            progress = StreamProgress(spark)
            traced = timed_loop(spark, wl, args.seconds, min_ops, tracer, hygiene,
                                LogCounter(os.path.join(RUN, "driver.log")))
            tracer.enabled = False
            progress.drain()
            after = timed_loop(spark, wl, args.seconds, min_ops, tracer, hygiene)
            phase("traced_loop")
        if isinstance(wl, Weekly):
            wl.check_warehouse()
    finally:
        shutdown(spark)
    phase("shutdown")
    context["calib_sec_after"] = bench._calibrate()

    records = untraced + traced + after
    failed = sum(is_failed(wl, r) for r in records) + ("warehouse" in wl.failed_ops)
    attempted = len(records) + ("warehouse" in wl.failed_ops)
    if args.trace:
        walls = {g: w for r in traced for g, w in r.get("walls", {}).items()}
        run_op = {r["run_id"]: r["op"] for r in traced if "run_id" in r}
        streams = progress.by_run(run_op)
        aliases = {run: f"{op}:stream" for run, op in run_op.items()}
        events = os.path.join(RUN, "events")
        fold = fold_event_log(events, cpus(), walls, aliases)
        split_plan(tracer, traced, sql_execution_starts(events))
        metrics = per_layer(wl, config, setup, untraced, traced, after, tracer, fold, streams,
                            hygiene_per_op, verify_s)
        units = PER_LAYER
        name = f"{args.workload}-seed{args.seed}"
        tracer.dump(os.path.join(WORK, "trace", f"{name}.jsonl"))
        context["span_coverage_min"] = span_coverage(tracer, traced)
        context["self_time_s"] = tracer.self_times()
    else:
        metrics = end_to_end(untraced, setup, config["tail_percentile"], wl)
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    record = {"context": context, "setup": setup, "verification": verification,
              "verify_s": verify_s, "failed_frac": failed / max(1, attempted),
              "result": result, "ops": records}
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    summary = ", ".join(f"{k}={v:.4g}" for k, v in metrics.items())
    print(f"perfbench {tag}: failed_frac={failed / max(1, attempted):.4g}, {summary}",
          file=err)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        config_all = json.load(fh)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.exists(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"no {PACKAGE} package and bench.py beside {HERE}: run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    scratch_before = reset_state()
    out, err = redirect_output(os.path.join(RUN, "driver.log"))
    try:
        try:
            result = run(args, config_all[args.workload], err)
        finally:
            record_scratch(scratch_before)
    except Exception:
        traceback.print_exc(file=err)
        with open(os.path.join(RUN, "driver.log"), errors="replace") as fh:
            err.write("--- driver log tail ---\n" + "".join(fh.readlines()[-40:]))
        err.flush()
        return 1
    print(json.dumps(result), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
