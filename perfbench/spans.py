"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side only: around its own calls
into the engine and by wrapping the engine's public functions where the
engine looks them up (``wrap_public``). The engine itself is not
instrumented. Job-level execution metrics come from Spark's own event log,
folded per job group, streaming progress from a ``StreamingQueryListener``,
and Spark warnings are counted from the driver log.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

WARN_PATTERNS = {
    "window_nopartition_warns": "No Partition Defined for Window operation",
    "hint_ignored_warns": "HintErrorLogger",
}


class Tracer:
    """In-memory span recorder. A span is (id, parent, name, op, start, end);
    spans of one op share ``op``. Disabled tracers record nothing and add
    one attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = ""

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "op": self.op, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, float]:
        """Per span name: Σ duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def wrap_public(tracer: Tracer, module_prefix: str, fn, name: str) -> None:
    """Replace ``fn`` with a traced twin in every loaded module under
    ``module_prefix`` that bound it by name (``from x import fn``), so the
    engine's own call sites go through the span."""
    traced = tracer.wrap(name, fn)
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(module_prefix):
            continue
        for attr, val in list(vars(mod).items()):
            if val is fn:
                setattr(mod, attr, traced)


class LogCounter:
    """Counts warning patterns in the driver log file since the last call."""

    def __init__(self, path: str):
        self.path = path
        self.pos = os.path.getsize(path) if os.path.exists(path) else 0

    def take(self) -> dict[str, int]:
        with open(self.path, "rb") as fh:
            fh.seek(self.pos)
            chunk = fh.read().decode("utf-8", "replace")
            self.pos = fh.tell()
        return {k: chunk.count(p) for k, p in WARN_PATTERNS.items()}


def _is_python_metric(name: str) -> bool:
    return "python" in name.lower()


def fold_event_log(log_dir: str, cores: int, walls: dict[str, float],
                   aliases: dict[str, str]) -> dict[str, dict]:
    """Fold Spark's event log into per-job-group execution metrics.

    ``walls`` maps a job group to the wall time of the phase that ran it,
    the denominator of ``core_idle_frac``; ``aliases`` renames groups (a
    streaming query's jobs run in a group named by its run id). Times are
    seconds, sizes bytes.
    """
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    stage_span: dict[int, float] = {}
    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    files = [os.path.join(log_dir, f) for f in sorted(os.listdir(log_dir))]
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    group = aliases.get(group, group)
                    agg[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    agg[group]["stages"] += 1
                    if "Completion Time" in info and "Submission Time" in info:
                        stage_span[info["Stage ID"]] = (
                            info["Completion Time"] - info["Submission Time"]
                        )
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    group = stage_group.get(sid)
                    if group is None:
                        continue
                    a = agg[group]
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
                    stage_tasks[sid].append(dur)
                    a["tasks"] += 1
                    a["task_s"] += dur
                    a["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name") or ""
                        if not _is_python_metric(name):
                            continue
                        try:
                            upd = float(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            continue
                        if "time to run" in name.lower():
                            # total Python worker time, in milliseconds; the
                            # start and init metrics are not added on top
                            a["python_s"] += upd / 1e3
                        elif "data" in name.lower() or "bytes" in name.lower():
                            a["python_bytes"] += upd
    out: dict[str, dict] = {}
    for group, a in agg.items():
        rec = dict(a)
        wall = walls.get(group, 0.0)
        rec["core_idle_frac"] = (
            max(0.0, 1.0 - a["task_s"] / (cores * wall)) if wall > 0 else 0.0
        )
        sids = [s for s, g in stage_group.items() if g == group and stage_tasks.get(s)]
        if sids:
            slow = max(sids, key=lambda s: stage_span.get(s, max(stage_tasks[s])))
            med = statistics.median(stage_tasks[slow])
            rec["task_skew"] = max(stage_tasks[slow]) / med if med > 0 else 1.0
        else:
            rec["task_skew"] = 0.0
        out[group] = rec
    return out


def sql_execution_starts(log_dir: str) -> list[float]:
    """Epoch seconds at which each SQL execution started: after its
    physical planning, before its first job."""
    starts = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if "SQLExecutionStart" in line[:120]:
                    starts.append(json.loads(line)["time"] / 1e3)
    return sorted(starts)


class StreamProgress:
    """A ``StreamingQueryListener`` that keeps every micro-batch progress
    report, for attribution to ops by the query's run id."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def drain(self, timeout: float = 10.0) -> None:
        """Wait until the listener bus has delivered every event, then
        remove the listener."""
        deadline, seen = time.monotonic() + timeout, -1
        while time.monotonic() < deadline and seen != len(self.progress):
            seen = len(self.progress)
            time.sleep(0.5)
        self.spark.streams.removeListener(self.listener)

    def by_run(self, run_op: dict[str, str]) -> dict[str, list]:
        """Each op's progress reports, given the run id → op map."""
        out: dict[str, list] = {op: [] for op in run_op.values()}
        for p in self.progress:
            op = run_op.get(str(p.runId))
            if op is not None:
                out[op].append(p)
        return out


STREAM_KEYS = ("batches", "empty_batches", "input_rows", "trigger_s", "add_batch_s", "plan_s",
               "offset_s", "commit_s", "state_rows", "state_bytes", "state_commit_s",
               "rows_late_dropped")


def stream_metrics(reports: list) -> dict[str, float]:
    """One op's micro-batch reports folded into the streaming.* figures."""
    def dur(p, *keys):
        return sum((p.durationMs or {}).get(k, 0) for k in keys) / 1e3

    ops = [s for p in reports for s in (p.stateOperators or [])]
    last = list(reports[-1].stateOperators or []) if reports else []
    return {
        "batches": len(reports),
        "empty_batches": sum(p.numInputRows == 0 for p in reports),
        "input_rows": sum(p.numInputRows for p in reports),
        "trigger_s": sum(dur(p, "triggerExecution") for p in reports),
        "add_batch_s": sum(dur(p, "addBatch") for p in reports),
        "plan_s": sum(dur(p, "queryPlanning") for p in reports),
        "offset_s": sum(dur(p, "latestOffset", "getBatch") for p in reports),
        "commit_s": sum(dur(p, "walCommit", "commitOffsets") for p in reports),
        "state_rows": sum(s.numRowsTotal for s in last),
        "state_bytes": sum(s.memoryUsedBytes for s in last),
        "state_commit_s": sum(s.commitTimeMs for s in ops) / 1e3,
        "rows_late_dropped": sum(s.numRowsDroppedByWatermark for s in ops),
    }
