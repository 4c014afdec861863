"""The one query runner (``runner``) and bench.py's stdout line: the
hygiene sweep's effects, the line's size and failure contract, and a
guard that no copy of the runner's sweep or warm-up is kept elsewhere."""

from __future__ import annotations

import glob
import json
import os
import re

import bench
from projektdataengineering_spark.runner import Hygiene

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_hygiene_unpersists_every_call(spark):
    hygiene = Hygiene(spark)
    seconds = [hygiene.seconds]
    for call in range(9):
        rdd = spark.sparkContext.parallelize(range(4)).persist()
        assert rdd.id() in spark.sparkContext._jsc.getPersistentRDDs().keys()
        hygiene()
        assert rdd.id() not in spark.sparkContext._jsc.getPersistentRDDs().keys(), call
        seconds.append(hygiene.seconds)
    assert hygiene.n == 9
    assert all(b > a for a, b in zip(seconds, seconds[1:]))


def _headline(failed: int) -> dict:
    """bench.py's headline fields at their committed sf0.1 widths."""
    return {
        "metric": "suite_wall_sec", "value": 296.508, "unit": "sec", "sf": 0.1,
        "passes": 2, "warmup_sec": 21.092, "pass_walls": [275.416, 207.892],
        "hygiene_sec": [22.078, 23.664], "query_sums": [253.336, 184.217],
        "calib_sec": [0.137, 0.15], "failed": failed,
        "cpus": 32, "master": "local[32]", "spark_version": "4.1.1",
    }


def test_stdout_line_keeps_failures_and_fits_its_budget():
    for n_failed in (0, 3):
        merged = {f"synthetic_registry_query_name_{i:03d}": round(0.05 + i * 0.037, 3)
                  for i in range(265)}
        failures = sorted(merged)[:: 265 // max(n_failed, 1)][:n_failed]
        for name in failures:
            merged[name] = -1.0
        line = bench._stdout_line(_headline(n_failed), merged)
        rec = json.loads(line)
        kept = rec["queries"]
        assert all(kept.get(name) == -1.0 for name in failures)
        assert sum(1 for v in kept.values() if v >= 0) <= bench._STDOUT_MAX_QUERIES
        assert rec["queries_elided"] + len(kept) == 265
        assert {"cpus", "master", "spark_version"} <= rec.keys()
        if not n_failed:
            assert len(line.encode()) <= bench._STDOUT_LINE_BUDGET


def test_no_copy_of_the_runner_outside_it():
    """bench.py and the tools run queries through ``runner`` only; the
    benchmark's own frozen copy under perfbench/ is exempt."""
    pattern = re.compile(r"getPersistentRDDs|System\.gc\(\)|mapInPandas\(")
    hits = [
        f"{os.path.relpath(path, ROOT)}:{n}: {line.strip()}"
        for path in [os.path.join(ROOT, "bench.py"), *glob.glob(os.path.join(ROOT, "tools", "*.py"))]
        for n, line in enumerate(open(path, encoding="utf-8"), 1)
        if pattern.search(line)
    ]
    assert not hits, hits
