"""One way to run a registry query for timing: the session warm-up, the
hygiene between queries, and the timed ``noop`` write. ``bench.py`` and
the tools all run queries through these three, so their numbers measure
the same thing.

The hygiene clears what a query's plan may still pin (the cache and
``localCheckpoint`` blocks) and, every 8th call, runs the two GCs. It
touches no catalog state: a query registers no view it does not drop.
"""

from __future__ import annotations

import gc
import os
import sys
import time

from pyspark.sql import SparkSession

from .catalog import SCRATCH


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Warm the session before any query is timed: the flagship plan
    (JVM and codegen), the Arrow worker pool (otherwise the first
    pandas-UDF query absorbs the worker cold start), and the csv/json/orc
    writers."""
    from .flagship import flagship

    flagship(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    # The text/columnar datasources JIT their write+read pipelines on
    # first use; without this the scan_*_roundtrip queries absorb ~5 s of
    # one-time codegen into pass 0 (measured r6: all three "regressed"
    # +0.3-0.6 s for exactly this reason).
    tiny = spark.range(10).selectExpr("id", "cast(id as string) s", "timestamp'2024-01-01' ts")
    for fmt in ("csv", "json", "orc"):
        p = os.path.join(SCRATCH, "bench_warmup", fmt)
        tiny.write.mode("overwrite").format(fmt).save(p)
        spark.read.format(fmt).load(p).write.format("noop").mode("overwrite").save()


class Hygiene:
    """The sweep between two timed queries, so that one query's leftovers
    do not tax a later one (without it pipeline_bpe_train read 11-16 s
    mid-suite against ~5 s in a clean session). Every call clears the
    cache and unpersists orphaned RDD blocks. Queries leave no temp view
    or active stream behind (tests/test_oracle.py checks each one), so
    there is no catalog sweep. Each call is timed into ``seconds``; ``n``
    counts calls. The every-8th block, or every call with ``full=True``,
    gates only the full Python and JVM GC (a JVM GC per query costs
    ~0.6 s; every 8th keeps the per-query noise under ~1 s at an eighth
    of that)."""

    def __init__(self, spark: SparkSession):
        self.spark, self.n, self.seconds = spark, 0, 0.0

    def __call__(self, full: bool = False) -> None:
        t0 = time.perf_counter()
        spark = self.spark
        full = full or self.n % 8 == 0
        # young-generation collect every call (the previous query's
        # DataFrame/py4j cycles, ~1-5 ms); a full gen-2 scan of the grown
        # module heap costs ~64 ms and frees nothing more
        gc.collect(1)
        spark.catalog.clearCache()
        try:
            # clearCache leaves localCheckpoint RDD blocks (every iterative
            # operator cuts lineage with them) until the ContextCleaner gets
            # round to them; r10 measured graph_pagerank at 5.45 s warm late
            # in the suite against 3.2 s in a clean session. No query keeps
            # persisted state across calls, so all that is pinned here is an
            # orphan.
            for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
                jrdd.unpersist(False)
        except Exception as exc:
            # never fail the run, but a dead sweep must not go unseen
            print(f"hygiene sweep failed: {type(exc).__name__}: {exc}", file=sys.stderr)
        if full:
            gc.collect()
            # the JVM GC lets the ContextCleaner reclaim dead broadcasts
            # and accumulators (without it sim_cosine_ivf read 7x inflated
            # mid-sweep)
            spark._jvm.System.gc()
        self.n += 1
        self.seconds += time.perf_counter() - t0


def run_query(spark: SparkSession, qd, sf_dir: str) -> float:
    """Seconds to build ``qd``'s DataFrame and execute it into the
    ``noop`` sink: the whole plan runs on the executors and nothing is
    brought back to the driver."""
    t0 = time.perf_counter()
    qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0
