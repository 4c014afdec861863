#!/usr/bin/env python
"""Time registered queries, print every micro-batch of the streams they
start, and optionally dump their executed plans.

Usage: python tools/run_queries.py name... [--sf DIR] [--reps N] [--plans DIR]

On bench.py's session and warm-up, each query runs once untimed, then
--reps timed times, each through ``runner.run_query`` after
``runner.Hygiene``; the untimed run's micro-batches come from perfbench's
``spans.StreamProgress``. --plans writes ``DIR/<name>.txt``: the collected
DataFrame's formatted plan, final then initial (node counts cover both).
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "perfbench"))

NODES = ("Exchange", "ReusedExchange", "AQEShuffleRead", "ArrowEvalPython", "BatchEvalPython")
STATE = ("numRowsTotal", "numRowsUpdated", "allUpdatesTimeMs", "commitTimeMs", "memoryUsedBytes")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", metavar="DIR")
    ns = ap.parse_args()

    from spans import StreamProgress

    from projektdataengineering_spark.plans import explain_string, plan_facts
    from projektdataengineering_spark.queries import load_registry
    from projektdataengineering_spark.runner import Hygiene, run_query, warm_up
    from projektdataengineering_spark.session import get_spark
    from projektdataengineering_spark.streaming import scoped_conf

    spark = get_spark(app_name="pde-run-queries")
    registry = load_registry()
    warm_up(spark, ns.sf)
    hygiene = Hygiene(spark)
    for name in ns.names:
        qd = registry[name]
        hygiene()
        streams = StreamProgress(spark)
        first = run_query(spark, qd, ns.sf)
        streams.drain()
        print(f"{name}: untimed {first:.3f}s, {len(streams.progress)} micro-batch(es)")
        for p in streams.progress:
            dur = " ".join(f"{k}={v}" for k, v in sorted((p.durationMs or {}).items()))
            print(f"  stream {p.name or p.runId} batch {p.batchId}: rows={p.numInputRows} {dur}")
            for so in p.stateOperators or []:
                print(f"    state {so.operatorName}:", *(f"{k}={getattr(so, k)}" for k in STATE))
        for rep in range(ns.reps):
            hygiene()
            print(f"{name}: rep {rep} {run_query(spark, qd, ns.sf):.3f}s")
        if ns.plans:
            df = qd.fn(spark, ns.sf)
            # a noop write would finalize its own write plan, not df's; AQE
            # is forced so a plan without an exchange is adaptive too
            with scoped_conf(spark, {"spark.sql.adaptive.forceApply": "true"}):
                df.collect()
            os.makedirs(ns.plans, exist_ok=True)
            with open(out := os.path.join(ns.plans, f"{name}.txt"), "w") as fh:
                fh.write(explain_string(df))
            facts = plan_facts(df)
            print(f"{name}: {', '.join(f'{n}={facts.count(n)}' for n in NODES)} -> {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
