#!/usr/bin/env python
"""Driver simulation — the /verify drive for this repo.

Replays what the external grading driver does, in a fresh process with a
PLAIN SparkSession (no engine factory configs — catches config-dependence
bugs like the ns-timestamp events table):

1. smoke: ``entry(spark)`` at sf0.001 returns >0 rows;
2. every ``queries()`` entry (or only the named ones) runs at sf0.01 and,
   when ``oracle_sql()`` has a matching key, compares against DuckDB with
   the pytest oracle harness's comparison (tests/conftest.py
   ``frame_mismatch``: row count, sorted columns, sorted rows of
   type-tagged exact cells), requiring exact identity.

Exit 0 = all green.  Run from the repo root:
    python tools/verify_driver.py [name ...] [--sf DIR]
"""

from __future__ import annotations

import argparse
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))


def main() -> int:
    ap = argparse.ArgumentParser(description="Driver-style oracle check of registry queries.")
    ap.add_argument("names", nargs="*", help="registered query names (default: all)")
    ap.add_argument("--sf", help="fixture dir (default: sf0.01 beside the smoke's sf0.001)")
    ns = ap.parse_args()
    import duckdb
    from conftest import frame_mismatch
    from pyspark.sql import SparkSession

    import __spark_entry__ as e
    from projektdataengineering_spark.catalog import TABLES

    qs = e.queries()
    unknown = [n for n in ns.names if n not in qs]
    if unknown:
        ap.error(f"unknown query names: {', '.join(unknown)}")
    if ns.names:
        qs = {n: qs[n] for n in ns.names}
    oracles = e.oracle_sql()
    sf = ns.sf or os.path.join(os.path.dirname(e.SF0001), "sf0.01")

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())

    n = len(e.entry(spark).collect())
    assert n > 0, "entry() smoke returned 0 rows"
    print(f"smoke: entry() -> {n} rows  OK", flush=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    fails = []
    for i, (name, fn) in enumerate(qs.items()):
        try:
            spdf = fn(spark, sf).toPandas()
        except Exception as ex:  # noqa: BLE001
            fails.append((name, f"spark error: {ex}"))
            print(f"[{i+1}/{len(qs)}] {name}: SPARK ERROR {ex}", flush=True)
            continue
        sql = oracles.get(name)
        if not sql:
            print(f"[{i+1}/{len(qs)}] {name}: rows-only {len(spdf)}", flush=True)
            continue
        try:
            odf = con.execute(sql).df()
        except Exception as ex:  # noqa: BLE001
            fails.append((name, f"oracle error: {ex}"))
            print(f"[{i+1}/{len(qs)}] {name}: ORACLE ERROR {ex}", flush=True)
            continue
        why = frame_mismatch(spdf, odf)
        if why:
            fails.append((name, why))
            status = f"MISMATCH {why}"
        else:
            status = f"match {len(spdf)} rows"
        print(f"[{i+1}/{len(qs)}] {name}: {status}", flush=True)

    print(f"\n{len(qs)} queries, {len(fails)} failures")
    for name, why in fails:
        print(f"  FAIL {name}: {why}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
