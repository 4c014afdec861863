#!/usr/bin/env python
"""Driver simulation — the /verify drive for this repo.

Replays what the external grading driver does, in a fresh process with a
PLAIN SparkSession (no engine factory configs — catches config-dependence
bugs like the ns-timestamp events table):

1. smoke: ``entry(spark)`` at sf0.001 returns >0 rows;
2. every ``queries()`` entry runs at sf0.01 and, when ``oracle_sql()``
   has a matching key, compares against DuckDB with the pytest oracle
   harness's canonicalizer (tests/conftest.py ``_canon_frame``: sorted
   columns, sorted rows of type-tagged exact cells), requiring exact
   identity.

Exit 0 = all green.  Run from the repo root:
    python tools/verify_driver.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import duckdb
    from conftest import _canon_frame
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    import __spark_entry__ as e

    n = len(e.entry(spark).collect())
    assert n > 0, "entry() smoke returned 0 rows"
    print(f"smoke: entry() -> {n} rows  OK", flush=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    oracles = e.oracle_sql()
    fails = []
    qs = e.queries()
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
        sc, srows = _canon_frame(spdf)
        oc, orows = _canon_frame(odf)
        if sc != oc:
            fails.append((name, f"schema {sc} != {oc}"))
            status = "SCHEMA MISMATCH"
        elif len(srows) != len(orows):
            fails.append((name, f"rows {len(srows)} != {len(orows)}"))
            status = "ROWCOUNT MISMATCH"
        elif srows != orows:
            diff = next((a, b) for a, b in zip(srows, orows) if a != b)
            fails.append((name, f"values differ, e.g. {diff[0]} vs {diff[1]}"))
            status = "VALUE MISMATCH"
        else:
            status = f"match {len(srows)} rows"
        print(f"[{i+1}/{len(qs)}] {name}: {status}", flush=True)

    print(f"\n{len(qs)} queries, {len(fails)} failures")
    for name, why in fails:
        print(f"  FAIL {name}: {why}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
