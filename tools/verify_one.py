#!/usr/bin/env python
"""Single-query driver-rule check: python tools/verify_one.py name [name...] [--sf DIR]."""
from __future__ import annotations

import argparse
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [_ROOT, os.path.join(_ROOT, "tests")]
from conftest import _canon_frame  # type: ignore
from verify_driver import TABLES  # type: ignore


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="+", help="registered query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="fixture dir")
    ns = ap.parse_args()
    import duckdb
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    import __spark_entry__ as e
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ns.sf}/{t}.parquet'")
    qs, oracles = e.queries(), e.oracle_sql()
    rc = 0
    for name in ns.names:
        spdf = qs[name](spark, ns.sf).toPandas()
        sql = oracles.get(name)
        if not sql:
            print(f"{name}: rows-only {len(spdf)}"); continue
        odf = con.execute(sql).df()
        sc, srows = _canon_frame(spdf); oc, orows = _canon_frame(odf)
        if sc != oc: print(f"{name}: SCHEMA {sc} != {oc}"); rc = 1
        elif srows != orows:
            print(f"{name}: MISMATCH rows {len(srows)} vs {len(orows)}")
            for a, b in list(zip(srows, orows))[:1000]:
                if a != b: print("  ", a, "\n  !=", b); break
            rc = 1
        else: print(f"{name}: match {len(srows)} rows")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
