"""Shared fixtures: one SparkSession per test run + the differential
oracle harness that replays the driver's check (row count + schema +
order-insensitive value hash vs DuckDB on the same parquet files).

SPARK_GRAFT_TEST_SF selects the fixture scale (default sf0.001 for fast
iteration; run with sf0.01 before committing — that's the driver's t2
scale).
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

from projektdataengineering_spark.catalog import TABLES
from projektdataengineering_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pde-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _canon_cell(v):
    """Canonicalize one value for order-insensitive comparison."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact float identity — our queries are designed bit-stable
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # datetime / date
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    return f"{type(v).__name__}:{v!r}"


def _canon_frame(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    return cols, rows


def frame_mismatch(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """Why a Spark result differs from its oracle's — row count, then
    canonical columns, then exact canonical rows — or None if it does not."""
    if len(spark_pdf) != len(oracle_pdf):
        return f"row count {len(spark_pdf)} (spark) != {len(oracle_pdf)} (oracle)"
    scols, srows = _canon_frame(spark_pdf)
    ocols, orows = _canon_frame(oracle_pdf)
    if scols != ocols:
        return f"columns {scols} != {ocols}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b
    ]
    if mismatches:
        return f"{len(mismatches)} mismatching rows; first 3: {mismatches[:3]}"
    return None


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    why = frame_mismatch(spark_pdf, oracle_pdf)
    assert why is None, f"{name}: {why}"
