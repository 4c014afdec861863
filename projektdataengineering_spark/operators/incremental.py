"""Incremental (high-water-mark) load operators — the reference's one
non-trivial semantic, made into a reusable library.

Reference behaviors reproduced/fixed (SURVEY.md §2.2):

* O1  strictly-greater-than predicate on the event-time column
      (/root/reference/spark_tasks/weather_task.py:74,82)
* O2  late/out-of-order rows silently dropped in batch mode (the
      streaming mirrors in ``streaming/`` replace this with watermarks)
* O3  empty-warehouse bootstrap: hwm None → take everything
      (weather_task.py:80-84)
* O4  the reference's error path falls back to an unfiltered full append
      (duplicate risk, weather_task.py:86-89); we *fail* instead and
      provide ``dedup_incremental`` (anti-join on the business key) so
      replays are idempotent.

Scale notes: the batch pipeline reads the high-water mark with
``stored_high_water_mark``: from the stored parquet files' footers
(pyarrow on the driver, no Spark job) when every file is local and holds
the timestamp as INT64 TIMESTAMP(MILLIS|MICROS, UTC) with row-group
statistics; otherwise through ``high_water_mark``, a scalar aggregate
over every stored file (Spark's parquet aggregate pushdown does not
cover TIMESTAMP, so that path scans the column). ``incremental_filter``
is a plain pushdown-able predicate. ``dedup_incremental``'s anti-join
builds on ``existing``'s key column, broadcast when it is small enough;
the batch pipeline passes the stored keys semi-joined against the
batch's keys, so that build side holds at most the batch's keys, never
the key history.
"""

from __future__ import annotations

from datetime import datetime
from urllib.parse import urlsplit
from urllib.request import url2pathname

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def high_water_mark(df: DataFrame, ts_col: str):
    """Current high-water mark: max(ts) as a Python scalar (None if empty).

    The reference pushes this into the warehouse via a hand-written JDBC
    subquery (weather_task.py:72-76); engine-native form is a scalar agg.
    """
    row = df.agg(F.max(ts_col).alias("hwm")).first()
    return row["hwm"] if row else None


def stored_high_water_mark(stored: DataFrame, ts_col: str):
    """High-water mark of a parquet table read with an explicit schema
    (``sources.read_existing``): from the files' footers when they give
    it exactly, else :func:`high_water_mark`'s aggregate.

    The footer path runs when every file Spark's file index lists is a
    local ``file:`` URI holding ``ts_col`` as INT64 TIMESTAMP(MILLIS or
    MICROS, UTC-adjusted) with min/max statistics in every row group
    that holds a non-NULL value. The mark is the largest row-group
    maximum, exact to the microsecond, and matches the aggregate's
    Python value. On that path a file lacking a column of ``stored``'s
    schema, or holding it with another type, raises. Any other
    warehouse — s3a or hdfs, INT96 files from a session without
    ``outputTimestampType=TIMESTAMP_MICROS``, files written with Spark's
    legacy calendar rebase — runs the aggregate.
    """
    marks: list[int] = []
    for uri in stored.inputFiles():
        maxima = _footer_maxima(uri, stored.schema, ts_col)
        if maxima is None:
            return high_water_mark(stored, ts_col)
        marks += maxima
    return T.TimestampType().fromInternal(max(marks)) if marks else None


def _footer_maxima(uri: str, schema: T.StructType, ts_col: str) -> list[int] | None:
    """Row-group maxima of ``ts_col`` (µs since the epoch) in one stored
    file's footer; None when the footer cannot give them exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    parts = urlsplit(uri)
    if parts.scheme != "file":
        return None
    meta = pq.read_metadata(url2pathname(parts.path))
    arrow = meta.schema.to_arrow_schema()
    for field in schema:
        want = to_arrow_type(field.dataType)
        got = arrow.field(field.name).type if field.name in arrow.names else None
        if got is None or (got != want and not (
                pa.types.is_timestamp(got) and pa.types.is_timestamp(want))):
            raise ValueError(
                f"{uri}: column {field.name} is {got}, the table reads "
                f"{field.dataType.simpleString()}")
    us_per_unit = {pa.timestamp("ms", "UTC"): 1000, pa.timestamp("us", "UTC"): 1}
    scale = us_per_unit.get(arrow.field(ts_col).type)
    col = next(j for j in range(len(meta.schema)) if meta.schema.column(j).path == ts_col)
    if (scale is None or meta.schema.column(col).physical_type != "INT64"
            or b"org.apache.spark.legacyDateTime" in (meta.metadata or {})):
        return None
    maxima = []
    for r in range(meta.num_row_groups):
        rg = meta.row_group(r)
        stats = rg.column(col).statistics
        if stats is not None and stats.has_min_max:
            maxima.append(stats.max_raw * scale)
        elif stats is None or not stats.has_null_count or stats.null_count != rg.num_rows:
            return None  # holds a non-NULL value the footer does not bound
    return maxima


def incremental_filter(
    df: DataFrame, ts_col: str, hwm: datetime | str | None
) -> DataFrame:
    """Keep rows strictly newer than ``hwm`` (O1); ``None`` → all rows (O3).

    Strict ``>`` means a row timestamped exactly at the HWM is dropped —
    the reference's boundary semantic, covered by tests.
    """
    if hwm is None:
        return df
    return df.filter(F.col(ts_col) > F.lit(hwm))


def dedup_incremental(batch: DataFrame, existing: DataFrame, key: str) -> DataFrame:
    """Idempotent append set: batch rows whose ``key`` is not yet present.

    Left-anti join on the business key — replaying the same batch yields
    zero rows, fixing the reference's duplicate-on-error risk (O4).
    """
    return batch.join(existing.select(key), on=key, how="left_anti")


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: mergeable per-key state
# ---------------------------------------------------------------------------

def agg_state(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Partial aggregate STATE for incremental rollup maintenance:
    per key — row count, non-null value count, exact decimal sum,
    min, max. Every field is MERGEABLE (sum of sums, min of mins …),
    which is the algebraic property that lets a warehouse keep a
    rollup current by folding in each new batch's state instead of
    re-scanning history — the aggregate twin of the HWM load above.

    The value sum is exact DECIMAL(28,2): fp addition is non-
    associative, so a float state would drift per merge order; decimal
    state makes merge results independent of batching (the
    finalize_agg_state float division happens ONCE, at read time)."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(value_col).alias("n_vals"),
        F.sum(F.col(value_col).cast("decimal(28,2)")).cast("decimal(28,2)").alias("sum_val"),
        F.min(value_col).alias("min_val"),
        F.max(value_col).alias("max_val"),
    )


def merge_agg_states(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Fold two state frames into one (same schema as agg_state).
    union + one re-aggregate on the key — at scale both sides are
    key-cardinality-sized, orders of magnitude smaller than the fact
    data they summarize."""
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_vals").alias("n_vals"),
            # cast back so the state schema is CLOSED under merge
            # (Spark widens decimal sums to (38,2); chained merges must
            # not drift the schema). (28,2) holds ~1e26 — no overflow
            # risk from 2-dp telemetry values at any realistic count.
            F.sum("sum_val").cast("decimal(28,2)").alias("sum_val"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
        )
    )


def finalize_agg_state(state: DataFrame) -> DataFrame:
    """Read-time projection of the state into the user-facing rollup
    (count / exact sum as double / min / max / mean). The single float
    step happens here, after all merging — bit-stable regardless of
    how many increments built the state."""
    return state.select(
        *[c for c in state.columns if c not in
          ("n_rows", "n_vals", "sum_val", "min_val", "max_val")],
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("sum_val").cast("double").alias("sum_value"),
        F.col("min_val").alias("min_value"),
        F.col("max_val").alias("max_value"),
        (F.col("sum_val").cast("double") / F.col("n_vals")).alias("avg_value"),
    )
