"""The ``etl_weekly`` workload: the reference's weekly CSV ingest, its
three serving SELECTs over a warehouse that already holds many weeks, and
the continuous form of the same ingest.

The warehouse history (``history_weeks`` clean weeks, one parquet file
each) is loaded once per run, untimed, and copied into place at the start
of every round. A round then offers the seeded new weeks in order (one
file per batch, a replay among them) to two ops each:

* ``batch`` — ``run_incremental_batch(key_col="EventId")`` (strict ``>``
  high-water mark, business-key anti-join, archive); after it S1 and S2
  collect 200 rows in start-time order and S3 runs the full ordered scan
  to a ``noop`` sink;
* ``stream`` — one micro-batch of a checkpointed streaming query over a
  second landing zone: the cast layer, then the engine's stateful
  first-wins ``EventId`` dedup (``dedup_stream_first_wins_bucketed``,
  ``applyInPandasWithState``), written to an epoch-partitioned parquet
  sink as the engine's ``write_stream_idempotent`` does.

Every expected result is computed here in plain Python, independently of
the engine.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import re
import shutil
from collections import Counter
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import fixtures

_NUM = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)$")
_DECIMALS = {"PrecipitationIn": 2, "LocationLat": 6, "LocationLng": 6}
_TIMESTAMPS = ("StartTimeUTC", "EndTimeUTC")
SERVE_ROWS = 200
_EPOCH = dt.datetime(1970, 1, 1)


def _cast(col: str, raw: str | None):
    if raw is None or raw == "":
        return None
    if col in _TIMESTAMPS:
        try:
            return dt.datetime.strptime(raw, "%Y-%m-%d %H:%M:%S")
        except ValueError:
            return None
    if col in _DECIMALS:
        if not _NUM.match(raw):
            return None
        return Decimal(raw).quantize(Decimal(1).scaleb(-_DECIMALS[col]))
    return raw


def parse_csv(text: str) -> tuple[list[str], list[tuple]]:
    reader = csv.reader(io.StringIO(text))
    cols = next(reader)
    return cols, [tuple(_cast(c, v) for c, v in zip(cols, row)) for row in reader]


def _us(t: dt.datetime) -> int:
    return (t - _EPOCH) // dt.timedelta(microseconds=1)


def expected_loads(parsed: list[list[tuple]], cols: list[str], hwm0: dt.datetime) -> list[list[tuple]]:
    """Rows each offered file adds to a warehouse whose history ends at
    ``hwm0``: strict ``>`` against the stored maximum start time, then an
    anti-join on ``EventId`` against the stored rows (history keys never
    recur)."""
    ts, key = cols.index("StartTimeUTC"), cols.index("EventId")
    hwm, seen, per_file = hwm0, set(), []
    for rows in parsed:
        rows = [r for r in rows if r[ts] is not None and r[ts] > hwm and r[key] not in seen]
        per_file.append(rows)
        seen.update(r[key] for r in rows)
        hwm = max([hwm] + [r[ts] for r in rows])
    return per_file


def expected_stream(parsed: list[list[tuple]], cols: list[str]) -> list[set[tuple]]:
    """Per micro-batch (one file each), the first-wins dedup's update rows
    (key, first start in µs, later duplicates so far) for every key the
    file touches. Rows without a key or a parseable start are dropped."""
    ts, key = cols.index("StartTimeUTC"), cols.index("EventId")
    state: dict[str, list[int]] = {}
    out = []
    for rows in parsed:
        rows = [r for r in rows if r[key] is not None and r[ts] is not None]
        first: dict[str, int] = {}
        for r in rows:
            us = _us(r[ts])
            first[r[key]] = min(first.get(r[key], us), us)
        for k, n in Counter(r[key] for r in rows).items():
            ent = state.setdefault(k, [first[k], -1])
            ent[1] += n
        out.append({(k, state[k][0], state[k][1]) for k in first})
    return out


def read_warehouse(path: str) -> tuple[list[str], list[tuple], int]:
    """The rows stored after the history as Python values, and the number
    of history rows; read with pyarrow, not the engine."""
    table = pq.read_table(path)
    history = pc.starts_with(table.column("EventId"), "H")
    n_history = pc.sum(history).as_py() or 0
    table = table.filter(pc.invert(history))
    for i, field in enumerate(table.schema):
        if pa.types.is_timestamp(field.type):  # UTC instants → naive UTC
            table = table.set_column(i, field.name, table.column(i).cast(pa.timestamp("us")))
    cols = table.column_names
    data = table.to_pydict()
    return cols, list(zip(*(data[c] for c in cols))), n_history


def read_stream_epoch(path: str, epoch: int) -> set[tuple]:
    """One epoch of the stream sink as (key, first start in µs, dropped)."""
    table = pq.read_table(os.path.join(path, f"__epoch={epoch}"))
    first = table.column("first_ts").cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
    return set(zip(table.column("key").to_pylist(), first, table.column("n_dropped").to_pylist()))


class WeeklyRound:
    """One round's files, expected results and on-disk layout."""

    def __init__(self, seed: int, history_weeks: int, weeks: int, rows_per_week: int,
                 work_dir: str):
        self.history_files, early, late = fixtures.weather_history(
            seed, history_weeks, rows_per_week, SERVE_ROWS)
        self.history_rows = history_weeks * rows_per_week
        self.files = fixtures.weather_batches(seed, weeks, rows_per_week, history_weeks)
        parsed = [parse_csv(text) for _, text in self.files]
        self.cols = cols = parsed[0][0]
        rows = [r for _, r in parsed]
        self.adds = expected_loads(rows, cols, late[-1][1])
        self.stream_expected = expected_stream(rows, cols)
        self.work_dir = work_dir
        ts, key = cols.index("StartTimeUTC"), cols.index("EventId")
        # S1/S2: the SERVE_ROWS earliest / latest EventIds of history + adds
        self.serve_expected: list[tuple[list[str], list[str]]] = []
        stored: list[tuple] = []
        for added in self.adds:
            stored.extend((r[key], r[ts]) for r in added)
            order = sorted(early + late + stored, key=lambda r: r[1])
            self.serve_expected.append(
                ([r[0] for r in order[:SERVE_ROWS]], [r[0] for r in order[::-1][:SERVE_ROWS]])
            )
        self.stored_rows = [r for added in self.adds for r in added]
        self.rows_offered = [text.count("\n") - 1 for _, text in self.files]

    def build_history(self, spark) -> int:
        """Load the history weeks into the template warehouse, one parquet
        file per week's worth of rows, through the engine's cast layer.
        Returns the number of files."""
        from projektdataengineering_spark.sources import read_csv_with_casts

        landing = os.path.join(self.work_dir, "history", "landing")
        self.history_warehouse = os.path.join(self.work_dir, "history", "warehouse")
        os.makedirs(landing)
        for name, text in self.history_files:
            with open(os.path.join(landing, name), "w") as fh:
                fh.write(text)
        (read_csv_with_casts(spark, landing)
         .repartitionByRange(len(self.history_files), "StartTimeUTC")
         .write.parquet(self.history_warehouse))
        n_files, self.history_bytes = warehouse_stats(self.history_warehouse)
        return n_files

    def paths(self, r: int) -> dict[str, str]:
        base = os.path.join(self.work_dir, f"round{r}")
        return {k: os.path.join(base, k) for k in (
            "landing", "warehouse", "archive", "stream_landing", "stream_sink", "checkpoint")}

    def reset(self, r: int) -> dict[str, str]:
        p = self.paths(r)
        shutil.rmtree(os.path.dirname(p["landing"]), ignore_errors=True)
        os.makedirs(p["landing"])
        os.makedirs(p["stream_landing"])
        shutil.copytree(self.history_warehouse, p["warehouse"])
        return p

    def offer(self, p: dict[str, str], k: int, lane: str) -> None:
        name, text = self.files[k]
        with open(os.path.join(p["landing" if lane == "batch" else "stream_landing"], name),
                  "w") as fh:
            fh.write(text)


def run_batch(spark, p: dict[str, str], when: dt.datetime):
    from projektdataengineering_spark.pipeline import run_incremental_batch
    from projektdataengineering_spark.sources import WEATHER_CASTS, weather_raw_schema

    return run_incremental_batch(
        spark,
        landing_path=p["landing"],
        warehouse_path=p["warehouse"],
        archive_root=p["archive"],
        dataset="weather_data",
        ts_col="StartTimeUTC",
        casts=WEATHER_CASTS,
        schema=weather_raw_schema(),
        key_col="EventId",
        now=when,
    )


def run_stream(spark, p: dict[str, str]) -> str:
    """Drain the stream landing zone (one new file) through the stateful
    dedup into an epoch-partitioned parquet sink (the engine's
    ``write_stream_idempotent`` discipline, in update mode); resumes from
    the round's checkpoint. Returns the query's run id."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.sources import WEATHER_CASTS, weather_raw_schema
    from projektdataengineering_spark.streaming import stream_state_partitions
    from projektdataengineering_spark.streaming.stateful import (
        DEDUP_BUCKETS,
        dedup_stream_first_wins_bucketed,
    )

    def write_epoch(batch, epoch: int) -> None:
        (batch.withColumn("__epoch", F.lit(epoch)).write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic").partitionBy("__epoch")
         .parquet(p["stream_sink"]))

    raw = (spark.readStream.schema(weather_raw_schema()).option("header", True)
           .csv(p["stream_landing"]))
    keyed = raw.select(
        F.pmod(F.hash("EventId"), F.lit(DEDUP_BUCKETS)).alias("bucket"),
        F.col("EventId").alias("key"),
        F.expr(f"try_cast(StartTimeUTC AS {WEATHER_CASTS['StartTimeUTC']})").alias("ts"),
    ).filter("key IS NOT NULL AND ts IS NOT NULL")
    with stream_state_partitions(spark):
        q = (dedup_stream_first_wins_bucketed(keyed).writeStream.outputMode("update")
             .foreachBatch(write_epoch).option("checkpointLocation", p["checkpoint"])
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return str(q.runId)


def serve(spark, warehouse: str, which: str):
    """S1/S2 return the 200 EventIds in order; S3 returns the file count."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(warehouse)
    if which == "S1":
        return [r[0] for r in df.orderBy(F.asc("StartTimeUTC")).limit(SERVE_ROWS).select("EventId").collect()]
    if which == "S2":
        return [r[0] for r in df.orderBy(F.desc("StartTimeUTC")).limit(SERVE_ROWS).select("EventId").collect()]
    df.orderBy("StartTimeUTC").write.format("noop").mode("overwrite").save()
    return len(df.inputFiles())


def warehouse_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) of the stored data."""
    n = size = 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            n += 1
            size += os.path.getsize(os.path.join(path, name))
    return n, size
