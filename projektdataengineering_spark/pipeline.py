"""The reference's batch pipeline, end-to-end, Spark-first.

Reproduces /root/reference/spark_tasks/weather_task.py:129-147 (read →
cast → incremental filter → append → archive) with the four semantic
fixes SURVEY.md §2.2 calls for:

* O4: an unreadable warehouse FAILS the batch (the reference swallowed
  the error and appended everything — duplicate risk); only a warehouse
  path that does not exist or holds no data files bootstraps.
  Idempotence against replays comes from the HWM filter itself plus an
  optional business-key anti-join.
* O5: ONE action. The reference ran count() and then write — two full
  source scans with a race between them. Here the row count rides the
  write action via ``df.observe`` (an accumulator, not a second scan).
* Archive after commit (same ordering as the reference, O6 layout);
  re-offered files after a crash are no-ops thanks to the HWM filter.
* The idempotence checks cost what the batch costs, not what the
  warehouse holds. The warehouse is an unpartitioned parquet directory,
  read with the key and timestamp types the cast layer writes (no
  schema-inference job). On a local warehouse written with
  ``outputTimestampType=TIMESTAMP_MICROS`` (``session.get_spark`` pins
  it) the HWM comes from the files' parquet footers on the driver, so no
  Spark job runs before the write; elsewhere (s3a/hdfs, INT96 files) it
  is a MAX aggregate over the stored timestamp column. The anti-join
  builds on the stored keys that also occur in the batch, and with no
  row past the HWM AQE skips the stored scan.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.incremental import dedup_incremental, incremental_filter, stored_high_water_mark
from .sources import cast_layer, read_csv_with_casts, read_existing
from .sources.archive import archive_files


@dataclass(frozen=True)
class BatchResult:
    rows_written: int
    high_water_mark: datetime | None
    archived: list[str]


def run_incremental_batch(
    spark: SparkSession,
    landing_path: str,
    warehouse_path: str,
    archive_root: str,
    dataset: str,
    ts_col: str,
    casts: dict[str, str],
    schema,
    key_col: str | None = None,
    now: datetime | None = None,
    surrogate_key: str | None = None,
) -> BatchResult:
    """One landing-zone → warehouse batch; returns what happened.

    ``key_col`` adds the anti-join dedup (O4 fix) for sources whose
    timestamps can collide with the high-water mark. ``surrogate_key``
    names a UUID column generated per written row (SURVEY §2.1 D1, the
    reference's ``gen_random_uuid()`` DDL default — postgres/init.sql:2);
    it identifies the load event and plays no part in idempotence.
    """
    df = read_csv_with_casts(spark, landing_path, casts=casts, schema=schema)
    cols = dict.fromkeys(c for c in (key_col, ts_col) if c is not None)
    stored = read_existing(
        spark, warehouse_path, T.StructType([T.StructField(c, df.schema[c].dataType) for c in cols])
    )  # None: first run, no warehouse yet (O3 bootstrap)

    hwm = stored_high_water_mark(stored, ts_col) if stored is not None else None
    fresh = incremental_filter(df, ts_col, hwm)
    if key_col is not None and stored is not None:
        # a stored key the batch does not hold cannot drop a batch row
        seen = stored.select(key_col).join(fresh.select(key_col), on=key_col, how="left_semi")
        fresh = dedup_incremental(fresh, seen, key_col)

    if surrogate_key is not None:
        from .sources import with_surrogate_key

        fresh = with_surrogate_key(fresh, surrogate_key)

    from pyspark.sql import Observation

    obs = Observation("batch_metrics")
    observed = fresh.observe(obs, F.count(F.lit(1)).alias("n"))
    observed.write.mode("append").parquet(warehouse_path)
    n_written = obs.get["n"]

    when = now or datetime.now(timezone.utc)
    moved = archive_files(spark, list(df.inputFiles()), archive_root, dataset, when)
    return BatchResult(rows_written=n_written, high_water_mark=hwm, archived=moved)


def run_streaming_ingest(
    spark: SparkSession,
    landing_path: str,
    warehouse_path: str,
    archive_root: str,
    checkpoint_path: str,
    casts: dict[str, str],
    schema,
) -> int:
    """Continuous form of the batch pipeline: Structured Streaming file
    source over the landing zone, cast layer, parquet sink, with the
    source's native archive lifecycle (``cleanSource=archive`` — Spark
    moves each fully-processed file under ``archive_root`` itself, the
    streaming-native replacement for sources/archive.py).

    Exactly-once comes from the checkpoint: re-running after a crash
    resumes from the last committed offsets, so no HWM filter is needed
    — the source's file tracking IS the high-water mark. Runs with
    availableNow (drain-everything-then-stop) so batch replays and tests
    are deterministic; a production deployment drops the trigger for
    continuous micro-batches. Returns rows written this run.
    """
    raw = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("cleanSource", "archive")
        .option("sourceArchiveDir", archive_root)
        .csv(landing_path)
    )
    q = (
        cast_layer(raw, casts).writeStream.outputMode("append")
        .format("parquet")
        .option("path", warehouse_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the file sink reports numOutputRows=-1; source-side input rows are
    # exact here (append sink, no filtering between source and sink)
    return sum(int(p["numInputRows"]) for p in q.recentProgress)
