"""Structured Streaming mirrors of the windowed operators.

Design (SURVEY.md §2.3 "Streaming-equivalent operators", §7 phase 4):
the windowed transformations are written once as DataFrame→DataFrame
functions over an input that may be a batch OR a streaming DataFrame —
Spark's unified API makes the same ``window``/``session_window`` code
path valid under ``readStream``. The batch registry queries
(queries/streaming_batch.py) call these on a batch scan (deterministic,
oracle-checkable); ``open_event_stream`` + ``run_to_memory_sink`` drive
the identical transforms under a real streaming query, and the drain
returns the sink's rows without leaving its view registered.

The reference's late-data behavior (O2: silently dropped below the
high-water mark, weather_task.py:82) maps to ``withWatermark`` — late
rows are dropped *with an explicit, configurable bound* instead of
implicitly.

Scale notes: watermark + windowed aggregation keeps state bounded (old
windows evict at the watermark); session windows shuffle on the session
key exactly like the batch gaps-and-islands plan. Checkpointing is the
production story for exactly-once; tests use the memory sink.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import money


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Per-(window, event_type) counts + value sums over tumbling
    event-time windows. Works identically on batch and stream inputs."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_avg(events: DataFrame, width: str = "1 hour", slide: str = "15 minutes") -> DataFrame:
    """Sliding-window average value: each event lands in width/slide
    overlapping windows (4 here). Spark expands the windows map-side."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(money("value")).cast("double") / F.count("value")).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "avg_value",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows with a fixed inactivity gap; a session's
    end is last-event-time + gap (Spark session_window semantics)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def open_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a bounded file stream (for tests/demos).

    The raw parquet's timestamp unit varies by fixture generation (ns
    or µs); as in catalog.load_table the ts column is normalized to a
    µs TIMESTAMP by dtype, not by session conf.

    The file source rejects a bare file path ("Option 'basePath' must
    be a directory"), and pointing it at the whole fixture DIRECTORY
    makes every micro-batch scan every table's parquet (lineitem is 5×
    events) just to null-fill and drop them. The single-character glob
    `events.parque[t]` threads the needle: the source's base path
    resolves to the directory while the listing matches only the
    events file. The event_id/ts non-null filter stays as a safety net
    for landing zones that do mix schemas in one directory.

    The stream schema must match how THIS session's reader surfaces the
    file's physical timestamp unit (ns fixtures → long under
    nanosAsLong; µs fixtures → a timestamp type), so it is taken from a
    zero-cost batch footer read and the ts column normalized with the
    same dtype branch as the batch path (catalog.normalize_event_ts).

    Setting ``spark.sql.legacy.parquet.nanosAsLong=true`` on the caller's
    session, and leaving it set, is the engine's one intended session
    change (catalog.py docstring): the stream's executors read a NANOS
    file after this function has returned.
    """
    from ..catalog import normalize_event_ts, session_file_memo

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # METADATA memo, not a result cache: the footer read measured
    # ~120-180 ms of driver-side work per call (r19), paid once per
    # streaming query invocation. The schema is a pure function of the
    # file bytes under the nanosAsLong conf every caller sets.
    path = f"{sf_dir}/events.parquet"
    schema = session_file_memo(
        spark, "_pde_event_schema_memo", path, lambda: spark.read.parquet(path).schema
    )
    return normalize_event_ts(
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}/events.parque[t]")
        .filter("event_id IS NOT NULL AND ts IS NOT NULL")
    )


def epoch_file_feed(spark: SparkSession, frame: DataFrame, path: str) -> DataFrame:
    """``frame`` (with an int ``epoch`` column) as a bounded stream that
    delivers exactly one epoch per micro-batch, in epoch order.

    Each epoch is written as one parquet file under ``path/epoch=<e>``.
    The file source admits new files oldest-mtime first, so the files'
    mtimes are set in epoch order, and ``maxFilesPerTrigger=1`` makes
    each micro-batch one epoch. When the epochs are monotone in an id
    (every id of epoch e below every id of epoch e+1), stream-order
    first-wins over that id equals global min-id first-wins. The feed
    is a JVM parquet scan: no Python source runner is started."""
    import glob
    import os
    import time

    frame.repartition("epoch").write.partitionBy("epoch").parquet(path)
    files = sorted(
        glob.glob(os.path.join(path, "epoch=*", "*.parquet")),
        key=lambda f: int(os.path.basename(os.path.dirname(f))[len("epoch="):]),
    )
    t0 = time.time() - len(files)
    for i, f in enumerate(files):
        os.utime(f, (t0 + i, t0 + i))
    return (
        spark.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict):
    """Set each session conf in ``confs`` for the block; on exit restore
    each key's previous value, or unset it if it had none."""
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def stream_state_partitions(spark, n: int = 4):
    """Temporarily size ``spark.sql.shuffle.partitions`` for a streaming
    query's STATE STORES.

    Structured Streaming materializes one state store per shuffle
    partition per stateful operator and pays its init+commit on every
    micro-batch — overhead that is per-PARTITION, not per-row. A batch
    session's shuffle setting (32 here, 200 on a default driver session)
    is sized for data volume, not state volume: at fixture scale it
    makes a stream-stream join spend ~90% of its wall clock opening and
    committing near-empty stores (measured sf0.1: 18.1 s at 32
    partitions → 3–4.4 s at 2–4 for identical results). State partition
    count should track distinct-key volume ÷ target state per store; 4
    fits every fixture SF with headroom. At 100 TB size it UP — the
    number is pinned into the checkpoint at first start, so production
    jobs choose it per deployment, which is exactly why it's a scoped
    override rather than a session constant.

    The conf is restored on exit. Build and start inside one scope; n is
    part of the checkpoint's identity (stateful.bucketed_state derives its
    groups from it at build time). availableNow runs also finish inside.
    """
    return scoped_conf(spark, {"spark.sql.shuffle.partitions": str(n)})


def stream_no_data_batches(spark, enabled: bool = False):
    """Temporarily toggle ``spark.sql.streaming.noDataMicroBatches.enabled``
    for one streaming run.

    A no-data micro-batch exists to advance the watermark and run
    eviction when no new rows arrive: it re-plans the query, re-opens
    and re-commits every state store, and emits only what EVICTION
    emits. For a bounded availableNow certification run whose RESULT
    does not depend on eviction-driven emission — update-mode stateful
    folds whose horizon exceeds the fixture span (cdc/dedup: zero
    timeouts can fire), or an INNER stream-stream join (matches are
    emitted as data arrives; eviction only frees state) — the final
    no-data batch is a full plan+commit cycle that changes nothing
    (measured sf0.1: rows=0, numRowsUpdated=0, ~1.9-5.1 s of pure
    store-commit+planning per query). Scoping it off removes that
    cycle; the oracle hash re-proves result equality.

    It MUST stay on (the default) wherever eviction itself produces
    rows: outer stream-stream joins (null-padded orphans are emitted by
    eviction) and append-mode watermarked aggregates — those queries do
    not use this scope. Production continuous streams keep the default:
    there, no-data batches are how idle periods make progress."""
    return scoped_conf(
        spark,
        {"spark.sql.streaming.noDataMicroBatches.enabled": str(enabled).lower()},
    )


def run_to_memory_sink(df: DataFrame, name: str, output_mode: str = "complete") -> DataFrame:
    """Drive a (bounded) streaming DataFrame to completion into the
    in-memory sink ``name`` and return the sink's rows. The returned
    frame is the sink's own plan, not a view: the sink's temp view is
    dropped before the return (also when the stream fails), so no view
    outlives the call. Test/demo helper — a production sink would be a
    checkpointed parquet/Kafka writer."""
    spark = df.sparkSession
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def write_stream_idempotent(
    df: DataFrame, path: str, checkpoint: str, partition_cols: tuple[str, ...] = ()
) -> None:
    """Exactly-once parquet sink via foreachBatch + epoch-partitioned
    dynamic overwrite — the production replacement for the memory sink.

    Structured Streaming's contract is at-least-once delivery of each
    micro-batch to foreachBatch; the same (checkpoint, epoch_id) can
    replay after a crash. Writing each batch into its own ``__epoch``
    partition with DYNAMIC partition overwrite makes the replay
    overwrite its previous attempt instead of appending duplicates —
    idempotence from the sink side, exactly-once end-to-end when
    combined with the checkpoint (tests/test_streaming.py proves a
    re-run with the same checkpoint adds zero rows). Scale notes: the
    epoch partition column also gives downstream readers incremental
    slices; compaction of many small epoch partitions is
    write_parquet_append's partition_by + a periodic rewrite."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        out = batch_df.withColumn("__epoch", F.lit(epoch_id))
        writer = (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*(*partition_cols, "__epoch"))
        )
        writer.parquet(path)

    q = (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
