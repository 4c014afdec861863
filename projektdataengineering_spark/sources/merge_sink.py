"""Idempotent keyed-upsert (MERGE-style) parquet sink.

Completes the reference's O4 story at the WAREHOUSE boundary: the
reference's sink is a plain Postgres append
(/root/reference/spark_tasks/weather_task.py:95-99), so a replayed
batch duplicates rows and only the load-path HWM filter protects it.
Here the sink itself is replay-safe — applying the same batch twice is
provably identical to applying it once (tests/test_merge_sink.py
hash-proves it):

* :func:`append_once` — insert-only MERGE (``WHEN NOT MATCHED THEN
  INSERT``): anti-join the batch against existing keys, append only the
  new ones. Only KEY columns of the existing side are read (column
  pruning) and only keys shuffle; the warehouse is never rewritten.
* :func:`merge_upsert` — full keyed MERGE (``WHEN MATCHED THEN UPDATE
  … WHEN NOT MATCHED THEN INSERT``): surviving old rows ∪ deduped batch
  are written to a STAGING directory first, then swapped in with
  driver-side Hadoop-FS renames (the archive.py py4j boundary). Readers
  see the old table until the swap; a crash before the swap leaves the
  table untouched (the stale staging dir is overwritten by the next
  run).
* :func:`foreach_batch_upsert` — the Structured-Streaming leg: a
  ``foreachBatch`` function applying :func:`merge_upsert` per
  micro-batch, so a batch re-delivered after checkpoint recovery
  converges instead of duplicating.

Scale posture: ``partition_col`` confines the rewrite to the partition
directories the batch actually touches — existing data outside them is
neither read (partition pruning on the survivors scan) nor rewritten
(per-directory swap). That is MERGE at partition granularity; finer
granularity needs a transactional table format (Delta/Iceberg file-level
MERGE with a commit log), which is the documented production upgrade,
not something to hand-roll over bare parquet. Renames are atomic on
HDFS/POSIX; on S3 they are server-side copy+delete, so object-store
deployments should point the staging root at the same bucket and accept
a brief swap window — or use the table format.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import read_existing


def _hadoop_fs(spark: SparkSession, path: str):
    """(jvm, Path, FileSystem) for ``path`` — the archive.py py4j boundary."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath, hpath.getFileSystem(conf)


def _rename(fs, src, dst) -> bool:
    """Single seam for every swap rename — tests monkeypatch this to
    inject a failure at an arbitrary point of the partition swap and
    assert the rollback restores the complete pre-merge table."""
    return fs.rename(src, dst)


def _dedup_batch(batch: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """One row per key from the batch: highest ``order_col`` wins, ties
    broken by the remaining columns so the pick is a pure function of
    the batch's row multiset (not its partitioning)."""
    tiebreak = [c for c in batch.columns if c not in keys]
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc_nulls_last() for c in [order_col] + [t for t in tiebreak if t != order_col]]
    )
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def append_once(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: list[str],
    partition_by: tuple[str, ...] = (),
) -> int:
    """Insert-only idempotent append: batch rows whose key already
    exists in the warehouse are dropped (left-anti join on the pruned
    key columns), the rest are appended. Returns rows written.

    Replaying the same batch is a no-op; two concurrent writers are NOT
    serialized (that needs the table-format upgrade). At scale the
    existing side is a key-column-only scan — combine with a partition
    predicate pushed by the caller when keys cluster by partition."""
    existing = read_existing(spark, path)
    fresh = batch.dropDuplicates(keys)
    if existing is not None:
        fresh = fresh.join(existing.select(*keys), on=keys, how="left_anti")

    from pyspark.sql import Observation

    obs = Observation(f"append_once_{uuid.uuid4().hex[:8]}")
    observed = fresh.observe(obs, F.count(F.lit(1)).alias("n"))
    writer = observed.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return obs.get["n"]


def merge_upsert(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    partition_col: str | None = None,
) -> None:
    """Keyed MERGE into a parquet directory via staging + atomic swap.

    MATCHED rows are replaced by the batch's winner for that key
    (:func:`_dedup_batch`), NOT-MATCHED batch rows are inserted, and
    existing rows whose key is absent from the batch survive untouched.
    With ``partition_col``, only partitions present in the batch are
    read and rewritten; others are not listed, read, or moved.

    Partitioned-mode contract: a key's partition value must be STABLE
    across batches. A key that migrates partitions between batches is
    upserted in its new partition while the old partition (untouched by
    this batch) still holds the stale row — detecting that would need an
    unpruned full-table key scan per batch, which defeats the
    partition-confined rewrite. Migrating keys need the documented
    table-format upgrade (Delta/Iceberg MERGE).
    """
    jvm, hpath, fs = _hadoop_fs(spark, path)

    fresh = _dedup_batch(batch, keys, order_col)
    existing = read_existing(spark, path)

    if existing is None:
        writer = fresh.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(path)
        return

    if partition_col:
        touched = [
            r[partition_col]
            for r in fresh.select(partition_col).distinct().collect()
        ]
        # isin() never matches NULL — if the batch touches the NULL
        # partition (__HIVE_DEFAULT_PARTITION__), its existing rows must
        # still be read as merge survivors or the swap would drop them.
        pred = F.col(partition_col).isin([t for t in touched if t is not None])
        if any(t is None for t in touched):
            pred = pred | F.col(partition_col).isNull()
        existing = existing.filter(pred)

    survivors = existing.join(fresh.select(*keys), on=keys, how="left_anti")
    merged = survivors.select(*fresh.columns).unionByName(fresh)

    staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    writer = merged.write.mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(staging)

    hstaging = jvm.org.apache.hadoop.fs.Path(staging)
    trash = jvm.org.apache.hadoop.fs.Path(f"{path}__old_{uuid.uuid4().hex[:8]}")
    if partition_col:
        # Swap only the touched partition directories. Their NAMES are
        # taken from what Spark's own writer produced in staging — never
        # re-derived as f"{col}={value}", which breaks for values the
        # writer Hive-escapes ('=', '/', ':', '%', ...) or NULL
        # (__HIVE_DEFAULT_PARTITION__): a mismatched hand-built name
        # would silently no-op the renames and then discard the batch's
        # data with the staging cleanup.
        prefix = f"{partition_col}="
        part_names = [
            st.getPath().getName()
            for st in fs.listStatus(hstaging)
            if st.isDirectory() and st.getPath().getName().startswith(prefix)
        ]
        if not part_names:
            fs.delete(hstaging, True)
            raise IOError(
                f"merge_upsert: staging {staging} contains no "
                f"{partition_col}=* directories — nothing to install"
            )
        retired: list[str] = []  # old dirs moved to trash
        installed: list[str] = []  # new dirs fully swapped in
        try:
            for name in part_names:
                src = jvm.org.apache.hadoop.fs.Path(hstaging, name)
                dst = jvm.org.apache.hadoop.fs.Path(hpath, name)
                if fs.exists(dst):
                    fs.mkdirs(trash)
                    if not _rename(fs, dst, jvm.org.apache.hadoop.fs.Path(trash, name)):
                        raise IOError(f"merge_upsert: could not retire {dst}")
                    retired.append(name)
                if not _rename(fs, src, dst):
                    raise IOError(f"merge_upsert: could not install {src}")
                installed.append(name)
        except Exception:
            # Restore the COMPLETE pre-merge table, not just the
            # partition that failed mid-swap: partitions already
            # installed are rolled back too (delete the new contents —
            # they are reproducible from the batch — then restore the
            # old directory from trash), so readers never see a MIXED
            # pre/post-merge table (round-5 ADVICE, merge_sink.py:194).
            for name in installed:
                dst = jvm.org.apache.hadoop.fs.Path(hpath, name)
                if fs.exists(dst):
                    fs.delete(dst, True)
            for name in retired:
                back = jvm.org.apache.hadoop.fs.Path(hpath, name)
                if not fs.exists(back):
                    _rename(fs, jvm.org.apache.hadoop.fs.Path(trash, name), back)
            # best-effort cleanup: staging still holds only not-installed
            # copies (reproducible), trash was drained by the restore
            fs.delete(hstaging, True)
            fs.delete(trash, True)
            raise
        fs.delete(hstaging, True)
    else:
        if not _rename(fs, hpath, trash):
            raise IOError(f"merge_upsert: could not retire {path}")
        if not _rename(fs, hstaging, hpath):
            # roll back so readers still see the old table
            _rename(fs, trash, hpath)
            raise IOError(f"merge_upsert: could not install {staging}")
    # a fully successful swap leaves nothing worth keeping in trash —
    # delete it so retired directories can't accumulate across runs
    fs.delete(trash, True)


def foreach_batch_upsert(
    path: str,
    keys: list[str],
    order_col: str,
    partition_col: str | None = None,
):
    """``writeStream.foreachBatch`` adapter around :func:`merge_upsert`.

    Structured Streaming's exactly-once contract is offsets + sink
    transactionality; a bare parquet ``append`` sink only gets at-least-
    once on replayed micro-batches. Routing the batch through the keyed
    upsert makes replays CONVERGE — the second delivery of batch N finds
    every key already at its final value and rewrites it in place.

    Usage::

        q = (df.writeStream.foreachBatch(
                 foreach_batch_upsert(path, ["k"], "ts"))
             .option("checkpointLocation", ckpt).start())
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_upsert(
            batch_df.sparkSession, batch_df, path, keys, order_col, partition_col
        )

    return apply
