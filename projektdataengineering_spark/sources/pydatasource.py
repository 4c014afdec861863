"""Custom Python data source (Spark 4 DataSource API) — the engine's
source-EXTENSION seam.

The reference ingests from an object store with a fixed reader
(spark_tasks/weather_task.py:59-67); the generalized engine needs the
opposite capability too: plugging a NEW source format/system into the
scan side so it behaves like any built-in — schema known at plan time,
partitioned for parallel read, rows flowing straight into Catalyst.
PySpark 4 makes that a pure-Python exercise (``pyspark.sql.datasource``)
and this module implements it end-to-end with a deterministic synthetic
source, so the whole path is ORACLE-CHECKABLE: every generated cell is
a closed-form function of the row number (md5 of its decimal string),
which DuckDB can recompute from ``range(N)`` — the hash certifies the
partition math (every row exactly once across readers) and the payload
generation, value-for-value.

Scale shape: ``partitions()`` is the source's parallelism contract —
each InputPartition becomes one task reading an independent row range,
exactly how a JDBC/cloud-API source would shard (predicate/limit
pushdown hooks exist on DataSourceReader for sources that support
them). Nothing flows through the driver.
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


class SyntheticDocsDataSource(DataSource):
    """``spark.read.format("synthdocs").option("rows", N)`` — a
    deterministic generated table (row_id, bucket, payload). The same
    format name also serves ``spark.readStream`` via
    ``simpleStreamReader`` (the Spark-4 streaming Python-source API),
    emitting the SAME table in ``batchRows``-sized micro-batches."""

    @classmethod
    def name(cls) -> str:
        return "synthdocs"

    def schema(self) -> str:
        return "row_id bigint, bucket int, payload string"

    def reader(self, schema) -> "SyntheticDocsReader":
        return SyntheticDocsReader(self.options)

    def simpleStreamReader(self, schema) -> "SyntheticDocsStreamReader":
        return SyntheticDocsStreamReader(self.options)


class SyntheticDocsReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n_rows = int(options.get("rows", "1000"))
        self.n_parts = int(options.get("partitions", "8"))

    def partitions(self):
        return [InputPartition(i) for i in range(self.n_parts)]

    def read(self, partition):
        i = partition.value
        lo = self.n_rows * i // self.n_parts
        hi = self.n_rows * (i + 1) // self.n_parts
        return _gen_rows(lo, hi)


def _gen_rows(lo: int, hi: int):
    """The source's one row-generation rule, shared by the batch and
    stream readers so the streaming path provably emits the SAME table:
    row r → (r, r % 10, md5(str(r)))."""
    for r in range(lo, hi):
        yield (r, r % 10, hashlib.md5(str(r).encode()).hexdigest())


class SyntheticDocsStreamReader(SimpleDataSourceStreamReader):
    """Streaming twin of SyntheticDocsReader — the engine's
    source-extension seam on the STREAM side (Spark 4
    SimpleDataSourceStreamReader: driver-side prefetch, right for
    control-plane-sized streams; SyntheticDocsFeedStreamReader below
    is the partition-parallel form for firehose volumes).

    Offsets are ``{"offset": n}`` — rows emitted so far. Each
    ``read(start)`` call (one micro-batch) advances by up to
    ``batchRows`` until ``rows`` is exhausted, after which it reports
    no progress (same offset back) and an availableNow query
    terminates. ``readBetweenOffsets`` regenerates any committed range
    deterministically, which is exactly the replay contract Spark uses
    when a batch is re-executed after failure — determinism IS the
    exactly-once story here, the same discipline as the parquet
    replay-idempotence tests (O4)."""

    def __init__(self, options) -> None:
        self.n_rows = int(options.get("rows", "1000"))
        self.batch_rows = int(options.get("batchrows", "250"))

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def read(self, start: dict):
        lo = int(start["offset"])
        hi = min(lo + self.batch_rows, self.n_rows)
        # iter(list), not a bare generator or list: the prefetch wrapper
        # (pyspark.sql.datasource_internal) next()s the result to detect
        # empty progress, copy.copy()s cache entries on replay, and
        # pickles the batch driver→executor — a list_iterator satisfies
        # all three, a generator none
        return iter(list(_gen_rows(lo, hi))), {"offset": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(list(_gen_rows(int(start["offset"]), int(end["offset"]))))


class SyntheticDocsPushdownDataSource(DataSource):
    """``spark.read.format("synthdocspushdown")`` — the synthdocs table
    behind a reader that implements FILTER PUSHDOWN (Spark 4.1
    ``pushFilters``). A separate format name on purpose: Spark refuses
    to plan a pushFilters-implementing reader unless
    ``spark.sql.python.filterPushdown.enabled`` is on (it will not
    silently ignore the capability), and the plain ``synthdocs``
    format must keep working under default sessions."""

    @classmethod
    def name(cls) -> str:
        return "synthdocspushdown"

    def schema(self) -> str:
        return "row_id bigint, bucket int, payload string"

    def reader(self, schema) -> "SyntheticDocsPushdownReader":
        return SyntheticDocsPushdownReader(self.options)


class SyntheticDocsPushdownReader(DataSourceReader):
    """The pushdown contract, demonstrated natively: an
    ``EqualTo(("bucket",), v)`` filter is ACCEPTED (consumed, not
    yielded back) and turns each partition's row generation into a
    stride walk — only matching rows are ever materialized, the way a
    database/API source would ship the predicate to the remote system.
    Every other filter is yielded back BY REFERENCE for Spark to
    evaluate post-scan (partial pushdown, the documented protocol).
    pushFilters mutates self before partitions()/read() are called —
    the planned partitions see the filtered row ranges."""

    def __init__(self, options) -> None:
        self.n_rows = int(options.get("rows", "1000"))
        self.n_parts = int(options.get("partitions", "8"))
        self.bucket_eq: int | None = None

    def pushFilters(self, filters):
        from pyspark.sql.datasource import EqualTo

        for f in filters:
            if (
                isinstance(f, EqualTo)
                and f.attribute == ("bucket",)
                and self.bucket_eq is None
                # type() is int, NOT isinstance: bool is an int subclass
                # in Python, and consuming `bucket = TRUE` as `bucket = 1`
                # would silently change the predicate the scan honors
                and type(f.value) is int
                and 0 <= f.value <= 9
            ):
                self.bucket_eq = f.value
            else:
                yield f  # unsupported → Spark evaluates it post-scan

    def partitions(self):
        return [InputPartition(i) for i in range(self.n_parts)]

    def read(self, partition):
        i = partition.value
        lo = self.n_rows * i // self.n_parts
        hi = self.n_rows * (i + 1) // self.n_parts
        if self.bucket_eq is None:
            return _gen_rows(lo, hi)
        # native filtering: stride straight to the matching rows —
        # bucket = row_id % 10, so the first hit is lo rounded up to
        # the bucket residue, then every 10th row
        v = self.bucket_eq
        first = lo + (v - lo) % 10
        return iter(
            [(r, v, hashlib.md5(str(r).encode()).hexdigest())
             for r in range(first, hi, 10)]
        )


class RangeInputPartition(InputPartition):
    """One executor task's [lo, hi) row slice of a micro-batch."""

    def __init__(self, lo: int, hi: int) -> None:
        self.lo = lo
        self.hi = hi


class SyntheticDocsFeedDataSource(DataSource):
    """``spark.readStream.format("synthdocsfeed")`` — the
    PARTITION-PARALLEL streaming twin of synthdocs: the same
    deterministic table, but rows are generated EXECUTOR-side, one
    task per partition per micro-batch, via the full
    DataSourceStreamReader API (offset planning on the driver, data
    on the workers — the firehose shape, vs the simple reader's
    driver-side prefetch). A separate format name because Spark
    prefers ``streamReader`` over ``simpleStreamReader`` on the same
    class, and scan_python_stream must keep exercising the simple
    path."""

    @classmethod
    def name(cls) -> str:
        return "synthdocsfeed"

    def schema(self) -> str:
        return "row_id bigint, bucket int, payload string"

    def streamReader(self, schema) -> "SyntheticDocsFeedStreamReader":
        return SyntheticDocsFeedStreamReader(self.options)


class SyntheticDocsFeedStreamReader(DataSourceStreamReader):
    """Full streaming-reader lifecycle: ``latestOffset`` advances the
    high-water mark by up to ``batchrows`` per micro-batch until
    ``rows`` is exhausted (no progress → no batch); ``partitions``
    splits the planned [start, end) range into ``partitions`` tasks;
    ``read`` runs ON THE EXECUTORS and regenerates its slice
    deterministically — which is also the replay contract: a batch
    re-planned from the offset log after a crash re-reads the exact
    same rows (the O4 idempotence discipline). Nothing row-shaped
    ever passes through the driver."""

    def __init__(self, options) -> None:
        self.n_rows = int(options.get("rows", "1000"))
        self.batch_rows = int(options.get("batchrows", "250"))
        self.n_parts = int(options.get("partitions", "4"))
        # Durable HWM (r13 ADVICE): with .option("hwmpath", file) the
        # committed offset is persisted driver-side on commit() and
        # restored here, so a restart against an existing checkpoint
        # resumes FROM the committed offset instead of re-advertising
        # offsets below the committed start (offset regression — the
        # thing a production source avoids by deriving latestOffset
        # from the external system). Without the option the feed keeps
        # its bounded-fixture behavior: a fresh query drains it from 0.
        self._hwm_path = options.get("hwmpath")
        self._hwm = self._load_hwm()

    def _load_hwm(self) -> int:
        # Only a MISSING file means "never committed" → offset 0.  A
        # present-but-unparsable file must raise, not silently restart
        # from 0 (r14 ADVICE): hwm writes are atomic tmp+rename, so a
        # damaged file indicates external interference, and swallowing
        # it would re-advertise offsets below the committed start —
        # exactly the offset regression the durable HWM exists to
        # prevent.
        if not self._hwm_path:
            return 0
        try:
            with open(self._hwm_path) as fh:
                body = fh.read().strip()
        except FileNotFoundError:
            return 0
        # An existing-but-EMPTY file is corruption too (r15 ADVICE):
        # truncation-to-empty is the most common external-corruption
        # mode, and mapping it to offset 0 silently reintroduces the
        # offset regression this path exists to prevent.  Only a
        # MISSING file means never-committed.
        try:
            return int(body)
        except ValueError as exc:
            raise ValueError(
                f"durable HWM file {self._hwm_path!r} exists but is not "
                f"an integer offset ({body!r}); refusing to restart from "
                "offset 0 with an intact checkpoint — repair or remove "
                "the file (writes are atomic tmp+rename, so corruption "
                "indicates external interference)"
            ) from exc

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        self._hwm = min(self._hwm + self.batch_rows, self.n_rows)
        return {"offset": self._hwm}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["offset"]), int(end["offset"])
        n = max(1, self.n_parts)
        bounds = [lo + (hi - lo) * i // n for i in range(n + 1)]
        return [
            RangeInputPartition(a, b)
            for a, b in zip(bounds, bounds[1:])
            if b > a
        ]

    def read(self, partition: RangeInputPartition):
        return _gen_rows(partition.lo, partition.hi)

    def commit(self, end: dict) -> None:
        # Persist the committed offset (atomic tmp+rename) so a
        # restarted query's fresh reader instance resumes from here
        # instead of regressing; a no-op for the deterministic
        # bounded-fixture mode (no hwmpath — replay IS the contract).
        if self._hwm_path:
            import os

            tmp = f"{self._hwm_path}.{os.getpid()}.tmp"
            try:
                with open(tmp, "w") as fh:
                    fh.write(str(int(end["offset"])))
                os.replace(tmp, self._hwm_path)
            except OSError:
                pass


def register_synthetic_source(spark) -> None:
    """Register the three synthetic sources on first use in a session."""
    from ..catalog import register_data_sources

    register_data_sources(
        spark,
        SyntheticDocsDataSource,
        SyntheticDocsFeedDataSource,
        SyntheticDocsPushdownDataSource,
    )
