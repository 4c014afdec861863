"""Fixture-table catalog.

Generalizes the reference's single hard-coded source path
(``spark_tasks/weather_task.py:33,59`` reads one S3A folder of CSVs) into a
named-table loader over a directory of parquet files. Explicit behaviors:

* schema comes from parquet footers (self-describing columnar), never CSV
  inference — mirroring SURVEY.md §1.2's "explicit schemas" rule;
* loads are lazy DataFrames; registering temp views gives the SQL surface;
* at 100 TB these would be partitioned/bucketed catalog tables — the
  loader is the seam where that swap happens for full-table reads.  It
  is not the only ``spark.read`` of a fixture: ``load_events_since``
  reads events with its high-water-mark predicate pushed to the scan,
  ``streaming.open_event_stream`` reads them as a stream, and every
  persisted artifact is read back from its ``.scratch`` path;
* those three events readers make the engine's one intended session
  change: they set ``spark.sql.legacy.parquet.nanosAsLong=true`` on the
  caller's session and leave it set. A TIMESTAMP(NANOS) file still
  needs it when the executors read it, after the query has returned,
  so it cannot be scoped (tests/test_semantics.py pins the contract).
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a microsecond TIMESTAMP regardless of
    how the session's parquet reader surfaced it.

    The fixture generator has shipped the column as TIMESTAMP(NANOS)
    (older rounds) and TIMESTAMP(MICROS) (current); depending on the
    session's confs Spark surfaces those as LONG raw nanos
    (``spark.sql.legacy.parquet.nanosAsLong``), TIMESTAMP_NTZ
    (``inferTimestampNTZ``) or TIMESTAMP. Queries must not depend on
    the caller's session config, so the branch is on the OBSERVED
    dtype, not on a conf:

    * LONG → floor-divide nanos to µs and ``timestamp_micros`` (DuckDB
      truncates toward zero instead, so the two agree on every value
      from 1970 on, and pre-1970 sub-µs values differ by 1 µs);
    * TIMESTAMP_NTZ → reinterpret the wall-clock as a session-tz
      instant (sessions are pinned UTC; DuckDB reads the same file as
      a naive TIMESTAMP, so canonical values agree);
    * TIMESTAMP → already what every downstream operator expects.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        # exact BIGINT floor: `div` truncates toward zero, which would
        # round pre-1970 nanos up (a double divide loses precision)
        return df.withColumn("ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000")))
    if isinstance(dt, TimestampNTZType):
        _require_utc_session(df.sparkSession, "normalize_event_ts NTZ cast")
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_UTC_NAMES = frozenset({"UTC", "GMT", "Etc/UTC", "Etc/GMT", "Z", "+00:00"})


def _require_utc_session(spark: SparkSession, what: str) -> None:
    """The NTZ branches reinterpret naive wall-clocks as session-tz
    instants; under a non-UTC session that silently SHIFTS every event
    timestamp. Fail loudly instead of corrupting instants."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in _UTC_NAMES:
        raise RuntimeError(
            f"{what} requires spark.sql.session.timeZone=UTC (got {tz!r}): "
            "a TIMESTAMP_NTZ wall-clock cast under a non-UTC session would "
            "shift every event instant. Pin the session to UTC or convert "
            "explicitly with to_utc_timestamp."
        )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one fixture table.

    ``events.ts`` is normalized to a µs TIMESTAMP whatever the file's
    physical timestamp unit and the session's reader confs — see
    :func:`normalize_event_ts`. (``nanosAsLong`` is set because a
    TIMESTAMP(NANOS) file needs it: under it Spark 4.1 reads the column
    as LONG raw nanos, UTC-adjusted or not, and without it the read
    fails with ``PARQUET_TYPE_ILLEGAL``. A µs file reads as a
    timestamp type either way.)

    The returned frame is a per-session MEMO of the lazy scan, keyed on
    the file's identity (realpath, mtime_ns, size) — metadata reuse,
    NOT result caching: ``spark.read.parquet`` pays a driver-side file
    listing + footer schema resolution on every call (measured r19:
    ~100-160 ms each), the suite calls this hundreds of times per bench
    pass, and the resolved logical plan is immutable — every action on
    it (and on anything derived from it) still scans the parquet.
    Nothing is persisted, so the bench's between-query cache hygiene is
    unaffected (scoping rule: :func:`session_file_memo`).

    Self-joins: every call for a table returns the SAME frame, so both
    sides of a self-join carry the same attribute ids and Spark rejects
    the join condition as ambiguous. Give each side its own
    ``.alias("a")`` / ``.alias("b")`` and refer to columns as
    ``F.col("a.x")``.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"

    def scan():
        df = spark.read.parquet(path)
        return normalize_event_ts(df) if name == "events" else df

    return session_file_memo(spark, "_pde_scan_memo", path, scan)


def session_file_memo(spark: SparkSession, attr: str, path: str, build):
    """``build()`` memoized per session and per file identity — the one
    scoping rule of the engine's driver-side METADATA memos (scan plans,
    footer schemas). The memo dict lives ON the session object as
    ``attr`` (a new session never sees another session's entries), and
    the (realpath, mtime_ns, size) key means a regenerated file can
    never serve a stale entry."""
    st = os.stat(path)
    key = (os.path.realpath(path), st.st_mtime_ns, st.st_size)
    memo = getattr(spark, attr, None)
    if memo is None:
        memo = {}
        setattr(spark, attr, memo)
    if key not in memo:
        memo[key] = build()
    return memo[key]


def register_data_sources(spark: SparkSession, *sources) -> None:
    """Register each Python data source class once per session, under
    :func:`session_file_memo`'s scoping rule: the registered names live
    ON the session object, so a new session registers its own and a
    repeat call is free (each re-registration makes Spark log a
    "replaced a previously registered data source" warning)."""
    done = getattr(spark, "_pde_data_sources", None)
    if done is None:
        done = set()
        setattr(spark, "_pde_data_sources", done)
    for source in sources:
        if source.name() not in done:
            spark.dataSource.register(source)
            done.add(source.name())


# ---------------------------------------------------------------------------
# Persisted artifacts: every index, model, ledger and rewritten table a
# query keeps between calls lives at .scratch/<kind>/<key>, written once
# through `persisted` and reused until a source or a key parameter changes
# ---------------------------------------------------------------------------

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)

# kind → (fixture tables every key fingerprints, key function). The key
# function returns (params, gens) and is read at each call, so a retuned
# constant re-keys; `gens` maps a generation label ("v2", "pub2", or "g"
# for every retrain generation) to the arrival-batch parameters its suffix
# folds (index lines only, else None). Filled by artifact_kind.
KINDS: dict[str, tuple[tuple[str, ...], object]] = {}

# real builds per kind since process start (a reuse never counts)
BUILDS: Counter = Counter()


def artifact_kind(kind: str, *tables: str, key=None) -> None:
    """Declare a kind of persisted artifact: the fixture ``tables`` its
    artifacts derive from and, optionally, ``key() -> (params, gens)``."""
    KINDS[kind] = (tables, key or (lambda: ({}, None)))


def staging_path(path: str, pid: int, token: str) -> str:
    """Where an install stages ``path`` before its rename; a crashed
    build leaves exactly this shape behind."""
    return f"{path}.tmp.{pid}.{token}"


def install(path: str, build) -> None:
    """Write-once directory install: ``build(tmp)`` writes a
    process-unique staging path, then one atomic ``os.rename`` publishes
    it, so a reader never sees a half-written artifact. A build that
    raises leaves nothing behind; a concurrent winner of the rename
    (same content, by keying) is kept. A build that ran for an artifact
    under :data:`SCRATCH` counts in ``BUILDS[kind]``."""
    import shutil
    import uuid

    if os.path.exists(path):
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = staging_path(path, os.getpid(), uuid.uuid4().hex[:8])
    try:
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(path):  # not a lost race: surface it
            raise
    kind_dir = os.path.dirname(path)
    if os.path.dirname(kind_dir) == SCRATCH:
        BUILDS[os.path.basename(kind_dir)] += 1


def persisted(kind, sources, params, build=None, *, gen=0, batch=None) -> str:
    """The one read-or-build seam for artifacts: returns
    ``.scratch/<kind>/<key>``, first running ``build(tmp)`` through
    :func:`install` when it is absent (``build=None`` only addresses).

    The key is the content fingerprint of the ``sources`` files (size
    and mtime each) plus the sorted ``params`` as ``_{name}{value}``, so
    a regenerated source or a retuned parameter lands a new key and can
    never reuse a stale artifact. ``gen`` names a later generation of
    the same line: ``"v2"`` (an append) or ``n >= 1`` (retrain ``g{n}``)
    is the first generation's key plus ``_{label}-`` and the sorted
    ``batch`` parameters (the generation's arrival-batch definition),
    so every generation of a line shares its first key as a prefix."""
    from .sources import source_fingerprint

    key = source_fingerprint(*sources) + "".join(
        f"_{k}{v}" for k, v in sorted(params.items())
    )
    if gen:
        label = gen if isinstance(gen, str) else f"g{gen}"
        key += f"_{label}-" + "-".join(
            f"{k}{v}" for k, v in sorted((batch or {}).items())
        )
    path = os.path.join(SCRATCH, kind, key)
    if build is not None:
        install(path, build)
    return path


def artifact(
    kind: str, sf_dir: str, build=None, *, gen=0, inputs=(), **params
) -> str:
    """:func:`persisted` for a declared kind: its fixture tables under
    ``sf_dir`` are the sources, ``params`` add to (or override) the
    kind's key parameters, and a generation's suffix folds the kind's
    batch parameters for that generation. ``inputs`` are the installed
    artifacts this one is derived from; they join the sources, so a
    rebuilt input re-keys everything derived from it instead of leaving
    it to serve content built from the input's previous install."""
    tables, key = KINDS[kind]
    base, gens = key()
    batch = gens[gen if isinstance(gen, str) else "g"] if gen else None
    return persisted(
        kind,
        [os.path.join(sf_dir, f"{t}.parquet") for t in tables] + list(inputs),
        {**base, **params},
        build,
        gen=gen,
        batch=batch,
    )


def load_events_since(spark: SparkSession, sf_dir: str, hwm) -> DataFrame:
    """events with ``ts > hwm``, with the predicate expressed against the
    RAW column type so it reaches the parquet scan.

    Filtering the NORMALIZED µs column would put the predicate above a
    projection Catalyst cannot always invert — the scan would read
    every row group. So the filter is applied pre-normalization, in the
    scan column's own type:

    * LONG raw nanos: in µs space ``floor(ns/1000) > H`` iff
      ``ns > H*1000 + 999`` — the rewritten raw predicate is exact;
    * TIMESTAMP_NTZ: the HWM's UTC wall-clock as an NTZ literal — a
      native comparison on the scan column;
    * TIMESTAMP: the HWM instant as a timestamp literal.

    All three show up in the scan's PushedFilters (asserted in
    tests/test_plans.py). At 100 TB on a ts-partitioned layout this is
    the difference between pruning to new partitions and a full scan.

    ``hwm`` may be None (bootstrap O3: take everything), a datetime, or
    an ISO string interpreted as UTC.
    """
    from datetime import datetime, timedelta, timezone

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if hwm is not None:
        if isinstance(hwm, str):
            hwm = datetime.fromisoformat(hwm)
        if hwm.tzinfo is None:
            hwm = hwm.replace(tzinfo=timezone.utc)
        dt = df.schema["ts"].dataType
        if isinstance(dt, LongType):
            epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
            hwm_us = (hwm - epoch) // timedelta(microseconds=1)
            df = df.filter(F.col("ts") > F.lit(hwm_us * 1000 + 999))
        elif isinstance(dt, TimestampNTZType):
            wall = hwm.astimezone(timezone.utc).replace(tzinfo=None)
            df = df.filter(
                F.col("ts") > F.lit(wall).cast("timestamp_ntz")
            )
        else:
            df = df.filter(F.col("ts") > F.lit(hwm))
    return normalize_event_ts(df)


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view for the spark.sql surface."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition a scan that arrived with fewer partitions than the
    session's parallelism — a LOCAL-FIXTURE artifact (one sub-128MB
    parquet file → one input split → every downstream map stage runs
    as a single task; acute for Python-codec mapInPandas stages, where
    one task serializes the whole corpus's per-blob CPU). On a cluster
    against real data the scan already has thousands of splits, the
    condition is false, and NO extra exchange is planned — this never
    repartitions data that is already parallel."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_documents_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) repartitioned to full cluster width — THE shared
    entry point for every heavy text fan-out (tokenize / n-gram /
    hash-signature explodes). One definition of the round-11
    input-split lesson: the fixture documents parquet reads as ~2
    splits at sf1, and a fan-out stage planned at that width caps the
    whole family (measured repeatedly: substring dedup 10.3→2.3 s,
    the MinHash kernel 8-9→1.3-3 s, bigram_kn 3.4→2.0 s, BM25
    3.7→2.8 s). Consumers that must stay ZERO-shuffle by contract
    (text_char_diversity, text_quality_score) deliberately do not use
    it."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
