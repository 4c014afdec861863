"""Sources & sinks.

Generalizes the reference's connectivity surface (SURVEY.md §2.1):
R1 CSV landing-zone scan, R3/R8 JDBC scan/append, R10 processed-file
archival. Parquet is the engine's native at-rest format (columnar,
stats-pruned); CSV/JSON/JDBC are edge formats.

Everything here takes/returns DataFrames and keeps explicit schemas —
never ``inferSchema`` (SURVEY §1.2: correctness must not depend on
sampling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The reference-domain weather schema: all columns arrive as strings from
# CSV (header only, no inference — weather_task.py:59), then a cast layer
# types 5 of them (weather_task.py:61-67). We keep decimal for money-like
# precision columns instead of the reference's lossy double
# (postgres/init.sql:8,11-12 declares NUMERIC).
WEATHER_COLUMNS = (
    "EventId",
    "Type",
    "Severity",
    "StartTimeUTC",
    "EndTimeUTC",
    "PrecipitationIn",
    "TimeZone",
    "AirportCode",
    "LocationLat",
    "LocationLng",
    "City",
    "County",
    "State",
    "ZipCode",
)

WEATHER_CASTS: dict[str, str] = {
    "StartTimeUTC": "timestamp",
    "EndTimeUTC": "timestamp",
    "PrecipitationIn": "decimal(7,2)",
    "LocationLat": "decimal(9,6)",
    "LocationLng": "decimal(9,6)",
}


def weather_raw_schema() -> T.StructType:
    """All-string arrival schema (schema-on-read, explicit)."""
    return T.StructType(
        [T.StructField(c, T.StringType(), c != "EventId") for c in WEATHER_COLUMNS]
    )


def with_surrogate_key(df: DataFrame, col_name: str = "row_uuid") -> DataFrame:
    """Prepend a UUID surrogate-key column (SURVEY §2.1 D1).

    Reproduces the reference DDL's ``gen_random_uuid()`` default
    (postgres/init.sql:2) as Spark's ``uuid()`` expression — generated
    executor-side at write time, one fresh v4 UUID per row, no shuffle
    and no driver round-trip. Non-deterministic by design (a surrogate
    key identifies the ROW LOAD EVENT, not the business content), so
    tests assert uniqueness + schema, never values; anything
    replay-idempotent must key on business columns (see
    ``dedup_incremental``), exactly as with the reference's database-
    generated default.
    """
    return df.select(F.expr("uuid()").alias(col_name), "*")


def read_csv_with_casts(
    spark: SparkSession,
    path: str,
    casts: dict[str, str] | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """CSV scan with an explicit all-string schema + a typed cast layer.

    Reproduces R1+R2 (weather_task.py:59-67) as one reusable source.
    Cast semantics: unparseable values become NULL, never an error
    (FIXTURES.md §B scenario 5). The reference ran Spark 3.5 where plain
    ``cast`` behaves that way; under Spark 4's default ANSI mode the
    equivalent is ``try_cast`` — used here so the rest of the engine
    keeps ANSI's integrity checks. Casts to decimal avoid the
    reference's double round-trip for NUMERIC columns.
    """
    casts = WEATHER_CASTS if casts is None else casts
    schema = weather_raw_schema() if schema is None else schema
    return cast_layer(spark.read.option("header", True).schema(schema).csv(path), casts)


def cast_layer(df: DataFrame, casts: dict[str, str]) -> DataFrame:
    """``try_cast`` each column named in ``casts`` to its type, in place
    and in one projection (a ``withColumn`` chain adds one projection per
    column to the analyzed plan)."""
    return df.withColumns(
        {c: F.expr(f"try_cast({c} AS {dtype})") for c, dtype in casts.items()}
    )


def read_existing(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame | None:
    """Stored parquet table at ``path``, or None ONLY when the path does
    not exist or, read with ``schema``, holds no data files (O3
    bootstrap). Bootstrap is detected via a Hadoop-FS existence probe and
    Spark's own file listing, NOT by catching the read error: a transient
    or corrupt-footer failure on an EXISTING table must propagate —
    swallowing it would re-append a replayed batch as a bootstrap load.
    With ``schema`` the read infers nothing (no footer job)."""
    sc = spark.sparkContext  # the archive.py py4j boundary
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    if not hpath.getFileSystem(sc._jsc.hadoopConfiguration()).exists(hpath):  # noqa: SLF001
        return None
    if schema is None:
        return spark.read.parquet(path)
    stored = spark.read.schema(schema).parquet(path)
    return stored if stored.inputFiles() else None


def read_json_lines(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines scan with a REQUIRED explicit schema.

    JSON is the third edge format next to CSV (R1) and JDBC (R3); the
    engine-internal `scalar_json` family parses JSON *columns*, this
    reads JSON *files*. Schema is mandatory by design: Spark's JSON
    inference scans the data once just to guess types and can flip
    types between batches — the exact failure SURVEY §1.2's explicit-
    schema rule exists to prevent. Corrupt lines land in
    `_corrupt_record` (PERMISSIVE) rather than failing the batch,
    mirroring the CSV reader's null-on-unparseable cast policy.
    Spark refuses plans that reference ONLY `_corrupt_record` over a
    raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — callers auditing
    corrupt rows alone must `.cache()` the frame first, per Spark's
    own guidance."""
    corrupt = T.StructField("_corrupt_record", T.StringType(), True)
    full = T.StructType([*schema.fields, corrupt])
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def write_json_lines(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """JSON-lines sink (one object per line, ignoreNullFields off so the
    schema round-trips losslessly through read_json_lines). An edge
    format for interchange — parquet stays the at-rest format; JSON
    costs ~5-10× parquet in bytes and scan time at 100 TB."""
    writer = df.write.mode("overwrite").option("ignoreNullFields", "false")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)


def write_parquet_append(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()):
    """Warehouse append sink — the engine-native stand-in for the
    reference's JDBC append (R8, weather_task.py:95-99). Partitioned
    parquet so the incremental filter prunes on re-read."""
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def jdbc_pushed_query(sql: str, alias: str = "pushed") -> str:
    """Wrap arbitrary SQL as a JDBC `dbtable` subquery — the reference's
    R3 pushdown trick (/root/reference/spark_tasks/weather_task.py:72-76
    reads ``(SELECT MAX(...) FROM ...) AS t``), which makes the REMOTE
    database execute the aggregate and ship one row, instead of Spark
    scanning the table to compute it."""
    return f"({sql}) AS {alias}"


def read_jdbc_pushdown(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC scan with pushdown enabled — R3 parity
    (weather_task.py:68-78) generalized.

    ``table_or_query`` is a table name or a ``jdbc_pushed_query(...)``
    subquery. Beyond the subquery trick the DSv2 pushdown flags are set
    so Catalyst also pushes predicates/aggregates/limits it discovers in
    the surrounding plan. For large tables pass the four partitioning
    options — otherwise JDBC reads on ONE task, the classic whole-table-
    through-a-straw mistake (the reference reads a 1-row aggregate, so
    it rightly doesn't partition; a 100-TB fact-table ingest must).

    Exercised two ways: a boundary test (tests/test_pipeline.py) proves
    the options reach Spark's JDBC source, and a LIVE round-trip
    (tests/test_jdbc_live.py) runs the full R3 semantics — pushed
    aggregate executing inside the database, append, read-back —
    against an embedded DuckDB over its real JDBC driver."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table_or_query)
        .option("pushDownPredicate", "true")
        .option("pushDownAggregate", "true")
        .option("pushDownLimit", "true")
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()


def write_jdbc_append(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str],
    num_partitions: int = 8,
    batchsize: int = 10_000,
) -> None:
    """JDBC append with explicit parallelism/batching — the reference
    leaves both at defaults (SURVEY §4.1 "JDBC write parallelism").
    Live-tested against embedded DuckDB over its JDBC driver
    (tests/test_jdbc_live.py); kept thin on purpose.
    """
    (
        df.repartition(num_partitions)
        .write.mode("append")
        .options(batchsize=str(batchsize), isolationLevel="READ_COMMITTED")
        .jdbc(url, table, properties=properties)
    )


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 16,
    sort_cols: tuple[str, ...] | None = None,
) -> None:
    """Bucketed parquet table (external, at ``path``) registered in the
    session catalog.

    Bucketing pre-shuffles the data ONCE at write time: every later
    equi-join or aggregation on the bucket columns between tables with
    the same bucket count plans with ZERO exchanges (asserted in
    tests/test_plans.py). This is the at-rest answer to the repeated
    shuffle cost of a 100-TB fact⋈fact join — the write pays the
    shuffle, every read amortizes it. sort_cols additionally pre-sorts
    within buckets, upgrading sort-merge joins to merge-only.
    """
    writer = df.write.mode("overwrite").option("path", path).bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(name)


def source_fingerprint(*paths: str) -> str:
    """12-hex content fingerprint of source files (size + mtime_ns per
    path) — the start of every persisted-artifact key
    (catalog.persisted), so regenerated sources at the same path can
    never silently reuse a stale artifact (round-8 ADVICE)."""
    import hashlib
    import os

    h = hashlib.sha256()
    for p in sorted(paths):
        st = os.stat(p)
        h.update(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:12]


def ensure_bucketed(
    spark,
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 16,
) -> None:
    """Idempotent, cross-session-safe form of :func:`write_bucketed`:
    the write-once/amortize-forever cache for bucketed scratch tables.

    * If ``name`` is registered and ``path`` exists → no-op (same
      session re-run: bench pass 2, driver re-run).
    * If ``path`` exists but the session catalog is fresh (a DIFFERENT
      session produced it) → register an external bucketed table over
      the existing files via CREATE TABLE … CLUSTERED BY … LOCATION,
      WITHOUT rewriting — this is what stops a new session from
      clobbering a shared path another session may be mid-read on
      (round-8 ADVICE: tableExists() alone is session-local and lied
      about the files).
    * Otherwise → write the bucketed files through the artifact seam's
      staged install (``catalog.install``: process-unique temp dir, one
      atomic rename; a concurrent session's winner is kept and registered
      — same content by construction, because callers key ``path`` on a
      source fingerprint, so a path only ever holds one logical content
      version; stale fingerprints just leave orphaned dirs behind, which
      is safe garbage, never wrong reuse).
    """
    import os
    import uuid

    from ..catalog import install

    if os.path.isdir(path):
        if spark.catalog.tableExists(name):
            return
    else:
        # a registration whose directory vanished would serve a stale
        # file listing over the rewrite below
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")

    def write(tmp: str) -> None:
        tmp_name = f"{name}_tmp_{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").option("path", tmp).bucketBy(
            n_buckets, *bucket_cols
        ).format("parquet").saveAsTable(tmp_name)
        # external table: DROP unregisters without touching the files
        spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")

    install(path, write)
    cols_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS `{name}` ({cols_ddl}) USING parquet "
        f"CLUSTERED BY ({', '.join(bucket_cols)}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )


# Extension → modality for media ingested from a landing directory.
MEDIA_MODALITIES = {
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "png": "image/png",
    "wav": "audio/wav",
    "mp3": "audio/mpeg",
    "mp4": "video/mp4",
    "bin": "application/octet-stream",
}


def read_binary_dir(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Media landing-zone ingest: Spark's `binaryFile` source over a
    directory → one row per file with the blob as an opaque ``payload``
    binary column plus the typed metadata the multimodal operators key
    on (modality from the extension, byte length, sha256 checksum —
    the reference's R11 checksum idea applied to blobs).

    This is the REAL ingest seam for operators/multimodal.py (whose
    fixture adapters render text as PNG/WAV/AVI payloads): downstream
    ``extract_features`` decodes either by its modality. Scale notes: the
    source parallelizes per file and prunes the ``content`` column when
    a plan only touches metadata — keep metadata queries off the blob
    column and they never read the bytes. Files over
    `spark.sql.sources.binaryFile.maxLength` (default 2 GiB) error
    loudly rather than truncate."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    modality_map = F.create_map(
        *[F.lit(x) for kv in MEDIA_MODALITIES.items() for x in kv]
    )
    return raw.select(
        F.col("path"),
        F.col("content").alias("payload"),
        F.coalesce(modality_map[ext], F.lit("application/octet-stream")).alias(
            "modality"
        ),
        F.col("length").cast("long").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("checksum"),
    )
