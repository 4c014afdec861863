"""SparkSession factory.

Scale posture: every setting here is chosen so the same code runs on a
1000-executor cluster — AQE handles post-shuffle partition sizing and skew
at any scale, the session timezone is pinned UTC (the reference pins
Europe/Berlin via env — SURVEY.md §1.2 — we standardize on UTC and treat
event-time columns as UTC), and Arrow is enabled for the few Pandas-UDF
operators. Only `master`/`shuffle.partitions` defaults are local-test
conveniences; production callers pass their own.

A session this factory starts on its own ``local[...]`` master runs the
engine's Python worker daemon (:mod:`.worker_daemon`), which removes the
per-task re-read of ``pyspark.zip`` from every Python task's fixed cost.
Sessions given a ``master`` (or built with SPARK_GRAFT_NO_LOCAL_MASTER)
keep Spark's stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def configure_s3a(
    spark: SparkSession,
    endpoint: str,
    access_key: str,
    secret_key: str,
    path_style_access: bool = True,
) -> SparkSession:
    """Point the session's Hadoop S3A client at an S3-compatible object
    store — R1/R11 parity with the reference's MinIO wiring
    (/root/reference/spark_tasks/weather_task.py:50-56 sets endpoint,
    keys, path-style access and the SimpleAWSCredentialsProvider on the
    live Hadoop configuration).

    Applied to the RUNTIME hadoopConfiguration rather than builder
    configs on purpose: it works on an already-created session (the
    reference does the same), and it is what a notebook/operator
    attaching to a shared cluster session actually needs. Path-style
    access is the MinIO/on-prem default; AWS proper uses virtual-host
    style (pass False)."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("fs.s3a.endpoint", endpoint)
    hconf.set("fs.s3a.access.key", access_key)
    hconf.set("fs.s3a.secret.key", secret_key)
    hconf.set("fs.s3a.path.style.access", "true" if path_style_access else "false")
    hconf.set(
        "fs.s3a.aws.credentials.provider",
        "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider",
    )
    hconf.set("fs.s3a.connection.ssl.enabled", "false" if path_style_access else "true")
    return spark


def get_spark(
    app_name: str = "projektdataengineering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    s3a: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster, pass ``master=None`` with spark-submit providing the
    master URL, and size ``shuffle_partitions`` to ~2-3× total cores (AQE
    coalesces the excess at runtime).

    ``s3a``: optional object-store wiring, forwarded to
    :func:`configure_s3a` — keys ``endpoint``, ``access_key``,
    ``secret_key``, optional ``path_style_access`` ("true"/"false").
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions else cpus),
        )
        # Read timestamp[ns] parquet as raw long nanos (Spark's vectorized
        # reader has no NANOS timestamp); catalog.load_table converts to a
        # µs TIMESTAMP matching the DuckDB oracle's truncation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        # Whole-stage-codegen class cache: the default 100 entries
        # thrashes once a session runs >100 distinct plans (this
        # engine's bench runs 163 queries/pass), forcing multi-second
        # Janino recompiles of heavy expression chains (the 64-hash
        # MinHash signature stage measured 8 s cold vs 1.6 s with its
        # generated classes cached). 5000 comfortably holds the whole
        # registry's codegen units at a few MB of driver heap.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_LOCAL_MASTER"):
        builder = (
            builder.master(f"local[{cpus}]")
            .config(
                "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
            )
            # Every Python task's set-up calls importlib.invalidate_caches(),
            # which re-reads pyspark.zip's directory once per cached
            # zipimporter (14 in a worker): 150-190 ms of each task's fixed
            # cost. The engine daemon re-reads an archive only when its
            # stat changed; a trivial 4-task mapInPandas op went from
            # 0.58 s to 0.24 s at local[4] on a 4-core host.
            # Set only here: a local daemon starts in the driver's cwd and
            # PYTHONPATH, the sys.path its forked workers already import
            # this package from. On a cluster the package may reach
            # executors only through pyFiles, which join sys.path after
            # the daemon has started, so Spark's stock daemon stays.
            .config(
                "spark.python.daemon.module",
                "projektdataengineering_spark.worker_daemon",
            )
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if s3a:
        configure_s3a(
            spark,
            endpoint=s3a["endpoint"],
            access_key=s3a["access_key"],
            secret_key=s3a["secret_key"],
            path_style_access=s3a.get("path_style_access", "true") != "false",
        )
    return spark
