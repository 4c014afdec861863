"""Data-layout operators — multi-dimensional clustering (Z-order) for
scan pruning.

At 100 TB the cheapest query is the one that never reads the file: a
table laid out in Z-order (Morton order) over two frequent filter
dimensions gives every file a TIGHT min/max envelope in BOTH
dimensions at once, so parquet footer stats / catalog file stats prune
on either predicate — the property a single-column sort only provides
for its leading key. This module implements the Morton curve with
plain JVM-side bit arithmetic (no UDF anywhere) and exposes the layout
decision as an ordinary hash-checked query: rank-normalize each
dimension to a 16-bit code, interleave the bits into a 32-bit z-value,
NTILE the curve into files ("buckets"), and report each file's
per-dimension envelope. A correctness hash over that report pins the
entire layout — codes, curve, file assignment, and envelopes — to the
oracle's independent recomputation.

The layout win is ASSERTED, not eyeballed: tests/test_operators.py
checks that the average per-file envelope fraction of each dimension
is a small fraction of what the same file count gives under the
naive single-dim sort for the trailing dimension (which degrades to
~the full range per file).

Reference: the reference engine has no layout control at all (its
sink is a plain JDBC append — spark_tasks/weather_task.py:95-99);
this is north-star scale work, same family as sources.write_bucketed.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import artifact, artifact_kind, load_table
from . import query

_BITS = 16
_N_FILES = 64


def _spark_interleave(xcol: str, ycol: str):
    """z = Σ_i ((x>>i)&1)<<2i  |  ((y>>i)&1)<<(2i+1) — pure column
    arithmetic, whole-stage-codegen'd, no UDF."""
    terms = []
    for i in range(_BITS):
        terms.append(
            F.shiftleft(F.shiftright(F.col(xcol), i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(F.col(ycol), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda a, b: a + b, terms)


def _sql_interleave(xcol: str, ycol: str) -> str:
    terms = []
    for i in range(_BITS):
        terms.append(f"((({xcol} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ycol} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


# Rank-normalized 16-bit codes: (rank-1) spread uniformly over the
# code space. Integer arithmetic only — ((rank-1) * 65536) / n  with
# BIGINT division — so there is no float in the whole pipeline and
# the oracle hash can't ulp-flake.
# The Z-order oracles' file assignment (CTE `filed`) and the per-file
# envelope the manifests select from it.
_ZORDER_FILED_CTES = f"""
    WITH coded AS (
      SELECT event_id, user_id, value,
             ((RANK() OVER (ORDER BY user_id) - 1) * {1 << _BITS}) // COUNT(*) OVER ()
               AS xcode,
             ((RANK() OVER (ORDER BY value, event_id) - 1) * {1 << _BITS}) // COUNT(*) OVER ()
               AS ycode
      FROM events
    ), curved AS (
      SELECT *, {_sql_interleave("xcode", "ycode")} AS zvalue FROM coded
    ), filed AS (
      SELECT *, NTILE({_N_FILES}) OVER (ORDER BY zvalue, event_id) AS file_id
      FROM curved
    )"""
_ZORDER_ENVELOPE_SQL = """
    SELECT CAST(file_id AS INT) AS file_id,
           COUNT(*) AS n_rows,
           MIN(user_id) AS min_user, MAX(user_id) AS max_user,
           MIN(value) AS min_value, MAX(value) AS max_value,
           MIN(zvalue) AS z_lo, MAX(zvalue) AS z_hi"""

_ZORDER_SQL = f"""{_ZORDER_FILED_CTES}{_ZORDER_ENVELOPE_SQL}
    FROM filed GROUP BY file_id
"""


def _zorder_filed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events (event_id, user_id, value) with its rank codes, Morton
    value ``zvalue`` and NTILE ``file_id`` — the DataFrame twin of
    ``_ZORDER_FILED_CTES``."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    # `div` = integer division on BIGINT in BOTH Spark SQL and the
    # oracle's `//` — no float anywhere, so no ulp risk in the codes
    coded = e.selectExpr(
        "event_id",
        "user_id",
        "value",
        # CAST the rank to BIGINT before the multiply: Spark's RANK()
        # is INT and ANSI mode faults (rank-1)*65536 past ~32k rows
        f"((CAST(RANK() OVER (ORDER BY user_id) AS BIGINT) - 1) * {1 << _BITS})"
        " div (COUNT(*) OVER ()) AS xcode",
        f"((CAST(RANK() OVER (ORDER BY value, event_id) AS BIGINT) - 1) * {1 << _BITS})"
        " div (COUNT(*) OVER ()) AS ycode",
    )
    curved = coded.withColumn("zvalue", _spark_interleave("xcode", "ycode"))
    return curved.withColumn(
        "file_id", F.ntile(_N_FILES).over(Window.orderBy("zvalue", "event_id"))
    )


def _zorder_envelope() -> list:
    """Per-file row count and (user_id, value, zvalue) envelope: the
    aggregates of ``_ZORDER_ENVELOPE_SQL``."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min("zvalue").alias("z_lo"),
        F.max("zvalue").alias("z_hi"),
    ]


@query("pipeline_zorder_layout", oracle=_ZORDER_SQL)
def pipeline_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout plan for events over (user_id, value): the
    64-file manifest a Morton-clustered rewrite would produce, with
    each file's envelope in both dimensions. RANK-based 16-bit codes
    (integer math end-to-end), JVM-side bit interleave, NTILE file
    assignment with event_id tiebreak — every step deterministic and
    recomputed independently by the DuckDB oracle.

    Scale shape: two single-exchange ranks + one curve sort — at
    100 TB the NTILE becomes `repartitionByRange(zvalue)` +
    `sortWithinPartitions` + write (same curve, no global window), and
    the rank normalization becomes approx-quantile code boundaries
    computed once per rewrite; both keep the plan at O(n log n) with
    NO driver materialization. The envelope report is what the file
    catalog stores for pruning."""
    return _zorder_filed(spark, sf_dir).groupBy(
        F.col("file_id").cast("int").alias("file_id")
    ).agg(*_zorder_envelope())


# ---------------------------------------------------------------------------
# Small-file compaction planning (layout MAINTENANCE — the other half
# of the storage story: zorder decides the order, compaction keeps the
# file count sane as incremental appends accumulate)
# ---------------------------------------------------------------------------

# Target output file size for the rewrite. 4 KiB matches fixture row
# volumes (events rows ≈ 50-70 B; a busy partition holds a few KiB) so
# the plan exercises both the 1-file collapse AND multi-file outputs;
# production sets this to 128 MiB-1 GiB — the math is identical.
_COMPACT_TARGET_BYTES = 4096
# Simulated historical writer parallelism: each (event_type, day)
# partition's rows arrived via 16 writer tasks → up to 16 files/day,
# the classic streaming-ingest small-file pathology.
_COMPACT_WRITERS = 16

_COMPACTION_SQL = f"""
    WITH files AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
             event_id % {_COMPACT_WRITERS} AS file_id,
             SUM(32 + length(CAST(event_id AS VARCHAR))
                    + length(CAST(user_id AS VARCHAR))
                    + length(event_type)
                    + length(COALESCE(props, ''))) AS file_bytes,
             COUNT(*) AS n_rows
      FROM events
      GROUP BY 1, 2, 3
    )
    SELECT event_type, event_date,
           COUNT(*) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(SUM(file_bytes) AS BIGINT) AS part_bytes,
           CAST(GREATEST(1, (SUM(file_bytes) + {_COMPACT_TARGET_BYTES - 1})
                            // {_COMPACT_TARGET_BYTES}) AS BIGINT)
             AS target_files,
           COUNT(*) > GREATEST(1, (SUM(file_bytes) + {_COMPACT_TARGET_BYTES - 1})
                                  // {_COMPACT_TARGET_BYTES})
             AS needs_compaction,
           CAST(GREATEST(0, COUNT(*)
                            - GREATEST(1, (SUM(file_bytes)
                                           + {_COMPACT_TARGET_BYTES - 1})
                                          // {_COMPACT_TARGET_BYTES}))
                AS BIGINT) AS files_saved
    FROM files
    GROUP BY event_type, event_date
"""


@query("pipeline_compaction_plan", oracle=_COMPACTION_SQL)
def pipeline_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition small-file compaction manifest for a
    date/type-partitioned events table: for every (event_type, day)
    partition, the current file count and bytes, the post-rewrite
    target file count at _COMPACT_TARGET_BYTES, and whether/how much a
    compaction pass saves. The reference's closest analog is its
    archive step's per-file move loop
    (/root/reference/spark_tasks/weather_task.py:105-126) — file-level
    layout maintenance done one object at a time; this is the
    table-scale planning form.

    Fixture modeling: a real lakehouse reads (file_id, bytes) from the
    table's transaction-log/manifest metadata — no data scan at all.
    The fixtures ship no file manifest, so the query derives a
    deterministic one from the rows themselves: file_id =
    event_id % {_COMPACT_WRITERS} (16 simulated writer tasks per
    partition — the streaming-ingest small-file pathology) and an
    integer per-row byte estimate (fixed overhead + string lengths; no
    doubles anywhere, so the manifest hashes bit-exactly).

    Manifest math is INTEGER-ONLY (the pipeline_zorder_layout
    discipline): target_files = max(1, ceil_div(part_bytes, target))
    via (b + t - 1) DIV t.

    Scale shape: two single-exchange hash aggregates (rows→files,
    files→partitions) — and at 100 TB the first one disappears into
    the metadata read; the second groups a manifest whose row count is
    the file count, not the data. The plan output is exactly what an
    OPTIMIZE/rewrite job consumes: one row per partition, rewrite
    width pre-computed."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "user_id", "props"
    )
    row_bytes = (
        F.lit(32)
        + F.length(F.col("event_id").cast("string"))
        + F.length(F.col("user_id").cast("string"))
        + F.length("event_type")
        + F.length(F.coalesce(F.col("props"), F.lit("")))
    )
    files = (
        ev.select(
            "event_type",
            F.col("ts").cast("date").cast("string").alias("event_date"),
            (F.col("event_id") % _COMPACT_WRITERS).alias("file_id"),
            row_bytes.alias("row_bytes"),
        )
        .groupBy("event_type", "event_date", "file_id")
        .agg(
            F.sum("row_bytes").alias("file_bytes"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    t = _COMPACT_TARGET_BYTES
    target_files = F.greatest(
        F.lit(1).cast("long"),
        F.expr(f"(sum(file_bytes) + {t - 1}) div {t}"),
    )
    return files.groupBy("event_type", "event_date").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("file_bytes").cast("long").alias("part_bytes"),
        target_files.cast("long").alias("target_files"),
        (F.count(F.lit(1)) > target_files).alias("needs_compaction"),
        F.greatest(F.lit(0).cast("long"), F.count(F.lit(1)) - target_files)
        .cast("long")
        .alias("files_saved"),
    )


# ---------------------------------------------------------------------------
# Compaction EXECUTION — the rewrite the plan above describes, run for
# real against an on-disk table, certified from actual filesystem state
# ---------------------------------------------------------------------------

# The apply fixture scopes to the first _COMPACT_APPLY_DAYS days (min-
# relative, so fixture regeneration cannot break it) and simulates
# _COMPACT_APPLY_WRITERS writer tasks: the rewrite machinery is fully
# exercised while the leaf-directory count (= parquet files written)
# stays bench-friendly — the plan query above keeps the full-table
# 16-writer manifest view.
_COMPACT_APPLY_WRITERS = 8
_COMPACT_APPLY_DAYS = 7

_COMPACT_APPLY_SQL = f"""
    WITH scoped AS (
      SELECT * FROM events
      WHERE CAST(ts AS DATE) < (SELECT MIN(CAST(ts AS DATE)) FROM events)
                               + {_COMPACT_APPLY_DAYS}
    ),
    files AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
             event_id % {_COMPACT_APPLY_WRITERS} AS file_id,
             SUM(32 + length(CAST(event_id AS VARCHAR))
                    + length(CAST(user_id AS VARCHAR))
                    + length(event_type)
                    + length(COALESCE(props, ''))) AS file_bytes,
             COUNT(*) AS n_rows
      FROM scoped
      GROUP BY 1, 2, 3
    ),
    parts AS (
      SELECT event_type, event_date,
             COUNT(*) AS files_before,
             SUM(n_rows) AS n_rows,
             LEAST(GREATEST(1, (SUM(file_bytes) + {_COMPACT_TARGET_BYTES - 1})
                               // {_COMPACT_TARGET_BYTES}),
                   SUM(n_rows)) AS files_after
      FROM files GROUP BY event_type, event_date
    )
    SELECT event_type, event_date,
           CAST(n_rows AS BIGINT) AS rows_before,
           CAST(n_rows AS BIGINT) AS rows_after,
           CAST(files_before AS BIGINT) AS files_before,
           CAST(files_after AS BIGINT) AS files_after,
           TRUE AS row_parity
    FROM parts
"""


artifact_kind(
    "compaction",
    "events",
    key=lambda: ({"w": _COMPACT_APPLY_WRITERS, "d": _COMPACT_APPLY_DAYS}, None),
)


@query("pipeline_compaction_apply", oracle=_COMPACT_APPLY_SQL)
def pipeline_compaction_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED small-file compaction (the rewrite half of
    pipeline_compaction_plan): materializes the 16-writers-per-
    partition small-file pathology as a REAL partitioned parquet table,
    runs the OPTIMIZE rewrite to the plan's integer target widths
    through the staged-write + atomic-rename machinery, and emits a
    before/after manifest measured from ACTUAL filesystem state — row
    counts re-read from both tables, file counts from
    ``_metadata.file_path``. The oracle recomputes every column from
    the events rows and the plan's integer math alone, so a hash match
    certifies the rewrite END-TO-END: no row lost or duplicated
    (rows_after + row_parity), the pathology materialized exactly as
    declared (files_before = distinct writer ids), and the rewrite
    produced exactly the planned file count (files_after =
    min(target_files, n_rows) — a file holds ≥ 1 row).

    Layout mechanics: the BEFORE table carries ``file_id`` as a leaf
    partition directory and the AFTER table a ``part_seq`` leaf
    (row_number % target), with the frame repartitioned on the full
    directory triple first — every leaf's rows land in one task, so
    each leaf holds EXACTLY one parquet file and the on-disk file
    counts are deterministic, not writer-parallelism-dependent. Both
    tables install via staged write + atomic rename keyed by the
    events source fingerprint (write-once per fixture version;
    re-invocations reuse — the ensure_bucketed discipline).

    Scale shape: one partitioned shuffle per table write, one
    metadata-only aggregate per manifest side; at 100 TB the manifest
    reads come from the table format's file statistics and the rewrite
    is per-partition parallel with bounded task memory (a partition's
    rows, streamed). Production sets _COMPACT_TARGET_BYTES to
    128 MiB-1 GiB; the math is identical."""
    row_bytes = (
        F.lit(32)
        + F.length(F.col("event_id").cast("string"))
        + F.length(F.col("user_id").cast("string"))
        + F.length("event_type")
        + F.length(F.coalesce(F.col("props"), F.lit("")))
    )

    # content-addressed reuse: the manifest was measured from the real
    # directories when they were installed; the tables and their
    # measurement are immutable per fixture fingerprint, so re-reading
    # 600 leaf files per invocation would re-prove a frozen fact
    def write_manifest(out: str) -> None:
        raw = load_table(spark, sf_dir, "events")
        # scalar-collect the min day (the agg_scalar_max/HWM read pattern)
        # so the scope predicate is a literal both engines derive from the data
        d0 = raw.agg(F.min(F.col("ts").cast("date")).alias("d0")).collect()[0]["d0"]
        ev = (
            raw.filter(
                F.col("ts").cast("date") < F.date_add(F.lit(d0), _COMPACT_APPLY_DAYS)
            ).select(
                "event_id",
                "user_id",
                "event_type",
                F.col("ts").cast("date").cast("string").alias("event_date"),
                "props",
            )
        )

        def write_before(p: str) -> None:
            src = ev.withColumn("file_id", F.col("event_id") % _COMPACT_APPLY_WRITERS)
            src.repartition("event_type", "event_date", "file_id").write.partitionBy(
                "event_type", "event_date", "file_id"
            ).parquet(p)

        before_path = artifact("compaction", sf_dir, write_before, part="before")

        def write_after(p: str) -> None:
            t = _COMPACT_TARGET_BYTES
            target = (
                ev.select("event_type", "event_date", row_bytes.alias("rb"))
                .groupBy("event_type", "event_date")
                .agg(
                    F.least(
                        F.greatest(
                            F.lit(1).cast("long"),
                            F.expr(f"(sum(rb) + {t - 1}) div {t}"),
                        ),
                        F.count(F.lit(1)),
                    ).alias("target_files")
                )
            )
            w = Window.partitionBy("event_type", "event_date").orderBy("event_id")
            compacted = (
                spark.read.parquet(before_path)
                .drop("file_id")
                .join(F.broadcast(target), ["event_type", "event_date"])
                .withColumn(
                    "part_seq", (F.row_number().over(w) - 1) % F.col("target_files")
                )
                .drop("target_files")
            )
            compacted.repartition("event_type", "event_date", "part_seq").write.partitionBy(
                "event_type", "event_date", "part_seq"
            ).parquet(p)

        after_path = artifact("compaction", sf_dir, write_after, part="after")

        def manifest(path: str) -> DataFrame:
            d = spark.read.parquet(path)
            return d.groupBy(
                F.col("event_type").cast("string").alias("event_type"),
                F.col("event_date").cast("string").alias("event_date"),
            ).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(F.col("_metadata.file_path")).alias("n_files"),
            )

        b = manifest(before_path)
        a = manifest(after_path)
        b.alias("b").join(a.alias("a"), ["event_type", "event_date"]).select(
            "event_type",
            "event_date",
            F.col("b.n_rows").cast("long").alias("rows_before"),
            F.col("a.n_rows").cast("long").alias("rows_after"),
            F.col("b.n_files").cast("long").alias("files_before"),
            F.col("a.n_files").cast("long").alias("files_after"),
            (F.col("b.n_rows") == F.col("a.n_rows")).alias("row_parity"),
        ).coalesce(1).write.parquet(out)

    manifest_path = artifact("compaction", sf_dir, write_manifest, part="manifest")
    return spark.read.parquet(manifest_path).select(
        "event_type", "event_date", "rows_before", "rows_after",
        "files_before", "files_after", "row_parity",
    )


# ---------------------------------------------------------------------------
# Z-order EXECUTION — the clustered rewrite pipeline_zorder_layout
# plans, written to disk for real and certified from the files
# ---------------------------------------------------------------------------

_ZORDER_APPLY_SQL = f"""{_ZORDER_FILED_CTES}{_ZORDER_ENVELOPE_SQL},
           CAST(1 AS BIGINT) AS n_files
    FROM filed GROUP BY file_id
"""


artifact_kind("zorder", "events", key=lambda: ({"b": _BITS, "f": _N_FILES}, None))


def _zorder_table(spark: SparkSession, sf_dir: str) -> str:
    """Read-or-build the Morton-order rewrite of events: _N_FILES
    planned files, file_id as a leaf partition directory with the frame
    repartitioned on it, so each planned file is exactly one file."""

    def write(p: str) -> None:
        filed = _zorder_filed(spark, sf_dir).select(
            "event_id", "user_id", "value", "zvalue", "file_id"
        )
        filed.repartition("file_id").sortWithinPartitions(
            "zvalue", "event_id"
        ).write.partitionBy("file_id").parquet(p)

    return artifact("zorder", sf_dir, write, part="table")


@query("pipeline_zorder_apply", oracle=_ZORDER_APPLY_SQL)
def pipeline_zorder_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED Z-order rewrite (the clustered write
    pipeline_zorder_layout only plans): events is physically rewritten
    into {_N_FILES} real parquet files in Morton order — file_id as a
    leaf partition directory with the frame repartitioned on it, so
    each planned file IS exactly one on-disk file — and the manifest
    is then measured FROM THE WRITTEN FILES: rows re-read, every
    envelope recomputed over actual file contents, and n_files counted
    via ``_metadata.file_path`` (must be exactly 1 per planned file).
    The oracle recomputes the plan from the source rows alone, so a
    hash match certifies the physical layout equals the plan — same
    execute-then-certify discipline as pipeline_compaction_apply,
    whose staged-write/atomic-rename and frozen-manifest reuse this
    query shares (catalog.persisted; content-addressed by the events
    fingerprint + layout parameters).

    At 100 TB: the NTILE becomes repartitionByRange(zvalue) +
    sortWithinPartitions + write (same curve, sampled boundaries), and
    the certification becomes a catalog diff of footer stats — the
    envelopes here are exactly what the catalog stores for pruning."""
    cols = [
        "file_id", "n_rows", "min_user", "max_user",
        "min_value", "max_value", "z_lo", "z_hi", "n_files",
    ]

    def write_manifest(out: str) -> None:
        d = spark.read.parquet(_zorder_table(spark, sf_dir))
        d.groupBy(F.col("file_id").cast("int").alias("file_id")).agg(
            *_zorder_envelope(),
            F.countDistinct(F.col("_metadata.file_path")).cast("long").alias("n_files"),
        ).coalesce(1).write.parquet(out)

    manifest_path = artifact("zorder", sf_dir, write_manifest, part="manifest")
    return spark.read.parquet(manifest_path).select(*cols)


# ---------------------------------------------------------------------------
# pipeline_file_skipping — zone-map pruning over the installed z-order table
# ---------------------------------------------------------------------------

_SKIP_SQL = f"""{_ZORDER_FILED_CTES}, bounds AS (
      SELECT MIN(user_id) AS u_min,
             MIN(user_id) + (MAX(user_id) - MIN(user_id)) // 4 AS u_hi,
             MIN(value) AS v_min,
             (MIN(value) + MAX(value)) / 2 AS v_hi
      FROM events
    )
    SELECT CAST(file_id AS INT) AS file_id,
           COUNT(*) AS n_rows,
           CAST(MIN(f.user_id) <= b.u_hi AND MAX(f.user_id) >= b.u_min
                AND MIN(f.value) <= b.v_hi AND MAX(f.value) >= b.v_min
                AS BOOLEAN) AS kept,
           CAST(SUM(CASE WHEN f.user_id BETWEEN b.u_min AND b.u_hi
                          AND f.value BETWEEN b.v_min AND b.v_hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_match
    FROM filed f CROSS JOIN bounds b
    GROUP BY file_id, b.u_min, b.u_hi, b.v_min, b.v_hi
"""


@query("pipeline_file_skipping", oracle=_SKIP_SQL)
def pipeline_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file skipping MEASURED FROM DISK: against the
    physically installed Z-order table (pipeline_zorder_apply's
    output, shared via the content-addressed workdir), evaluate a
    2-D predicate (lowest user-id quartile × lower value half, both
    bounds data-derived scalars) per REAL file: the file's measured
    min/max envelope decides ``kept`` — exactly the decision a
    catalog/footer-stats pruner makes — and ``n_match`` counts the
    rows inside the file that actually satisfy the predicate. The
    DuckDB oracle recomputes file assignment, envelopes, and match
    counts from the source rows alone, so a hash match certifies that
    (a) the on-disk layout produces exactly these zone maps and
    (b) every pruned file (kept = false) truly contains ZERO matching
    rows — pruning soundness as a certified fact, not a trust-me.

    This is the query-side payoff of Z-ORDER: both predicate
    dimensions prune simultaneously (the layout module docstring's
    whole point). At 100 TB the kept/pruned decision runs against
    catalog file statistics without touching data; here the envelopes
    are re-measured from the files to certify those statistics."""
    table_path = _zorder_table(spark, sf_dir)

    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.agg(
            F.min("user_id").alias("u_min"),
            (F.min("user_id") + F.expr("(max(user_id) - min(user_id)) div 4")).alias("u_hi"),
            F.min("value").alias("v_min"),
            ((F.min("value") + F.max("value")) / 2).alias("v_hi"),
        )
    ).collect()[0]

    d = spark.read.parquet(table_path)
    match = (
        F.col("user_id").between(F.lit(b["u_min"]), F.lit(b["u_hi"]))
        & F.col("value").between(F.lit(b["v_min"]), F.lit(b["v_hi"]))
    )
    return d.groupBy(F.col("file_id").cast("int").alias("file_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            (F.min("user_id") <= F.lit(b["u_hi"]))
            & (F.max("user_id") >= F.lit(b["u_min"]))
            & (F.min("value") <= F.lit(b["v_hi"]))
            & (F.max("value") >= F.lit(b["v_min"]))
        ).alias("kept"),
        F.sum(F.when(match, 1).otherwise(0)).cast("long").alias("n_match"),
    )


# ---------------------------------------------------------------------------
# pipeline_gdpr_erasure — executed right-to-be-forgotten, certified from disk
# ---------------------------------------------------------------------------

_ERASE_SQL = """
    WITH tomb AS (
      SELECT DISTINCT user_id FROM events
      WHERE substring(md5(CAST(user_id AS VARCHAR)), 1, 1) = '0'
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS rows_before,
           CAST(SUM(CASE WHEN t.user_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS rows_after,
           CAST(SUM(CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS erased_rows,
           CAST(COUNT(DISTINCT t.user_id) AS BIGINT) AS erased_users
    FROM events e LEFT JOIN tomb t ON e.user_id = t.user_id
    GROUP BY e.event_type
"""


artifact_kind("erasure", "events")


@query("pipeline_gdpr_erasure", oracle=_ERASE_SQL)
def pipeline_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED right-to-be-forgotten: a deterministic tombstone set
    (users whose id md5 starts with nibble '0' — a stand-in for the
    deletion-request table; ~1/16 of users) is anti-joined out of
    events, the surviving rows are physically written as a real
    parquet table (staged write + atomic rename, content-addressed by
    the events fingerprint), and the audit manifest is then measured
    from BOTH tables: rows_before from the source, rows_after re-read
    FROM THE ERASED TABLE ON DISK. The oracle recomputes every column
    from the events view and the same md5 predicate, so a hash match
    certifies the erasure end-to-end: every tombstoned user's rows
    are gone from the physical table, no bystander row was lost, and
    the per-type audit counts are exact — the deletion-compliance
    evidence a data-protection audit asks for.

    Scale shape: the tombstone set is DISTINCT user ids (broadcast-
    sized vs events); the anti-join is one broadcast probe, the write
    one partitioned pass, the audit two partial-aggregated scans. At
    100 TB this is the standard erasure rewrite: tombstones bounded
    by deletion requests, rewrite bounded by affected partitions
    (here: all, since user_id is not the partition key — the audit
    counts are the same either way)."""
    cols = [
        "event_type", "rows_before", "rows_after", "erased_rows",
        "erased_users",
    ]

    def write_manifest(out: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        is_tomb = F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) == "0"
        erased_path = artifact(
            "erasure", sf_dir, lambda p: ev.filter(~is_tomb).write.parquet(p),
            part="erased",
        )
        before = ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("rows_before"),
            F.sum(F.when(is_tomb, 1).otherwise(0)).cast("long").alias("erased_rows"),
            F.countDistinct(F.when(is_tomb, F.col("user_id"))).cast("long")
            .alias("erased_users"),
        )
        after = (
            spark.read.parquet(erased_path)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("rows_after"))
        )
        before.join(after, "event_type", "left").select(
            "event_type",
            F.col("rows_before").cast("long").alias("rows_before"),
            F.coalesce(F.col("rows_after"), F.lit(0)).cast("long").alias("rows_after"),
            "erased_rows",
            "erased_users",
        ).coalesce(1).write.parquet(out)

    manifest_path = artifact("erasure", sf_dir, write_manifest, part="manifest")
    return spark.read.parquet(manifest_path).select(*cols)


# ---------------------------------------------------------------------------
# pipeline_merge_apply — EXECUTED MERGE/upsert (copy-on-write), certified
# from the two real tables on disk
# ---------------------------------------------------------------------------

# Changelog horizon: the merge applies the (HWM, HWM + 1 day] slice of
# the event log. One day keeps all four merge actions populated at the
# fixtures (a wider slice makes "unchanged" structurally empty — every
# user has activity in a 15-day window).
_MERGE_DELTA_DAYS = 1
_MERGE_BUCKETS = 8


def _ranked_events_sql(where: str) -> str:
    """The events rows matching ``where`` with their cents and their
    recency rank per user (rn = 1 is the last event)."""
    return f"""
      SELECT user_id, event_type, ts,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE {where}
    """


def _changelog_sql(ranked: str) -> str:
    """Per-key changelog summary of the ranked CTE ``ranked``."""
    return f"""
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS d_events,
             CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS d_cents,
             MAX(CASE WHEN rn = 1 THEN event_type END) AS new_type
      FROM {ranked} GROUP BY user_id
    """


def _merge_cte() -> str:
    """The shared base/changelog CTE chain (b0 → base → c0 → chg),
    composed verbatim by _merge_sql (the merge audit) and the
    time-travel snapshot oracle below — ONE definition of the two
    table versions' semantics."""
    from . import HWM_LITERAL

    return f"""b0 AS ({_ranked_events_sql(f"ts <= TIMESTAMP '{HWM_LITERAL}'")}), base AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents
      FROM b0 GROUP BY user_id
      HAVING MAX(CASE WHEN rn = 1 THEN event_type END) <> 'error'
    ), c0 AS ({_ranked_events_sql(
        f"ts > TIMESTAMP '{HWM_LITERAL}'"
        f" AND ts <= TIMESTAMP '{HWM_LITERAL}' + INTERVAL {_MERGE_DELTA_DAYS} DAY"
    )}), chg AS ({_changelog_sql("c0")})"""


def _merge_sql() -> str:
    return f"""
    WITH {_merge_cte()}, cls AS (
      SELECT COALESCE(b.user_id, c.user_id) AS user_id,
             CASE
               WHEN c.user_id IS NULL THEN 'unchanged'
               WHEN b.user_id IS NULL AND c.new_type <> 'error' THEN 'insert'
               WHEN b.user_id IS NULL THEN 'noop'
               WHEN c.new_type = 'error' THEN 'delete'
               ELSE 'update' END AS action,
             CASE WHEN c.user_id IS NULL
                    OR (b.user_id IS NOT NULL AND c.new_type = 'error')
                  THEN b.n_events
                  ELSE COALESCE(b.n_events, 0) + c.d_events END AS n_events,
             CASE WHEN c.user_id IS NULL
                    OR (b.user_id IS NOT NULL AND c.new_type = 'error')
                  THEN b.cents
                  ELSE COALESCE(b.cents, 0) + c.d_cents END AS cents
      FROM base b FULL JOIN chg c USING (user_id)
    ), agg AS (
      SELECT user_id % {_MERGE_BUCKETS} AS bucket, action,
             COUNT(*) AS n_keys,
             SUM(n_events) AS sum_events,
             SUM(cents) AS sum_cents
      FROM cls WHERE action <> 'noop'
      GROUP BY 1, 2
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, action,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(sum_events AS BIGINT) AS sum_events,
           CAST(sum_cents AS BIGINT) AS sum_cents,
           MAX(CASE WHEN action IN ('insert', 'update', 'delete')
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY bucket) = 1 AS rewritten
    FROM agg
    """


artifact_kind(
    "merge", "events", key=lambda: ({"d": _MERGE_DELTA_DAYS, "b": _MERGE_BUCKETS}, None)
)


def _merge_state_frames(spark: SparkSession, sf_dir: str):
    """(base, chg, chg2): the keyed target-table state as of the HWM and
    the per-key changelog summaries of the two generations' slices,
    (HWM, HWM+delta] and (HWM+delta, HWM+2·delta]."""
    from . import HWM_LITERAL

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    key = F.struct(F.col("ts"), F.col("event_id"))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    hwm = F.lit(HWM_LITERAL).cast("timestamp")
    lo = hwm + F.expr(f"INTERVAL {_MERGE_DELTA_DAYS} DAYS")
    hi = hwm + F.expr(f"INTERVAL {2 * _MERGE_DELTA_DAYS} DAYS")

    def rollup(where: Column, n="d_events", c="d_cents", last="new_type") -> DataFrame:
        return ev.filter(where).groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias(n),
            F.coalesce(F.sum(cents), F.lit(0)).cast("long").alias(c),
            F.max_by("event_type", key).alias(last),
        )

    base = (
        rollup(F.col("ts") <= hwm, "n_events", "cents", "last_type")
        .filter(F.col("last_type") != "error")
        .drop("last_type")
        .withColumn("bucket", (F.col("user_id") % _MERGE_BUCKETS).cast("long"))
    )
    chg = rollup((F.col("ts") > hwm) & (F.col("ts") <= lo))
    # generation 2 is a PARTIAL rollout: its feed covers two of the
    # four key shards (the region-by-region migration shape), so
    # untouched buckets exist at every SF and the copied files
    # genuinely carry the pre-column schema
    chg2 = rollup((F.col("ts") > lo) & (F.col("ts") <= hi) & (F.col("user_id") % 4 < 2))
    return base, chg, chg2


def _cow_merge(spark: SparkSession, tgt_path: str, chg: DataFrame, out: str, *extra: Column) -> None:
    """Write the table at ``tgt_path`` MERGEd with the changelog ``chg``
    to ``out``, copy-on-write: the target is read FROM DISK (the
    installed table version, not a recomputation), only the buckets the
    changelog touches are rewritten (with the ``extra`` columns after
    cents), and every untouched bucket's files are copied over, so they
    keep the target's schema."""
    import os
    import shutil

    tgt = spark.read.parquet(tgt_path).select("user_id", "n_events", "cents")
    j = tgt.alias("b").join(chg.alias("c"), "user_id", "full_outer")
    is_del = F.col("c.new_type") == "error"
    matched = F.col("b.n_events").isNotNull()
    has_chg = F.col("c.d_events").isNotNull()
    merged = (
        j.filter(~has_chg | (matched & ~is_del) | (~matched & ~is_del))
        .select(
            "user_id",
            (
                F.coalesce(F.col("b.n_events"), F.lit(0))
                + F.coalesce(F.col("c.d_events"), F.lit(0))
            ).cast("long").alias("n_events"),
            (
                F.coalesce(F.col("b.cents"), F.lit(0))
                + F.coalesce(F.col("c.d_cents"), F.lit(0))
            ).cast("long").alias("cents"),
            *extra,
            (F.col("user_id") % _MERGE_BUCKETS).cast("long").alias("bucket"),
        )
    )
    # buckets the changelog actually touches (tombstone-only churn
    # on absent keys touches nothing); ≤ _MERGE_BUCKETS rows — the
    # bounded scalar-collect pattern
    touched = sorted(
        r["bucket"]
        for r in chg.alias("c")
        .join(tgt.select("user_id").alias("b"), "user_id", "left")
        .filter((F.col("c.new_type") != "error") | F.col("b.user_id").isNotNull())
        .select(
            (F.col("user_id") % _MERGE_BUCKETS).cast("long").alias("bucket")
        )
        .distinct()
        .collect()
    )

    if touched:
        (
            merged.filter(F.col("bucket").isin(touched))
            .repartition("bucket")
            .write.partitionBy("bucket")
            .parquet(out)
        )
    else:
        os.makedirs(out, exist_ok=True)
    for name in os.listdir(tgt_path):
        if not name.startswith("bucket="):
            continue
        b = int(name.split("=", 1)[1])
        if b not in touched:
            shutil.copytree(os.path.join(tgt_path, name), os.path.join(out, name))


def _file_names_by_bucket(df: DataFrame) -> DataFrame:
    """(bucket, files): the sorted set of physical file BASENAMES each
    bucket's rows live in — the filesystem-measured identity a
    copy-on-write audit compares (a copied file keeps its name; a
    rewritten bucket gets fresh part-file UUIDs)."""
    return df.groupBy("bucket").agg(
        F.sort_array(
            F.collect_set(
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
            )
        ).alias("files")
    )


def _merge_versions(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Read-or-build the executed MERGE's two table versions: v0 (the
    keyed target as of the HWM) and v1 (v0 MERGEd with the delta slice,
    copy-on-write: untouched buckets carry over as the same files)."""

    def write_base(p: str) -> None:
        base, _, _ = _merge_state_frames(spark, sf_dir)
        base.repartition("bucket").write.partitionBy("bucket").parquet(p)

    base_path = artifact("merge", sf_dir, write_base, part="base")

    def write_merged_version(out: str) -> None:
        _, chg, _ = _merge_state_frames(spark, sf_dir)
        _cow_merge(spark, base_path, chg, out)

    merged_path = artifact(
        "merge", sf_dir, write_merged_version, part="merged", inputs=(base_path,)
    )
    return base_path, merged_path


@query("pipeline_merge_apply", oracle=_merge_sql())
def pipeline_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED MERGE INTO (upsert + delete), copy-on-write: a real
    keyed parquet table (per-user state as of the HWM, bucketed by
    user_id % {_MERGE_BUCKETS} as leaf partition dirs) has the next
    day's changelog applied the way Delta/Iceberg's MERGE does it —
    matched keys whose final changelog op is a tombstone are DELETED,
    other matched keys UPDATED (running count/cents advance, so the
    merged row differs from base by construction), unmatched upserts
    INSERTED, and insert-then-tombstone churn is a no-op. The merge
    physically rewrites ONLY the buckets the changelog touches; every
    untouched bucket's files are COPIED into the new table version
    byte-for-byte (the copy-on-write file-reuse a real table format
    gets via its manifest). Both table versions install via staged
    write + atomic rename, content-addressed by the events fingerprint
    (the pipeline_compaction_apply discipline), and re-invocations
    reuse the frozen result.

    The audit is MEASURED FROM THE TWO REAL TABLES: actions come from
    a full outer join of base-on-disk vs merged-on-disk (key only in
    base = delete, only in merged = insert, rows differ = update, rows
    equal = unchanged), per-action sums are read back from the merged
    rows (base rows for deletes — what was removed), and ``rewritten``
    compares each bucket's physical part-file NAME SETS between the
    two table versions (a copied bucket keeps its file names; a
    rewritten one gets fresh UUIDs). The oracle recomputes all of it
    from the raw event log, so a hash match certifies the executed
    merge end-to-end: no row lost, duplicated, or left stale — the fix
    for exactly the duplicate-risk append the reference ships
    (reference spark_tasks/weather_task.py:86-89, its O4 semantics).

    Scale shape: base and changelog are single-exchange keyed
    aggregates; the merge join is keyed on user_id; the rewrite cost
    is proportional to TOUCHED buckets, not table size — with file
    stats in a catalog the untouched-bucket copy becomes a metadata
    no-op, which is the whole reason MERGE scales at 100 TB. The audit
    is two partial-aggregated scans of the finished tables."""
    cols = ["bucket", "action", "n_keys", "sum_events", "sum_cents", "rewritten"]

    # the frozen manifest answers THIS query alone, but the two table
    # versions are a published artifact too (pipeline_merge_timetravel
    # reads them version-pinned) — so they are read-or-built first, and a
    # partially cleaned scratch dir (manifest surviving, base/merged gone)
    # self-heals the versions instead of answering over their absence
    base_path, merged_path = _merge_versions(spark, sf_dir)

    def write_manifest(out: str) -> None:
        b_disk = spark.read.parquet(base_path)
        m_disk = spark.read.parquet(merged_path)
        rewritten = (
            _file_names_by_bucket(b_disk).alias("bf")
            .join(_file_names_by_bucket(m_disk).alias("mf"), "bucket", "full_outer")
            .select(
                "bucket",
                (
                    F.col("bf.files").isNull()
                    | F.col("mf.files").isNull()
                    | (F.col("bf.files") != F.col("mf.files"))
                ).alias("rewritten"),
            )
        )
        d = b_disk.alias("b").join(m_disk.alias("m"), "user_id", "full_outer")
        action = (
            F.when(F.col("m.n_events").isNull(), "delete")
            .when(F.col("b.n_events").isNull(), "insert")
            .when(
                (F.col("b.n_events") != F.col("m.n_events"))
                | (F.col("b.cents") != F.col("m.cents")),
                "update",
            )
            .otherwise("unchanged")
        )
        audit = (
            d.select(
                F.coalesce(F.col("m.bucket"), F.col("b.bucket")).alias("bucket"),
                action.alias("action"),
                F.coalesce(F.col("m.n_events"), F.col("b.n_events")).alias("n_events"),
                F.coalesce(F.col("m.cents"), F.col("b.cents")).alias("cents"),
            )
            .groupBy("bucket", "action")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.sum("n_events").cast("long").alias("sum_events"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .join(F.broadcast(rewritten), "bucket")
            .select(*cols)
        )
        audit.coalesce(1).write.parquet(out)

    manifest_path = artifact(
        "merge", sf_dir, write_manifest, part="manifest",
        inputs=(base_path, merged_path),
    )
    return spark.read.parquet(manifest_path).select(*cols)


# ---------------------------------------------------------------------------
# pipeline_merge_timetravel (round 12) — version-pinned snapshot reads
# over the executed-merge table versions
# ---------------------------------------------------------------------------

# v1 rows: v0 (base) MERGEd with the first changelog (chg).
_MERGED_CTE = """merged AS (
      SELECT COALESCE(b.user_id, c.user_id) AS user_id,
             COALESCE(b.n_events, 0) + COALESCE(c.d_events, 0) AS n_events,
             COALESCE(b.cents, 0) + COALESCE(c.d_cents, 0) AS cents
      FROM base b FULL JOIN chg c USING (user_id)
      WHERE c.user_id IS NULL OR c.new_type <> 'error'
    )"""

# The per-(version, bucket) snapshot rollup of the CTE `versions`.
_ROLLUP_SQL = f"""
    SELECT CAST(version AS BIGINT) AS version,
           CAST(user_id % {_MERGE_BUCKETS} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n_events) AS BIGINT) AS sum_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents"""

_TIMETRAVEL_SQL = f"""
    WITH {{cte}}, {_MERGED_CTE}, versions AS (
      SELECT 0 AS version, user_id, n_events, cents FROM base
      UNION ALL
      SELECT 1 AS version, user_id, n_events, cents FROM merged
    ){_ROLLUP_SQL}
    FROM versions
    GROUP BY 1, 2
"""


def _snapshot(version: int, df: DataFrame, *extra: Column) -> DataFrame:
    """The per-bucket snapshot rollup of one table version read as
    ``df``: version, bucket, n_keys, sum_events, sum_cents, then the
    ``extra`` aggregates."""
    return (
        df.groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("n_events").cast("long").alias("sum_events"),
            F.sum("cents").cast("long").alias("sum_cents"),
            *extra,
        )
        .select(F.lit(version).cast("long").alias("version"), "*")
    )


def _evolved_snapshot(version: int, df: DataFrame) -> DataFrame:
    """``_snapshot`` plus sum_d2_events. A version read without the
    d2_events column predates it and sums the declared default 0; one
    read with it backfills the rows of its copied pre-column files."""
    if "d2_events" in df.columns:
        d2 = F.coalesce(F.col("d2_events"), F.lit(0))
    else:
        d2 = F.lit(0)
    return _snapshot(version, df, F.sum(d2).cast("long").alias("sum_d2_events"))


@query(
    "pipeline_merge_timetravel",
    oracle=_TIMETRAVEL_SQL.format(cte=_merge_cte()),
)
def pipeline_merge_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT / TIME-TRAVEL read over the executed-merge table: the
    copy-on-write MERGE (pipeline_merge_apply) leaves BOTH table
    versions installed on disk — version 0 (pre-merge base) and
    version 1 (post-merge) — and this query reads each one VERSION-
    PINNED from its physical path and emits the per-(version, bucket)
    snapshot rollup. This is the consumer half of the table-format
    story: what `SELECT ... VERSION AS OF v` resolves to once a
    manifest maps versions to file sets; here the mapping is the
    staged directory per version, which is exactly how the rewrite
    installed them.

    The oracle recomputes both snapshots from the raw event log (the
    shared _merge_cte chain — one definition of version semantics), so
    the hash certifies that the on-disk versions are faithful: v0 is
    the keyed state as of the HWM, v1 is v0 + changelog under MERGE
    semantics, and neither was disturbed by later reads. The O4
    RETRY/replay idempotence is certified from disk by
    tests/test_operators.py: re-invoking the merge with the same
    changelog leaves every version-1 byte identical (content-addressed
    reuse — the retry never rewrites).

    Scale shape: two partial-aggregated scans of the pinned file sets;
    version resolution is metadata-only. At 100 TB the versions live
    in a catalog manifest instead of directory names and old versions
    age out by retention policy — the read path is unchanged."""
    base_path, merged_path = _merge_versions(spark, sf_dir)

    return _snapshot(0, spark.read.parquet(base_path)).unionByName(
        _snapshot(1, spark.read.parquet(merged_path))
    )


# ---------------------------------------------------------------------------
# pipeline_merge_evolve (round 14) — WRITE-side schema evolution on the
# executed-merge table: generation v2 adds a column; copied files keep
# the old schema; version-pinned reads backfill
# ---------------------------------------------------------------------------

def _evolve_oracle() -> str:
    from . import HWM_LITERAL

    hwm = f"TIMESTAMP '{HWM_LITERAL}'"
    return f"""
    WITH {_merge_cte()}, {_MERGED_CTE}, c20 AS ({_ranked_events_sql(
        f"ts > {hwm} + INTERVAL {_MERGE_DELTA_DAYS} DAY"
        f" AND ts <= {hwm} + INTERVAL {2 * _MERGE_DELTA_DAYS} DAY"
        " AND user_id % 4 < 2"
    )}), chg2 AS ({_changelog_sql("c20")}), merged2 AS (
      SELECT COALESCE(m.user_id, c.user_id) AS user_id,
             COALESCE(m.n_events, 0) + COALESCE(c.d_events, 0) AS n_events,
             COALESCE(m.cents, 0) + COALESCE(c.d_cents, 0) AS cents,
             CASE WHEN c.user_id IS NOT NULL THEN c.d_events
                  ELSE 0 END AS d2_events
      FROM merged m FULL JOIN chg2 c USING (user_id)
      WHERE c.user_id IS NULL OR c.new_type <> 'error'
    ), versions AS (
      SELECT 0 AS version, user_id, n_events, cents, 0 AS d2 FROM base
      UNION ALL
      SELECT 1 AS version, user_id, n_events, cents, 0 FROM merged
      UNION ALL
      SELECT 2 AS version, user_id, n_events, cents, d2_events FROM merged2
    ){_ROLLUP_SQL},
           CAST(SUM(d2) AS BIGINT) AS sum_d2_events
    FROM versions
    GROUP BY 1, 2
"""


def _merge_generations(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Read-or-build all three executed-merge generations: v0 and v1
    (_merge_versions) plus v2, v1 MERGEd with the second changelog
    window, which adds the d2_events column to the buckets it rewrites
    and copies the rest from v1 as files (keeping the OLD schema — that
    is what makes this table "evolved")."""
    base_path, merged_path = _merge_versions(spark, sf_dir)

    def write_evolved_version(out: str) -> None:
        _, _, chg2 = _merge_state_frames(spark, sf_dir)
        # THE evolved column: generation-2 provenance, written only by
        # this generation's rewrite
        d2 = F.coalesce(F.col("c.d_events"), F.lit(0)).cast("long").alias("d2_events")
        _cow_merge(spark, merged_path, chg2, out, d2)

    merged2_path = artifact(
        "merge", sf_dir, write_evolved_version, part="merged2",
        inputs=(merged_path,),
    )
    return base_path, merged_path, merged2_path


@query("pipeline_merge_evolve", oracle=_evolve_oracle())
def pipeline_merge_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-side SCHEMA EVOLUTION on the executed-merge table (r13
    verdict task #7): generation v2 applies the SECOND changelog
    window (HWM+{_MERGE_DELTA_DAYS}d, HWM+{2 * _MERGE_DELTA_DAYS}d]
    to the installed v1 under the same MERGE semantics — and ADDS a
    column, ``d2_events`` (the delta this key absorbed in generation
    2; the provenance column a real table gains mid-life). The merge
    writes it ONLY into the buckets it rewrites; every untouched
    bucket's files are COPIED from v1 byte-for-byte and keep the OLD
    five-column schema — exactly how a mergeSchema-evolved table looks
    on disk after an Iceberg/Delta column add: new files carry the
    column, old files don't, the table schema is their union.

    The read side then certifies all three generations EACH UNDER ITS
    OWN SCHEMA: v0/v1 predate the column entirely (version-pinned
    reads project it as the declared default 0), v2 is read with
    ``mergeSchema`` so copied-file rows surface NULL and COALESCE
    backfills them — the scan_parquet_schema_evolution read discipline
    applied to a table this engine WROTE. The DuckDB oracle recomputes
    every generation from the raw event log through the shared
    _merge_cte chain extended by one window, so a hash match certifies
    the evolved write end-to-end: v2 rows correct under MERGE rules,
    the new column exact where written, exactly-zero where backfilled,
    v0/v1 undisturbed. Byte-identical replay is pinned by
    tests/test_operators.py.

    Scale shape: one keyed full-outer join against the v1 table read
    from disk; the rewrite cost is ∝ touched buckets (copy-on-write
    carries the rest as files — a metadata no-op once a catalog holds
    file-level manifests); the three snapshot reads are partial-
    aggregated scans. Schema evolution itself is O(metadata): no
    backfill rewrite of old files, which is the entire reason evolved
    tables stay cheap at 100 TB."""
    base_path, merged_path, merged2_path = _merge_generations(spark, sf_dir)

    read = spark.read.option("mergeSchema", "true").parquet
    return (
        _evolved_snapshot(0, read(base_path))
        .unionByName(_evolved_snapshot(1, read(merged_path)))
        .unionByName(_evolved_snapshot(2, read(merged2_path)))
    )


# ---------------------------------------------------------------------------
# pipeline_merge_vacuum (round 15) — snapshot-expiry retention GC over
# the executed-merge table generations: v0 expires, only files no
# retained version references are deleted, retained time-travel reads
# are provably unchanged
# ---------------------------------------------------------------------------

_VACUUM_KEEP_VERSIONS = (1, 2)  # retention boundary: last two generations


def _vtable_manifest(root: str, version: int) -> str:
    import os

    return os.path.join(root, f"v{version}.manifest.json")


def _build_vtable(spark: SparkSession, sf_dir: str) -> str:
    """Build-once SHARED-FILE table root over the three executed-merge
    generations — the physical layout a real table format (Iceberg/
    Delta) actually has, and the layout snapshot expiry needs to be a
    meaningful operation: one ``files/`` pool holding each distinct
    part file ONCE, plus one manifest per version listing the pool
    files that version references. Copy-on-write carried untouched
    buckets between generations BY FILE NAME (pipeline_merge_apply /
    _evolve), so a (bucket, filename) seen by several versions is one
    shared pool entry — byte-identity asserted at pool time; a
    rewritten bucket's files have fresh UUID names and never collide.
    Installed via staged write + atomic rename, content-addressed like
    the merge versions; the published generation dirs are read, never
    modified. Manifests are JSON driver-side: O(files) metadata, the
    pipeline_vacuum bound."""
    import filecmp
    import json
    import os
    import shutil

    gens = _merge_generations(spark, sf_dir)

    def stage(tmp: str) -> None:
        pool = os.path.join(tmp, "files")
        os.makedirs(pool)
        for version, gen in enumerate(gens):
            refs = []
            for bucket_dir in sorted(os.listdir(gen)):
                if not bucket_dir.startswith("bucket="):
                    continue
                for fn in sorted(os.listdir(os.path.join(gen, bucket_dir))):
                    if not fn.endswith(".parquet"):
                        continue
                    src = os.path.join(gen, bucket_dir, fn)
                    dst = os.path.join(pool, bucket_dir, fn)
                    if os.path.exists(dst):
                        # a shared name MUST be a copied (identical)
                        # file — rewritten buckets use fresh UUIDs.
                        # Full-content compare (r15 ADVICE): a size-only
                        # bare assert is stripped under -O and an
                        # equal-size name collision would silently serve
                        # the earlier generation's bytes to later
                        # versions' time-travel reads.
                        if not filecmp.cmp(src, dst, shallow=False):
                            raise RuntimeError(
                                "merge-table pool collision: "
                                f"v{version} {bucket_dir}/{fn} differs "
                                "byte-wise from the pooled copy — shared "
                                "names must be identical files"
                            )
                    else:
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                        shutil.copyfile(src, dst)
                    refs.append(f"{bucket_dir}/{fn}")
            with open(_vtable_manifest(tmp, version), "w") as fh:
                json.dump(sorted(refs), fh)

    return artifact("merge", sf_dir, stage, part="vtable", inputs=gens)


def _vacuum_expired_versions(
    root: str, keep: tuple[int, ...] = _VACUUM_KEEP_VERSIONS
) -> dict:
    """EXECUTED snapshot expiry + file GC — Delta VACUUM / Iceberg
    expire_snapshots semantics: drop every manifest outside the
    retention set, then delete exactly the pool files no RETAINED
    manifest references. Shared files survive (they are still
    referenced); idempotent by construction (a second pass finds no
    expired manifest and no unreferenced file) — and CRASH-RESUMABLE:
    the GC is driven by the retained manifests alone, so a crash at
    any point (after the manifest unlink, mid file sweep) leaves a
    state the next invocation finishes identically; only external
    deletion of a retained manifest or referenced file can damage the
    root, and that fails the next read loudly rather than serving a
    partial table (the durable-HWM interference philosophy).
    Driver-side O(files) metadata work, prefix-shardable at scale —
    the pipeline_vacuum posture."""
    import json
    import os

    expired_manifests = 0
    for name in sorted(os.listdir(root)):
        if not name.endswith(".manifest.json"):
            continue
        v = int(name.split(".", 1)[0][1:])
        if v not in keep:
            os.unlink(os.path.join(root, name))
            expired_manifests += 1
    referenced: set[str] = set()
    for v in keep:
        with open(_vtable_manifest(root, v)) as fh:
            referenced.update(json.load(fh))
    pool = os.path.join(root, "files")
    deleted = 0
    for bucket_dir in sorted(os.listdir(pool)):
        bdir = os.path.join(pool, bucket_dir)
        for fn in sorted(os.listdir(bdir)):
            if f"{bucket_dir}/{fn}" not in referenced:
                os.unlink(os.path.join(bdir, fn))
                deleted += 1
        if not os.listdir(bdir):
            os.rmdir(bdir)
    return {
        "expired_manifests": expired_manifests,
        "n_files_deleted": deleted,
        "n_files_retained": len(referenced),
    }


def _merge_vacuum_oracle() -> str:
    # the retained generations' time-travel reads, recomputed from the
    # raw event log — the vacuum must leave them EXACTLY as they were
    return f"SELECT * FROM ({_evolve_oracle()}) WHERE version >= 1"


@query("pipeline_merge_vacuum", oracle=_merge_vacuum_oracle())
def pipeline_merge_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED retention GC over the executed-merge table's
    generations — the lakehouse lifecycle's last verb (write → evolve
    → time-travel → VACUUM), and the r14 verdict task #5:
    pipeline_vacuum covers the streaming ledger's orphaned parts; this
    covers SNAPSHOT EXPIRY, the other half of a real table format's
    retention story. The three generations are first laid out the way
    a manifest-backed table physically stores them (_build_vtable: one
    shared ``files/`` pool — copy-on-write means untouched buckets ARE
    the same file across versions — plus one manifest per version);
    then the vacuum EXPIRES v0 past the keep-last-2 retention boundary
    and deletes exactly the pool files no retained manifest references
    (v0's pre-merge state of every bucket generation 1 rewrote; files
    v0 shares with v1/v2 survive, still referenced). Idempotent: a
    re-vacuum finds nothing expired and nothing unreferenced.

    The registered result is the TIME-TRAVEL READ OF EVERY RETAINED
    VERSION, measured from the vacuumed pool THROUGH the manifests
    (explicit file-list reads — exactly what `VERSION AS OF v`
    resolves to; v2 under mergeSchema with the evolved column
    backfilled, v1 under its own pre-column schema), and the oracle
    recomputes both snapshots from the raw event log — a hash match
    therefore PROVES the vacuum deleted nothing any retained version
    needs. The GC's file-level precision (exactly the only-v0 files
    deleted, shared files byte-identical to the published generation
    dirs, v0 manifest gone, re-vacuum a no-op, published dirs
    untouched) is pinned by tests/test_operators.py.

    Scale shape: the vacuum is O(files) driver-side metadata (the
    documented pipeline_vacuum bound — at 100 TB manifests shard by
    prefix and the unreferenced-set difference is a metadata join);
    the snapshot reads are partial-aggregated scans of retained files
    only. Reference grounding: the reference rotates raw CSVs into a
    dated archive prefix and never GCs them (ingestion.py:96-108, its
    O6 layout) — this is the retention story that archive needs at
    scale."""
    import json
    import os

    root = _build_vtable(spark, sf_dir)
    _vacuum_expired_versions(root)  # executed GC; no-op on replay
    pool = os.path.join(root, "files")

    def snapshot(version: int) -> DataFrame:
        with open(_vtable_manifest(root, version)) as fh:
            paths = [os.path.join(pool, rel) for rel in json.load(fh)]
        df = spark.read.option("basePath", pool).option("mergeSchema", "true").parquet(*paths)
        return _evolved_snapshot(version, df)

    return snapshot(1).unionByName(snapshot(2))
