"""Time-series operators — recurrences, gap-fill, resampling and
interpolation over the event stream, each ORACLE-CHECKED and each run
in the JVM.

The trick that keeps a recurrence hash-comparable: an EWMA is a left
fold with a fixed evaluation order, so if BOTH engines fold the same
ordered list with the same IEEE-double lambda — Spark's ``aggregate``
here, DuckDB ``list_reduce`` there — the result is bit-identical, the
same fold-order discipline corpus_ops.py uses for float sums. The sort
key must be UNIQUE ((ts, event_id) tiebreak) or the fold order, and
hence the hash, is undefined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import query
from .streaming_batch import _OHLC_SQL, _ohlc_aggs

_ALPHA = 0.25

_EWMA_SQL = f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           list_reduce(list(value ORDER BY ts, event_id),
                       (s, x) -> {_ALPHA} * x + {1 - _ALPHA} * s)
             AS last_ewma
    FROM events WHERE value IS NOT NULL GROUP BY user_id
"""


@query("pipeline_ewma_smooth", oracle=_EWMA_SQL)
def pipeline_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average over the event
    value stream (α = 0.25, s₀ = x₀): the online smoother behind
    anomaly baselines and rate limiters, and the canonical example of
    a recurrence no window frame can express (each state depends on
    the previous OUTPUT, not a fixed frame of inputs).

    Execution: NULL values drop first (they would fold NaN into every
    later state; an all-NULL user vanishes, like the oracle's WHERE),
    then one ``groupBy(user_id)`` collects each user's (ts, event_id,
    value) structs and ``array_sort`` orders them by the unique
    (ts, event_id) key. ``aggregate`` folds the tail with the head as
    s₀ and s = α·x + (1−α)·s per step — the oracle's ``list_reduce``
    over the identically-ordered list, so the hash certifies the whole
    recurrence step-for-step (same doubles, same order), not just its
    shape. The plan is one hash exchange on user_id and no Python: the
    per-key-sequential/cross-key-parallel pattern, with each user's
    fold inside one task. The streaming form carries (s, n) across
    micro-batches instead (streaming/stateful.py:ewma_stream_bucketed)."""
    vals = F.col("xs.value")
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))).alias("xs"),
        )
        .select(
            "user_id",
            "n_events",
            F.aggregate(
                F.slice(vals, 2, F.size(vals)),
                vals[0],
                lambda s, x: _ALPHA * x + (1 - _ALPHA) * s,
            ).alias("last_ewma"),
        )
    )


# ---------------------------------------------------------------------------
# Hourly gap-fill with last-observation-carried-forward (LOCF)
# ---------------------------------------------------------------------------

_GAPFILL_SQL = """
    WITH ranked AS (
      SELECT user_id, date_trunc('hour', ts) AS h, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ), hourly AS (
      SELECT user_id, h, value AS v FROM ranked WHERE rn = 1
    ), spans AS (
      SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY user_id
    ), grid AS (
      SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM spans
    ), joined AS (
      SELECT g.user_id AS user_id, g.h AS h, hourly.v AS v,
             last_value(hourly.v IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.h
               ROWS UNBOUNDED PRECEDING) AS filled
      FROM grid g
      LEFT JOIN hourly ON g.user_id = hourly.user_id AND g.h = hourly.h
    )
    SELECT user_id, COUNT(*) AS n_hours,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
           MIN(filled) AS min_filled, MAX(filled) AS max_filled
    FROM joined GROUP BY user_id
"""


@query("pipeline_time_gapfill", oracle=_GAPFILL_SQL)
def pipeline_time_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize an irregular event stream onto an hourly grid with
    last-observation-carried-forward — the resampling step feature
    pipelines need before joining time series of different cadences.
    Per user: hourly last-value table (row_number dedup, unique
    (ts, event_id) tiebreak), a `sequence()`-exploded dense grid
    between the user's first and last active hour (≡ the oracle's
    generate_series — both inclusive), a left join marking the ~90%
    missing hours, and `last(v, ignorenulls)` carrying values forward.
    The compact per-user report (hours, imputed count, filled min/max)
    keeps the hash check order-safe with no float arithmetic at all —
    only picks, so LOCF is certified value-for-value.

    Scale shape: one shuffle to the hourly grain, one window exchange
    per user for the carry — the grid explode is map-side (a user's
    span is bounded; the global grid is never materialized
    driver-side). Sparse-but-long users inflate their own partition
    only; the skew remedy is range-splitting the grid per (user,
    month) and carrying the last value across chunk boundaries with a
    second, tiny per-user join — same two-phase trick as
    operators/rank.py's global row_number."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    ranked = ev.select(
        "user_id",
        F.date_trunc("hour", "ts").alias("h"),
        "value",
        F.row_number()
        .over(
            Window.partitionBy("user_id", F.date_trunc("hour", "ts")).orderBy(
                F.desc("ts"), F.desc("event_id")
            )
        )
        .alias("rn"),
    )
    hourly = ranked.filter(F.col("rn") == 1).select("user_id", "h", F.col("value").alias("v"))
    spans = hourly.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = spans.select(
        "user_id",
        F.explode(F.expr("sequence(h0, h1, INTERVAL 1 HOUR)")).alias("h"),
    )
    joined = grid.join(hourly, ["user_id", "h"], "left").withColumn(
        "filled",
        F.last("v", ignorenulls=True).over(
            Window.partitionBy("user_id")
            .orderBy("h")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_imputed"),
        F.min("filled").alias("min_filled"),
        F.max("filled").alias("max_filled"),
    )


@query("pipeline_resample_ohlc", oracle=_OHLC_SQL)
def pipeline_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsampling — the classic time-series resample: per
    (event_type, hour) bucket, the first/last value under the UNIQUE
    (ts, event_id) total order (open/close), the min/max (low/high),
    the event count (volume), and the exact value sum as a
    1e6-quantized integer (the engine's float-sum discipline — raw
    double sums are accumulation-order-dependent and would never hash
    across engines; min/max/first/last are order-insensitive picks of
    EXISTING doubles, so they replay bit-for-bit as-is).

    Spark shape: ONE hash-aggregate exchange — open/close come from
    min_by/max_by on a packed (ts, event_id) struct (SPARK-27653
    aggregates, no window pass), so partial aggregation happens
    map-side and only per-bucket state shuffles. The oracle takes the
    two-window ROW_NUMBER road to the same picks. At 100 TB this is
    the canonical downsample job: state per (type, hour) is O(1), and
    a date-partitioned table prunes the scan to the resample range."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bucket"),
            "value",
            key.alias("k"),
        )
        .groupBy("event_type", "bucket")
        .agg(*_ohlc_aggs("k"))
        .select(
            "event_type",
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "open", "high", "low", "close", "volume", "vsum_q6",
        )
    )


# ---------------------------------------------------------------------------
# pipeline_time_interpolate — linear interpolation of missing grid hours
# ---------------------------------------------------------------------------

_INTERP_SQL = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ), spine AS (
      SELECT event_type,
             unnest(generate_series(min(hr), max(hr), INTERVAL 1 HOUR)) AS hr
      FROM hourly GROUP BY event_type
    ), gridded AS (
      SELECT s.event_type, s.hr, h.cents,
             CAST(epoch(s.hr) AS BIGINT) // 3600 AS hix
      FROM spine s LEFT JOIN hourly h USING (event_type, hr)
    ), bracketed AS (
      SELECT event_type, hr, cents, hix,
             last_value(CASE WHEN cents IS NOT NULL THEN cents END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY hix
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v_prev,
             last_value(CASE WHEN cents IS NOT NULL THEN hix END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY hix
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS h_prev,
             first_value(CASE WHEN cents IS NOT NULL THEN cents END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY hix
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS v_next,
             first_value(CASE WHEN cents IS NOT NULL THEN hix END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY hix
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS h_next
      FROM gridded
    )
    SELECT event_type, hr,
           CASE WHEN cents IS NOT NULL THEN 0 ELSE 1 END AS imputed,
           CASE
             WHEN cents IS NOT NULL THEN cents * 1000
             WHEN v_prev IS NULL OR v_next IS NULL THEN NULL
             ELSE CAST((v_prev * 1000 * (h_next - hix)
                        + v_next * 1000 * (hix - h_prev))
                       // (h_next - h_prev) AS BIGINT)
           END AS millicents
    FROM bracketed
"""


@query("pipeline_time_interpolate", oracle=_INTERP_SQL)
def pipeline_time_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing hours on a dense per-event-type
    grid — the resampling twin of pipeline_time_gapfill (LOCF): a
    missing hour gets the line between its bracketing observed hours,
    in EXACT integer milli-cents (one BIGINT cross-multiplication and
    one floor-division — no float lerp, so the hash certifies every
    imputed value bit-for-bit). Grid edges with no bracket on one side
    stay NULL (the honest contract: extrapolation is a different op).

    Hour arithmetic runs on epoch-hour BIGINTs (epoch // 3600), not
    timestamps, so the gap widths are integers in both engines.

    Plan shape: one aggregate to the hourly grain, a map-side
    sequence() grid explode per event_type, one window exchange for the
    four bracket carries (all four share the (event_type × hix) sort),
    and map-side integer arithmetic — the same single-window bound as
    gapfill. At 100 TB the grid is |types| × hours (tiny vs events);
    per-series skew splits by (type, month) with cross-chunk bracket
    stitching, as documented for gapfill.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    # the hourly frame feeds BOTH the spine aggregate and the grid join;
    # a lazy localCheckpoint cuts the plan at the (tiny) hourly grain so
    # the 2nd consumer reuses it instead of re-scanning the event table
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .localCheckpoint(eager=False)
    )
    spine = hourly.groupBy("event_type").agg(
        F.explode(
            F.sequence(F.min("hr"), F.max("hr"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hr")
    )
    gridded = spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        "cents",
        (F.unix_timestamp("hr") / F.lit(3600)).cast("long").alias("hix"),
    )
    # both bracket carries run as RUNNING frames (unboundedPreceding →
    # -1): Spark computes those incrementally in O(n) per partition,
    # while a (1 → unboundedFollowing) frame RE-SCANS the remainder of
    # the partition per row — O(n²) in hours-per-series (measured 6 s
    # vs 0.3 s on a 7.4k-hour series at sf1). The "next observed"
    # carry is therefore the same running `last` over the REVERSED
    # sort, not a `first` over a following frame.
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("hix")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy(F.col("hix").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    obs_c = F.when(F.col("cents").isNotNull(), F.col("cents"))
    obs_h = F.when(F.col("cents").isNotNull(), F.col("hix"))
    br = gridded.select(
        "event_type",
        "hr",
        "cents",
        "hix",
        F.last(obs_c, ignorenulls=True).over(w_prev).alias("v_prev"),
        F.last(obs_h, ignorenulls=True).over(w_prev).alias("h_prev"),
        F.last(obs_c, ignorenulls=True).over(w_next).alias("v_next"),
        F.last(obs_h, ignorenulls=True).over(w_next).alias("h_next"),
    )
    # exact BIGINT lerp: Spark's `div` is integer division truncating
    # toward zero — the same operator semantics as DuckDB's `//`
    # (verified: -7//2 = -3 in DuckDB) — so the quotient is exact for
    # ALL BIGINT-range numerators.  The previous float path
    # (F.floor(a / b)) promoted the numerator long→double, silently
    # dropping bits once hourly-cents × 1000 × gap-width exceeded 2^53.
    lerp = F.expr(
        "(v_prev * 1000 * (h_next - hix) + v_next * 1000 * (hix - h_prev))"
        " div (h_next - h_prev)"
    ).cast("long")
    return br.select(
        "event_type",
        "hr",
        F.when(F.col("cents").isNotNull(), 0).otherwise(1).alias("imputed"),
        F.when(F.col("cents").isNotNull(), F.col("cents") * 1000)
        .when(F.col("v_prev").isNull() | F.col("v_next").isNull(), F.lit(None))
        .otherwise(lerp)
        .cast("long")
        .alias("millicents"),
    )
