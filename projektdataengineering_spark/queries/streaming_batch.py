"""Streaming-equivalent operators, run in batch mode for driver
determinism (SURVEY.md §2.3 "Streaming-equivalent operators"; grounding
O2 — the reference silently drops late data, we make lateness an
explicit, checkable policy). The same transformation functions run
unmodified under ``readStream`` — see ``streaming/`` and
tests/test_streaming.py for the streaming-mode mirrors.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..streaming import session_windows, sliding_avg, tumbling_counts
from . import query

_DSUM_VALUE = "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"


@query(
    "stream_tumbling_counts",
    oracle=f"""
    SELECT
      date_trunc('hour', ts) AS window_start,
      date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
      event_type,
      COUNT(*) AS n_events,
      {_DSUM_VALUE} AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type. Spark windows are aligned
    to the epoch, so for a whole-hour width they coincide with
    date_trunc('hour') — which is the oracle."""
    return tumbling_counts(load_table(spark, sf_dir, "events"), "1 hour")


@query(
    "stream_sliding_avg",
    oracle="""
    WITH slid AS (
      SELECT
        make_timestamp(
          (epoch_us(ts) // 900000000) * 900000000 - k * 900000000
        ) AS window_start,
        value
      FROM events, range(4) t(k)
    )
    SELECT
      window_start,
      window_start + INTERVAL 1 HOUR AS window_end,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value
    FROM slid
    GROUP BY 1, 2
    """,
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min (each event in exactly 4
    windows). Oracle materializes the same 4 epoch-aligned window starts
    per event via floor-division on epoch microseconds."""
    return sliding_avg(load_table(spark, sf_dir, "events"), "1 hour", "15 minutes")


# 30-minute-gap sessions as gaps-and-islands: the oracle of both
# session-window queries.
_SESSION_SQL = """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sessions
    GROUP BY user_id, sid
"""


@query("stream_session_windows", oracle=_SESSION_SQL)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user via session_window — the batch
    call of the exact operator the streaming mirror uses. Oracle is the
    gaps-and-islands formulation: a new session starts when the gap to
    the previous event is ≥ the inactivity gap (session windows are
    half-open [start, last+gap)), session_end = last event + gap."""
    return session_windows(load_table(spark, sf_dir, "events"), "30 minutes")


@query(
    "stream_late_data_policy",
    oracle="""
    SELECT event_type,
           COUNT(*) FILTER (WHERE ts <  (SELECT MAX(ts) FROM events) - INTERVAL 1 HOUR)
             AS n_dropped,
           COUNT(*) FILTER (WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 1 HOUR)
             AS n_kept
    FROM events
    GROUP BY event_type
    """,
)
def stream_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 made explicit: with the stream head at max(ts) and a 1-hour
    watermark, count per type how many rows would be dropped as late vs
    kept. The head is a 1-row aggregate broadcast back — the scalable
    form of a 'scalar subquery' (no driver round-trip in the plan)."""
    ev = load_table(spark, sf_dir, "events")
    head = ev.agg(F.max("ts").alias("head_ts"))
    cutoff = F.col("head_ts") - F.expr("INTERVAL 1 HOUR")
    return (
        ev.crossJoin(F.broadcast(head))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("ts") < cutoff, 1)).alias("n_dropped"),
            F.count(F.when(F.col("ts") >= cutoff, 1)).alias("n_kept"),
        )
    )


@query(
    "stream_native_tumbling",
    oracle=f"""
    SELECT
      date_trunc('hour', ts) AS window_start,
      date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
      event_type,
      COUNT(*) AS n_events,
      {_DSUM_VALUE} AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_native_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregate executed as an ACTUAL Structured
    Streaming query — readStream file source over the events parquet,
    availableNow trigger, complete-mode memory sink — then returned as
    the sink's rows. Same transformation function, same oracle as
    `stream_tumbling_counts`: the driver hash-check therefore proves
    the unified-API claim (batch plan ≡ streaming plan results) on real
    streaming execution, not just on the batch twin.

    Decimal-exact value sums keep the result bit-stable regardless of
    how the file source micro-batches the input. In production the
    memory sink becomes a checkpointed parquet/Kafka writer and
    availableNow becomes a continuous trigger; state stays bounded
    because completed hour windows stop receiving rows once a
    watermark is attached (see tests/test_streaming.py)."""
    from ..streaming import (
        open_event_stream,
        run_to_memory_sink,
        stream_state_partitions,
        tumbling_counts,
    )

    stream = tumbling_counts(open_event_stream(spark, sf_dir))
    with stream_state_partitions(spark):
        return run_to_memory_sink(
            stream, "stream_native_tumbling_sink", output_mode="complete"
        )


@query(
    "stream_dedup_stateful",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS key,
           MIN(ts) AS first_ts,
           COUNT(*) - 1 AS n_dropped
    FROM events
    GROUP BY user_id
    """,
)
def stream_dedup_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch first-wins dedup executed as a REAL streaming query
    with a CUSTOM STATEFUL OPERATOR — applyInPandasWithState
    (streaming/stateful.py): per-key state remembers the first-seen row
    and counts every later duplicate, the streaming form of the batch
    ``dedup_incremental`` anti-join (reference O4 idempotence made
    continuous). readStream file source → keyed state → update-mode
    memory sink; the sink's per-key LAST update (max n_dropped, and the
    first_ts every update repeats) is the final state, which the
    groupBy below extracts deterministically regardless of how many
    micro-batches the source chose.

    Determinism bound: first-wins in a live stream is processing-order
    defined. Under availableNow over this bounded fixture the whole
    corpus is one replayable batch, so first-seen ≡ global min ts and
    the query is exactly the SQL oracle — which is precisely the
    replay/backfill situation where a pipeline must be idempotent.

    State is hash-partitioned across executors (no single-node key
    set) and BOUNDED: this runs the production shape — watermarked
    input + a 365-day dedup horizon, so a key idle past the horizon is
    swept and state size is ∝ keys active within one horizon, not
    corpus lifetime (the round-6 unbounded-growth finding). The
    fixture spans well under a year, so the horizon never fires here
    and the oracle equality is exact.

    Keyed state is one group of users per state partition
    (streaming/stateful.py bucketed_state: round-trip economics, eager
    horizon sweep). tests/test_streaming.py checks the fold after every
    micro-batch of an ordered multi-file stream against this oracle
    over the rows up to that batch."""
    from ..streaming import (
        open_event_stream,
        run_to_memory_sink,
        stream_no_data_batches,
        stream_state_partitions,
    )
    from ..streaming.stateful import dedup_stream_first_wins_bucketed

    keyed = (
        open_event_stream(spark, sf_dir)
        .select(F.col("user_id").cast("string").alias("key"), "ts")
        .withWatermark("ts", "1 minute")
    )
    # no-data batch scoped off (r19): the 365-day horizon fires zero
    # timeouts inside the fixture span — the final watermark-advance
    # batch re-commits unchanged state and emits nothing
    with stream_state_partitions(spark), stream_no_data_batches(spark):
        sink = run_to_memory_sink(
            dedup_stream_first_wins_bucketed(keyed, horizon="365 days"),
            "stream_dedup_stateful_sink",
            output_mode="update",
        )
    return (
        sink.groupBy("key")
        .agg(
            F.min("first_ts").alias("first_ts"),
            F.max("n_dropped").alias("n_dropped"),
        )
    )


def _view_click_pairs(spark: SparkSession, sf_dir: str, how: str, sink: str) -> DataFrame:
    """Views and clicks of the events feed as two readStream sources
    with 1-hour watermarks, ``how``-joined on user_id with the click in
    (view.ts, view.ts+10min], drained to the append-mode memory sink
    ``sink``; returns the sink's rows. An inner join scopes the
    no-data batch off (r19): its matches are emitted as data arrives
    and the final watermark-advance batch only evicts state (profiled
    sf0.1: rows=0, numRowsUpdated=0, ~5 s of pure store-commit across
    the 16 join stores). Outer joins keep it — there eviction IS the
    emission path."""
    from ..streaming import (
        open_event_stream,
        run_to_memory_sink,
        stream_no_data_batches,
        stream_state_partitions,
    )

    views = (
        open_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    clicks = (
        open_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    pairs = views.join(
        clicks,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
        how,
    )
    no_data = stream_no_data_batches(spark) if how == "inner" else contextlib.nullcontext()
    with stream_state_partitions(spark), no_data:
        return run_to_memory_sink(pairs, sink, output_mode="append")


def _wm_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row, wm_cut = min(max view ts, max click ts) − 2h − 10min:
    the outer joins' data-derived orphan cutoff."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy()
        .agg(
            (
                F.least(
                    F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
                    F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                )
                - F.expr("INTERVAL 2 HOURS")
                - F.expr("INTERVAL 10 MINUTES")
            ).alias("wm_cut")
        )
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id, COUNT(*) AS n_pairs,
           CAST(SUM(date_diff('microsecond', v.ts, c.ts)) AS BIGINT)
             AS sum_gap_us
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      ON c.user_id = v.user_id
     AND c.ts > v.ts
     AND c.ts <= v.ts + INTERVAL 10 MINUTE
    GROUP BY v.user_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→click attribution as a REAL stream-stream interval join —
    two readStream sources over the same events feed (filtered to
    views and clicks), 1-hour watermarks on both sides, joined on
    user_id with the click constrained to (view.ts, view.ts+10min],
    availableNow → append-mode memory sink, then a batch rollup of the
    emitted pairs. The oracle is the equivalent batch self-join, so
    the driver hash proves the streaming join emitted exactly the
    right pair set — no duplicates, no dropped matches.

    Scale shape: Spark keys both state stores by user_id and the
    watermark + time bound let it EVICT view state older than
    watermark−10min (the interval condition gives the range pruning);
    without the time bound the state would grow without limit. Gap
    sums are exact integer µs, immune to emission order."""
    return (
        _view_click_pairs(spark, sf_dir, "inner", "stream_stream_join_sink")
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.unix_micros("c_ts") - F.unix_micros("v_ts"))
            .cast("bigint")
            .alias("sum_gap_us"),
        )
    )


@query(
    "stream_ewma_stateful",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           list_reduce(list(value ORDER BY ts, event_id),
                       (s, x) -> 0.25 * x + 0.75 * s)
             AS last_ewma
    FROM events WHERE value IS NOT NULL GROUP BY user_id
    """,
)
def stream_ewma_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of pipeline_ewma_smooth: the same per-user
    EWMA recurrence (α = 0.25) running as a live stateful streaming
    query — applyInPandasWithState carries (smoothed value, count)
    across micro-batches, so the smoother never recomputes history the
    way the batch job does on every run.

    And it is still HASH-CHECKED: under availableNow over the bounded
    single-file fixture the whole corpus folds through the state in
    one in-order batch, so the final state per key equals the batch
    fold exactly — the oracle is the identical DuckDB list_reduce the
    batch query uses, certifying the cross-batch state machinery
    value-for-value (the rare streaming operator whose correctness the
    driver proves, not just runs). The sink's last update per key is
    extracted with max_by(n_events).

    Ordering bound documented at
    streaming/stateful.py:make_ewma_fold_bucketed: within-batch order is
    pinned by sort; cross-batch order is arrival order — correct for
    time-ordered landing zones, and exact here. tests/test_streaming.py
    checks the fold after every micro-batch of an ordered multi-file
    stream against this oracle over the rows up to that batch."""
    from ..streaming import (
        open_event_stream,
        run_to_memory_sink,
        stream_state_partitions,
    )
    from ..streaming.stateful import ewma_stream_bucketed

    # one state group per state partition (stateful.bucketed_state); the
    # fold runs the batch operator's scalar IEEE recurrence per user
    keyed = open_event_stream(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    with stream_state_partitions(spark):
        sink = run_to_memory_sink(
            ewma_stream_bucketed(keyed, alpha=0.25),
            "stream_ewma_stateful_sink",
            output_mode="update",
        )
    return (
        sink.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.expr("max_by(last_ewma, n_events)").alias("last_ewma"),
        )
    )


_STREAM_MG_K = 400
_STREAM_MG_BUCKETS = 8


@query(
    "stream_heavy_hitters",
    oracle="""
    WITH c AS (
      SELECT CAST(user_id AS VARCHAR) AS term, COUNT(*) AS exact_count
      FROM events GROUP BY 1
    )
    SELECT term, exact_count, TRUE AS in_summary, TRUE AS within_bound
    FROM c ORDER BY exact_count DESC, term LIMIT 10
    """,
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters as a STREAMING stateful operator —
    sketches as keyed state (streaming/stateful.py:heavy_hitters_stream):
    the term space (user ids here — "who dominates event volume") is
    hash-bucketed, each bucket's applyInPandasWithState state is one
    MG(k) counter summary folded continuously across micro-batches.
    State is buckets × k counters FOREVER — the streaming sketch's
    whole point: an unbounded stream of an unbounded term space tracked
    in fixed memory, vs stream_dedup_stateful's per-key state that
    needs a watermark horizon to stay bounded.

    Certification (the agg_heavy_hitters_mg playbook): exact top-10
    terms/counts (SQL-replayable) stamped with the MG theorems —
    ``in_summary`` (a term lives in exactly ONE bucket, so any term
    with exact > n/(k+1) ≥ n_bucket/(k+1) must survive that bucket's
    summary) and ``within_bound`` ((exact − est)·(k+1) ≤ n, integer
    arithmetic). Both hold regardless of micro-batch boundaries,
    arrival order, or parallelism — counter values wobble, theorems
    don't. The update-mode sink accumulates every batch's emission;
    each bucket's max-batch_no rows are its final summary.

    The 1-row corpus total broadcasts onto the 10 certified rows —
    the allowlisted scalar-broadcast shape."""
    from ..streaming import (
        open_event_stream,
        run_to_memory_sink,
        stream_state_partitions,
    )
    from ..streaming.stateful import heavy_hitters_stream

    keyed = open_event_stream(spark, sf_dir).select(
        F.pmod(F.hash(F.col("user_id").cast("string")), F.lit(_STREAM_MG_BUCKETS))
        .cast("int")
        .alias("bucket"),
        F.col("user_id").cast("string").alias("term"),
    )
    with stream_state_partitions(spark):
        sink = run_to_memory_sink(
            heavy_hitters_stream(keyed, k=_STREAM_MG_K),
            "stream_heavy_hitters_sink",
            output_mode="update",
        )
    w = Window.partitionBy("bucket")
    summary = (
        sink.withColumn("mx", F.max("batch_no").over(w))
        .filter(F.col("batch_no") == F.col("mx"))
        .select("term", "est")
    )

    ev = load_table(spark, sf_dir, "events")
    top10 = (
        ev.groupBy(F.col("user_id").cast("string").alias("term"))
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("term"))
        .limit(10)
    )
    n_total = ev.agg(F.count(F.lit(1)).alias("n"))
    return (
        top10.join(summary, "term", "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            "term",
            "exact_count",
            F.col("est").isNotNull().alias("in_summary"),
            (
                F.col("est").isNotNull()
                & (F.col("est") <= F.col("exact_count"))
                & (
                    (F.col("exact_count") - F.col("est")) * (_STREAM_MG_K + 1)
                    <= F.col("n")
                )
            ).alias("within_bound"),
        )
    )


@query(
    "stream_cdc_stateful",
    oracle="""
    WITH r AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_del,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rnd,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS dels_inc,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id) AS BIGINT) AS n_dels
      FROM events
    )
    SELECT CAST(user_id AS VARCHAR) AS key,
           MAX(n_dels) AS n_tombstones,
           MAX(CASE WHEN rnd = 1 THEN is_del END) = 0 AS alive,
           MAX(CASE WHEN rnd = 1 THEN event_type END) AS last_event_type,
           CAST(SUM(CASE WHEN is_del = 0 AND dels_inc = n_dels
                         THEN 1 ELSE 0 END) AS BIGINT) AS gen_events,
           CAST(COUNT(*) AS BIGINT) AS n_seen
    FROM r GROUP BY user_id
    """,
)
def stream_cdc_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply as a REAL streaming query with a custom
    per-key state machine (streaming/stateful.py:cdc_apply_stream_bucketed):
    'error' tombstones close a generation, upserts extend it, and the
    keyed state carries O(1) scalars per key — the continuous form of
    the batch pipeline_cdc_apply (same tombstone convention, same
    generation semantics), i.e. the reference's append-only JDBC sink
    upgraded to a continuously-maintained MERGE target.

    Emits EVERY key with its final (alive, tombstone count, open-
    generation size, last op) — dead keys included, which is what a
    downstream sink needs to DELETE them; the batch twin materializes
    only the surviving rows.

    Determinism bound: a CDC fold is order-defined, so the oracle
    equality holds under ordered replay (availableNow over the
    bounded fixture — one batch, rows sorted in the fold); the
    multi-batch state-machine path (generation counts carried across
    ordered batches, tombstone-at-boundary) is checked in
    tests/test_streaming.py after every micro-batch of an ordered
    multi-file stream against this oracle over the rows up to that
    batch.
    Production shape: watermarked input + 365-day idle horizon so
    state stays ∝ active keys (the dedup-horizon contract, max-ts
    anchored monotone eviction)."""
    from ..streaming import (
        open_event_stream,
        run_to_memory_sink,
        stream_no_data_batches,
        stream_state_partitions,
    )
    from ..streaming.stateful import cdc_apply_stream_bucketed

    # One state group per state partition (stateful.bucketed_state).
    # The final no-data batch is scoped off: the 365-day horizon can
    # fire zero timeouts inside the fixture span, so that batch
    # re-commits unchanged state and emits nothing (profiled: rows=0,
    # ~1.9 s of plan+store-commit).
    keyed = (
        open_event_stream(spark, sf_dir)
        .select(
            F.col("user_id").cast("string").alias("key"), "ts", "event_id", "event_type"
        )
        .withWatermark("ts", "1 minute")
    )
    with stream_state_partitions(spark), stream_no_data_batches(spark):
        sink = run_to_memory_sink(
            cdc_apply_stream_bucketed(keyed, horizon="365 days"),
            "stream_cdc_stateful_sink",
            output_mode="update",
        )
    return (
        sink.groupBy("key")
        .agg(
            F.expr("max_by(n_tombstones, n_seen)").alias("n_tombstones"),
            F.expr("max_by(alive, n_seen)").alias("alive"),
            F.expr("max_by(last_event_type, n_seen)").alias("last_event_type"),
            F.expr("max_by(gen_events, n_seen)").alias("gen_events"),
            F.max("n_seen").alias("n_seen"),
        )
    )


# OHLC downsampling: exact-order open/close via arg-min/max on the
# unique (ts, event_id) key; volume-sum via the engine's float
# discipline (1e6-quantized integer numerators, DECIMAL(38,0) sums).
# The oracle and bar aggregates of stream_ohlc_native and its batch
# twin timeseries.pipeline_resample_ohlc.
_OHLC_Q = 10**6

_OHLC_SQL = f"""
    WITH ranked AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(bucket AS VARCHAR) AS bucket_start,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_z = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS volume,
           CAST(SUM(CAST(floor(value * {_OHLC_Q} + 0.5) AS DECIMAL(38,0)))
                AS BIGINT) AS vsum_q6
    FROM ranked
    GROUP BY event_type, bucket
"""


def _ohlc_aggs(key) -> list:
    """open/high/low/close/volume/vsum_q6 of ``value`` per bar, with
    open/close picked by min_by/max_by over the unique ``key``."""
    return [
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
        F.count(F.lit(1)).cast("long").alias("volume"),
        F.sum(
            F.floor(F.col("value") * _OHLC_Q + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        )
        .cast("long")
        .alias("vsum_q6"),
    ]


@query("stream_ohlc_native", oracle=_OHLC_SQL)
def stream_ohlc_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsampling executed as an ACTUAL Structured
    Streaming query — the streaming twin of pipeline_resample_ohlc,
    same oracle: min_by/max_by on the unique (ts, event_id) struct run
    as STREAMING AGGREGATE STATE (each window's open/close candidates
    fold incrementally across micro-batches — the arg-min/max pair is
    O(1) state per bar, exactly what a live market-data/telemetry
    rollup keeps), with the quantized-decimal volume sum making the
    result micro-batch-partition independent. readStream file source →
    availableNow → complete-mode memory sink; the driver hash-check
    proves batch plan ≡ streaming plan on real streaming execution.
    In production the window gets a watermark so closed bars evict
    (tests/test_streaming.py pins the eviction shape for the tumbling
    family this query extends)."""
    from ..streaming import (
        open_event_stream,
        run_to_memory_sink,
        stream_state_partitions,
    )

    ev = open_event_stream(spark, sf_dir).filter(F.col("value").isNotNull())
    key = F.struct(F.col("ts"), F.col("event_id"))
    bars = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(*_ohlc_aggs(key))
        .select(
            "event_type",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "open", "high", "low", "close", "volume", "vsum_q6",
        )
    )
    with stream_state_partitions(spark):
        return run_to_memory_sink(bars, "stream_ohlc_native_sink", output_mode="complete")


# The outer-join oracles' click side and their data-derived orphan
# cutoff (the SQL of ``_wm_cut``), after their `views` CTE.
_CLICKS_CUT_CTES = """clicks AS (
      SELECT user_id AS c_user, ts AS c_ts FROM events
      WHERE event_type = 'click'
    ), cut AS (
      SELECT least((SELECT max(v_ts) FROM views),
                   (SELECT max(c_ts) FROM clicks))
             - INTERVAL 2 HOUR - INTERVAL 10 MINUTE AS wm_cut
    )"""

_SSLJ_SQL = f"""
    WITH views AS (
      SELECT user_id AS v_user, ts AS v_ts, event_id AS v_id
      FROM events WHERE event_type = 'view'
    ), {_CLICKS_CUT_CTES}, joined AS (
      SELECT v.v_user, v.v_ts, c.c_ts
      FROM views v LEFT JOIN clicks c
        ON c.c_user = v.v_user
       AND c.c_ts > v.v_ts
       AND c.c_ts <= v.v_ts + INTERVAL 10 MINUTE
    )
    SELECT v_user AS user_id,
           CAST(COUNT(c_ts) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(CASE WHEN c_ts IS NOT NULL
                 THEN epoch_us(c_ts) - epoch_us(v_ts) END), 0) AS BIGINT)
             AS sum_gap_us,
           CAST(SUM(CASE WHEN c_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphans
    FROM joined, cut
    WHERE c_ts IS NOT NULL OR v_ts <= wm_cut
    GROUP BY v_user
"""


@query("stream_stream_left_join", oracle=_SSLJ_SQL)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the state-EVICTION
    half of the streaming join surface that stream_stream_join
    (inner) doesn't exercise: a view with no click within 10 minutes
    must be emitted null-padded, and Spark can only do that when the
    watermark proves no future click can match, i.e. outer results
    are produced by state eviction itself.

    End-of-stream honesty: near the stream's end the watermark never
    advances far enough to evict the last views, so Spark withholds
    their null-padded rows — the result would depend on trigger
    timing. The query therefore applies an EXPLICIT data-derived
    cutoff: orphan views count only when v_ts ≤ min(max v_ts, max
    c_ts) − 2h − 10min, strictly below every emission threshold any
    trigger schedule can produce (1h watermark + 10min bound + 1h
    margin), so the kept set is a pure function of the DATA and the
    batch oracle replays it row for row. Matched pairs pass through
    unfiltered (inner results never depend on eviction).

    Scale shape: both state stores key on user_id; the watermark plus
    the 10-minute bound range-prune view state (same eviction math as
    the inner join). The 1-row cutoff broadcast is the allowlisted
    scalar pattern.
    """
    emitted = _view_click_pairs(spark, sf_dir, "left_outer", "stream_stream_left_join_sink")
    kept = emitted.crossJoin(F.broadcast(_wm_cut(spark, sf_dir))).filter(
        F.col("c_ts").isNotNull() | (F.col("v_ts") <= F.col("wm_cut"))
    )
    return kept.groupBy(F.col("v_user").alias("user_id")).agg(
        F.count("c_ts").cast("long").alias("n_pairs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("c_ts").isNotNull(),
                    F.unix_micros("c_ts") - F.unix_micros("v_ts"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("sum_gap_us"),
        F.sum(F.when(F.col("c_ts").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_orphans"),
    )


_SSFJ_SQL = f"""
    WITH views AS (
      SELECT user_id AS v_user, ts AS v_ts FROM events
      WHERE event_type = 'view'
    ), {_CLICKS_CUT_CTES}, joined AS (
      SELECT v.v_user, v.v_ts, c.c_user, c.c_ts
      FROM views v FULL JOIN clicks c
        ON c.c_user = v.v_user
       AND c.c_ts > v.v_ts
       AND c.c_ts <= v.v_ts + INTERVAL 10 MINUTE
    )
    SELECT COALESCE(v_user, c_user) AS user_id,
           CAST(SUM(CASE WHEN v_ts IS NOT NULL AND c_ts IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(CASE WHEN v_ts IS NOT NULL AND c_ts IS NOT NULL
                 THEN epoch_us(c_ts) - epoch_us(v_ts) END), 0) AS BIGINT)
             AS sum_gap_us,
           CAST(SUM(CASE WHEN c_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_view_orphans,
           CAST(SUM(CASE WHEN v_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_click_orphans
    FROM joined, cut
    WHERE (v_ts IS NOT NULL AND c_ts IS NOT NULL)
       OR (c_ts IS NULL AND v_ts <= wm_cut)
       OR (v_ts IS NULL AND c_ts <= wm_cut)
    GROUP BY COALESCE(v_user, c_user)
"""


@query("stream_stream_full_outer", oracle=_SSFJ_SQL)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join — eviction on BOTH state
    stores at once, the last join mode the streaming surface was
    missing (inner: stream_stream_join; left: stream_stream_left_join):
    a view with no click within its 10-minute horizon AND a click with
    no preceding view both surface null-padded, and each can only be
    emitted when the OTHER side's watermark proves no future match —
    outer rows on both sides are produced by state eviction itself.

    End-of-stream honesty, doubled: near the stream's end neither
    side's last rows can be proven unmatched under any trigger
    schedule, so BOTH orphan families pass the same data-derived
    cutoff used by the left join — min(max v_ts, max c_ts) − 2h −
    10min, strictly below every emission threshold either state store
    can produce (1h watermark + 10min bound + 1h margin). The kept set
    is a pure function of the data; the batch oracle replays the full
    outer join row for row. Matched pairs pass unfiltered.

    Scale shape: identical to the left join — both stores key on
    user_id, the watermark + interval bound range-prunes both; the
    only addition is the click-side eviction emitting its own
    residuals, which costs nothing beyond what the store already
    tracked."""
    emitted = _view_click_pairs(spark, sf_dir, "full_outer", "stream_stream_full_outer_sink")
    matched = F.col("v_ts").isNotNull() & F.col("c_ts").isNotNull()
    kept = emitted.crossJoin(F.broadcast(_wm_cut(spark, sf_dir))).filter(
        matched
        | (F.col("c_ts").isNull() & (F.col("v_ts") <= F.col("wm_cut")))
        | (F.col("v_ts").isNull() & (F.col("c_ts") <= F.col("wm_cut")))
    )
    return kept.groupBy(
        F.coalesce(F.col("v_user"), F.col("c_user")).alias("user_id")
    ).agg(
        F.sum(F.when(matched, 1).otherwise(0)).cast("long").alias("n_pairs"),
        F.coalesce(
            F.sum(
                F.when(matched, F.unix_micros("c_ts") - F.unix_micros("v_ts"))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("sum_gap_us"),
        F.sum(F.when(F.col("c_ts").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_view_orphans"),
        F.sum(F.when(F.col("v_ts").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_click_orphans"),
    )


_SDWW_SQL = """
    WITH k AS (
      SELECT user_id, event_type, date_trunc('hour', ts) AS h,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type, CAST(CAST(h AS DATE) AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dupes_dropped
    FROM k GROUP BY 1, 2
"""


@query("stream_dedup_within_watermark", oracle=_SDWW_SQL)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark`` — the
    BOUNDED-STATE twin of stream_dedup_stateful: state for a key is
    held only until the watermark passes its event time plus the
    delay, so the store's footprint tracks the dedup horizon instead
    of the full key history — the form production pipelines actually
    deploy against at-least-once sources, where duplicates cluster
    within a bounded lag of the original.

    Dedup key: (user_id, event_type, event-time hour) — re-fires of
    the same logical event land in the same key; all occurrences of a
    key sit within its one-hour bucket. Determinism contract: which
    PHYSICAL duplicate survives is schedule-dependent (first arrival
    wins), so the query emits only the KEY, and the delay is chosen
    ≥ the fixture's whole span so no eviction-resurrection can split a
    key under any micro-batch partitioning — the emitted key set is
    exactly the distinct key set, a pure function of the data (the
    production delay is the dedup horizon; semantics per key are
    identical). The eviction/resurrection behavior itself is pinned by
    tests/test_streaming.py with an explicit two-batch replay.

    The audit joins the emitted keys back to the batch table: per
    (event_type, day), keys kept vs raw events vs duplicates dropped —
    the dedup yield report. Scale shape: one keyed exchange into the
    dedup state store; the audit is two partial-aggregated scans."""
    from ..streaming import (
        open_event_stream,
        run_to_memory_sink,
        stream_state_partitions,
    )

    keyed = (
        open_event_stream(spark, sf_dir)
        .select(
            "user_id",
            "event_type",
            F.date_trunc("hour", "ts").alias("h"),
            "ts",
        )
        .withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "h"])
        .select("user_id", "event_type", "h")
    )
    # no-data batch scoped off (r19): dropDuplicatesWithinWatermark
    # emits each kept key in the data batch that first sees it; the
    # final watermark-advance batch only evicts store entries
    from ..streaming import stream_no_data_batches

    with stream_state_partitions(spark), stream_no_data_batches(spark):
        kept = run_to_memory_sink(
            keyed, "stream_dedup_within_watermark_sink", output_mode="append"
        )
    per_group_keys = kept.groupBy(
        "event_type", F.col("h").cast("date").cast("string").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    ev = load_table(spark, sf_dir, "events")
    per_group_events = ev.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").cast("date").cast("string").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    return per_group_keys.join(per_group_events, ["event_type", "day"]).select(
        "event_type",
        "day",
        "n_keys",
        "n_events",
        (F.col("n_events") - F.col("n_keys")).cast("long").alias("n_dupes_dropped"),
    )


# ---------------------------------------------------------------------------
# stream_session_native (round 12) — session_window under a REAL
# readStream: the one stateful window class whose state MERGES
# ---------------------------------------------------------------------------



@query("stream_session_native", oracle=_SESSION_SQL)
def stream_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user executed as a REAL streaming
    query — readStream file source → the SAME session_windows
    transform the batch twin (stream_session_windows) registers →
    availableNow → complete-mode memory sink.

    Why this entry exists when the batch twin is already
    hash-certified: session_window is the one window class Structured
    Streaming treats specially — its state MERGES (two open sessions
    for a key collapse when a bridging event arrives), unlike
    tumbling/sliding windows whose state only accumulates, and that
    merge path simply never executes in batch mode. This query runs
    it for real; tests/test_streaming.py additionally pins the
    cross-micro-batch merge with a two-batch fixture (a bridging
    event in batch 2 must fuse batch 1's session with the new rows
    into ONE longer session).

    Determinism: complete mode re-emits the full session table each
    micro-batch, so the sink's final content is the final state
    regardless of how the file source batched the input; decimal-exact
    value sums keep the hash stable. At 100 TB the sink becomes a
    checkpointed writer, the mode becomes append + withWatermark (late
    sessions evict at the watermark — the O2 policy made explicit),
    and state stays ∝ OPEN sessions, not history."""
    from ..streaming import (
        open_event_stream,
        run_to_memory_sink,
        session_windows,
        stream_state_partitions,
    )

    stream = session_windows(open_event_stream(spark, sf_dir))
    # 8 state partitions, not the family default 4: session state is
    # (users × sessions)-sized — an order beyond the other stateful
    # queries' per-key rows — and the store-count trade flips earlier
    # (measured warm: sf0.1 1.8→1.3 s, sf1 5.5→3.9 s at 4→8; the
    # per-deployment sizing rule lives on stream_state_partitions)
    with stream_state_partitions(spark, 8):
        return run_to_memory_sink(
            stream, "stream_session_native_sink", output_mode="complete"
        )
