"""Custom stateful streaming operator via applyInPandasWithState —
the engine's pattern for semantics Structured Streaming's built-in
windows can't express.

The operator here is *stateful cross-batch dedup with first-wins
semantics*: emit each key's FIRST-seen row, remember seen keys, drop
every later duplicate (optionally with a state TTL so the key set
doesn't grow unboundedly). This is the streaming form of the batch
``dedup_incremental`` anti-join (operators/incremental.py O4 fix):
instead of re-joining each batch against an ever-growing warehouse,
the "existing keys" side lives in Spark's keyed state store.

Scale notes: state is partitioned by key across executors exactly like
a shuffle — no single-node key set. State size is bounded by the TTL
(processing-time here, to keep the operator deterministic under replay
give keys an event-time watermark instead). Arrow batches flow per key
group; the per-group pandas work is O(rows in batch).

Every high-cardinality keyed fold (dedup, CDC, EWMA, attribution and
the corpus-delta first-wins kernel) runs through ONE combinator,
:func:`bucketed_state`; each operator supplies only its vectorized fold
body. The per-key operators stay as the semantics references the tests
compare against.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# ---------------------------------------------------------------------------
# bucketed_state: keyed state at STATE-PARTITION granularity
# ---------------------------------------------------------------------------
#
# applyInPandasWithState pays one Python/Arrow round-trip per GROUP per
# micro-batch, and with one group per key that round-trip was the whole
# cost of every keyed fold profiled (dedup at sf1: 9.9 s; attribution at
# sf1: 18.7 → 3.2 s once bucketed; CDC at sf0.1: 12.6 s of state update
# time against ~0.2 s of fold arithmetic). So keys share state groups: a
# group's state holds its keys' values as parallel arrays (state-schema
# arrays stay primitive), and the fold body sees the group's whole batch
# as one frame, grouped by key inside pandas. Keys stay fully
# independent — co-residence never mixes their state.
#
# The combinator alone assigns groups, one per state partition: with n =
# spark.sql.shuffle.partitions when the frame is built (the count
# stream_state_partitions scopes and Spark pins into the checkpoint), a
# key's group is ids[pmod(hash(key), n)], ids[j] being the smallest int
# Spark's hash partitioner sends to partition j. Each state task thus pays
# the ~9 ms per-group round-trip once per micro-batch, and state width
# scales with n. (The per-TASK Python worker cost is the worker daemon's,
# worker_daemon.py.)
#
# Horizon semantics are the EAGER form of the per-key operators' lazy
# Spark timeout: expired keys (max_us + horizon < watermark) are swept
# at the START of every group invocation, before the new rows fold, so a
# re-arrival after expiry is ALWAYS a fresh history. (Spark's per-key
# timeout fires only in a batch where the key has no data; the eager
# sweep is deterministic under replay, the stricter contract.) Idle
# groups are swept by a group-level event-time timeout armed at the
# group's earliest key deadline.

# Kept only because perfbench/etl.py imports it to build a bucket column
# (which bucketed_state replaces); remove with the next benchmark change.
DEDUP_BUCKETS = 64

_PANDAS_DTYPES = {
    "string": object,
    "long": "int64",
    "double": "float64",
    "boolean": "bool",
}


def to_epoch_us(ts: pd.Series) -> np.ndarray:
    """Event time as int64 epoch microseconds, Spark's TIMESTAMP unit.
    The unit is pinned by the cast, not assumed: Arrow hands pandas
    datetime64[ns] or datetime64[us] depending on the versions in play,
    and both floor to the same µs."""
    return ts.to_numpy(dtype="datetime64[us]").view("int64")


def _upsert(st: pd.DataFrame, upd: pd.DataFrame) -> pd.DataFrame:
    """``st`` with the rows of ``upd`` replacing or adding their keys."""
    return pd.concat([st[~st.index.isin(upd.index)], upd])


def _key_runs(batch: pd.DataFrame, key: str):
    """Group a batch's rows by key for an order-defined fold: returns
    (distinct keys sorted, row order, run bounds) where key i's rows are
    ``order[bounds[i]:bounds[i + 1]]`` in (ts, event_id) order."""
    codes, keys = pd.factorize(batch[key], sort=True)
    order = np.lexsort((batch["event_id"].to_numpy(), to_epoch_us(batch["ts"]), codes))
    bounds = np.r_[0, np.cumsum(np.bincount(codes, minlength=len(keys)))]
    return pd.Index(keys, name=key), order, bounds


@functools.cache
def _group_ids(spark, n: int) -> tuple[int, ...]:
    """ids[j]: the smallest non-negative int that Spark's hash partitioner
    sends to partition j, from its own pmod(hash(i), n) over an inline
    table (evaluated on the driver, no job)."""
    k = 8 * n
    while True:
        values = ", ".join(f"({i})" for i in range(k))
        rows = spark.sql(f"SELECT i, pmod(hash(i), {n}) FROM VALUES {values} AS t(i)").collect()
        first = {p: i for i, p in sorted(rows, reverse=True)}  # the smallest i wins
        if len(first) == n:
            return tuple(first[j] for j in range(n))
        k *= 2


def bucketed_state(
    keyed: DataFrame,
    fold,
    *,
    state_fields: str,
    out_schema: str,
    horizon: str | None = None,
    output_mode: str = "update",
) -> DataFrame:
    """Run ``fold`` as keyed state, one group per state partition (see
    above; a ``bucket`` column of ``keyed`` is replaced). Build and start
    inside one ``stream_state_partitions`` scope: the count is part of
    the checkpoint's identity. A restart built at another count than the
    checkpoint pins fails the micro-batch when a group runs on another
    partition than the built count gives it, or has state stored at
    another count. Neither check sees a fresh group that the pinned
    count places where the built one would (the pinned count divides the
    built one), so a batch made only of such keys still re-homes them.

    ``state_fields`` is the per-key state as DDL over primitive types;
    its first field names the key column of ``keyed``. On each group
    invocation the combinator decodes the group's parallel-array state
    into one table indexed by key, sweeps expired keys, and calls
    ``fold(batch, st)`` with the group's non-empty micro-batch rows as
    one frame. The fold returns ``(new_st, out)``: the whole new state
    table in the same layout, and the rows to emit (``None`` for none),
    columns in ``out_schema`` order. The combinator writes the state back
    sorted by key, or removes it when no key is left.

    With a ``horizon`` (pandas-Timedelta syntax, e.g. "365 days") the
    input must carry ``ts`` under ``withWatermark``; the combinator keeps
    each key's max event time and applies the eager sweep described
    above. Without one the watermark is never read, so non-watermarked
    streams work."""
    fields = [f.split() for f in state_fields.split(",")]
    if horizon is not None:
        fields.append(["max_us", "long"])
    names = [n for n, _ in fields]
    key, carried = names[0], names[1:]
    dtypes = {n: _PANDAS_DTYPES[t] for n, t in fields}
    horizon_us = None if horizon is None else pd.Timedelta(horizon).value // 1_000
    spark = keyed.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    group_ids = _group_ids(spark, parts)
    ids = F.array(*(F.lit(i) for i in group_ids))

    def _run(group, pdf_iter, state: GroupState):
        p = TaskContext.get().partitionId()
        if p >= parts or group_ids[p] != group[0]:
            raise ValueError(
                f"keyed state group {group[0]} runs on state partition {p} of a "
                f"checkpoint pinned at another count, query built at {parts}: "
                "rebuild at the pinned count or use a new checkpoint"
            )
        cols = [[] for _ in names]
        if state.exists:
            stored, *cols = state.get
            if stored != parts:
                raise ValueError(
                    f"keyed state stored at {stored} state partitions, query "
                    f"built at {parts}: rebuild at {stored} or use a new checkpoint"
                )
        st = pd.DataFrame(
            {n: np.asarray(v, dtype=dtypes[n]) for n, v in zip(carried, cols[1:])},
            index=pd.Index(cols[0], dtype=dtypes[key], name=key),
        )
        if horizon_us is not None:
            wm_us = state.getCurrentWatermarkMs() * 1_000
            if wm_us > 0:
                st = st[st["max_us"] + horizon_us >= wm_us]

        out = None
        frames = [] if state.hasTimedOut else [p for p in pdf_iter if len(p)]
        if frames:
            batch = pd.concat(frames, ignore_index=True)
            if horizon_us is None:
                st, out = fold(batch, st)
            else:
                seen = st["max_us"]
                st, out = fold(batch, st.drop(columns="max_us"))
                batch_max = pd.Series(to_epoch_us(batch["ts"])).groupby(batch[key]).max()
                never = np.iinfo("int64").min
                st = st.assign(
                    max_us=np.maximum(
                        seen.reindex(st.index, fill_value=never),
                        batch_max.reindex(st.index, fill_value=never),
                    )
                )

        if len(st) == 0:
            state.remove()
        else:
            st = st.sort_index()
            state.update((parts, st.index.tolist(), *(st[c].tolist() for c in carried)))
            if horizon_us is not None:
                # Spark requires a timeout strictly beyond the watermark
                deadline_ms = (int(st["max_us"].min()) + horizon_us) // 1_000
                state.setTimeoutTimestamp(
                    max(deadline_ms, state.getCurrentWatermarkMs() + 1)
                )
        return iter(() if out is None or len(out) == 0 else (out,))

    keyed = keyed.withColumn("bucket", ids[F.pmod(F.hash(key), F.lit(parts))])
    return keyed.groupBy("bucket").applyInPandasWithState(
        _run,
        outputStructType=out_schema,
        stateStructType="partitions int, " + ", ".join(f"{n} array<{t}>" for n, t in fields),
        outputMode=output_mode,
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if horizon_us is None
            else GroupStateTimeout.EventTimeTimeout
        ),
    )


# Output/state schemas for the dedup operator over (key, ts, payload).
# max_ts = the largest event time EVER seen for the key: the eviction
# deadline anchors to it, not to the current batch's max, so an
# out-of-order (within-watermark) batch of older rows can never move
# the timeout backward and evict a key before last-occurrence+horizon.
DEDUP_OUTPUT_SCHEMA = "key string, first_ts timestamp, n_dropped long"
DEDUP_STATE_SCHEMA = (
    "seen boolean, first_ts timestamp, n_dropped long, max_ts timestamp"
)


def _make_dedup_first_wins(horizon: "pd.Timedelta | None"):
    """Factory for the first-wins fold. With a ``horizon`` the key's
    state carries an event-time timeout of (last-seen ts + horizon):
    once the stream's watermark passes it, Spark calls the fold with
    ``hasTimedOut`` and the state is REMOVED — the eviction that keeps
    the seen-key set bounded by the keys active inside one horizon
    instead of growing forever (the 100-TB contract: state size ∝
    active keys × horizon, not corpus lifetime).

    Dedup-horizon semantics (document to consumers): a duplicate is
    suppressed only while its key stays warm — i.e. arrives within
    ``horizon`` of the key's LAST occurrence (idle-anchored, so an
    active key never expires mid-activity). A re-arrival after the
    horizon is re-emitted as a fresh first — the standard bounded-
    horizon dedup contract (exact-once only within the horizon)."""

    def _fold(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            # watermark passed last_seen + horizon with no new rows:
            # evict — the key's next occurrence starts a fresh "first"
            state.remove()
            return iter(())
        n_new = 0
        first_ts = None
        last_ts = None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            batch_min = pdf["ts"].min()
            batch_max = pdf["ts"].max()
            first_ts = batch_min if first_ts is None else min(first_ts, batch_min)
            last_ts = batch_max if last_ts is None else max(last_ts, batch_max)
            n_new += len(pdf)
        if n_new == 0:
            return iter(())

        if state.exists:
            seen, prev_first, dropped, prev_max = state.get
            # idle-anchor on the max event time ever seen: late
            # (within-watermark) batches of older rows must not shrink
            # the eviction horizon
            max_ts = max(pd.Timestamp(prev_max), last_ts)
            state.update((True, prev_first, dropped + n_new, max_ts))
            out = pd.DataFrame(
                {"key": [key[0]], "first_ts": [prev_first], "n_dropped": [dropped + n_new]}
            )
        else:
            max_ts = last_ts
            state.update((True, first_ts, n_new - 1, max_ts))
            out = pd.DataFrame(
                {"key": [key[0]], "first_ts": [first_ts], "n_dropped": [n_new - 1]}
            )
        if horizon is not None:
            state.setTimeoutTimestamp(int((max_ts + horizon).value // 1_000_000))
        return iter((out,))

    return _fold


def dedup_stream_first_wins(keyed: DataFrame, horizon: str | None = None) -> DataFrame:
    """Apply the stateful first-wins dedup to a streaming DataFrame with
    columns (key string, ts timestamp, ...). Output mode: update.

    ``horizon`` (e.g. "30 days", pandas-Timedelta syntax) bounds state:
    keys idle past it are evicted at the watermark (the input stream
    MUST carry ``withWatermark`` on ts) and a later re-arrival is
    re-emitted as a fresh first — see _make_dedup_first_wins for the
    exact dedup-horizon contract. Without it state never expires
    (bounded-replay / test use only — never run an unbounded production
    stream without a horizon)."""
    return keyed.groupBy("key").applyInPandasWithState(
        _make_dedup_first_wins(pd.Timedelta(horizon) if horizon else None),
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if horizon
            else GroupStateTimeout.NoTimeout
        ),
    )


# Bucketed first-wins dedup: identical emissions to
# dedup_stream_first_wins while no horizon expiry fires (always, when
# horizon=None). Where a deadline passes, bucketed_state's eager sweep
# makes a key re-arriving in the batch its deadline expired a fresh
# first, where the per-key operator's lazy timeout counts a duplicate.
def _dedup_fold(batch: pd.DataFrame, st: pd.DataFrame):
    g = pd.Series(to_epoch_us(batch["ts"])).groupby(batch["key"])
    first = g.min()
    prev = st.reindex(first.index, fill_value=0)
    upd = pd.DataFrame(
        {
            # a carried key keeps its first_us; counts add up
            "first_us": np.where(first.index.isin(st.index), prev["first_us"], first),
            "n_seen": prev["n_seen"] + g.size(),
        },
        index=first.index,
    )
    return _upsert(st, upd), pd.DataFrame(
        {
            "key": upd.index,
            "first_ts": pd.to_datetime(upd["first_us"].to_numpy(), unit="us"),
            "n_dropped": upd["n_seen"].to_numpy() - 1,
        }
    )


def dedup_stream_first_wins_bucketed(
    keyed: DataFrame, horizon: str | None = None
) -> DataFrame:
    """Bucketed form of dedup_stream_first_wins for high-cardinality
    key spaces: input carries (key string, ts timestamp); state
    granularity is one group per state partition (see bucketed_state
    for the round-trip economics and the eager-sweep horizon contract).
    Output schema and update-mode emissions are those of the per-key
    operator — one (key, first_ts, n_dropped) row per touched key per
    micro-batch."""
    return bucketed_state(
        keyed,
        _dedup_fold,
        state_fields="key string, first_us long, n_seen long",
        out_schema=DEDUP_OUTPUT_SCHEMA,
        horizon=horizon,
    )


# Stateful sessionizer: custom session windows with carry-over state.
SESSION_OUTPUT_SCHEMA = (
    "key string, session_start timestamp, session_last timestamp, "
    "n_events long, sum_value double, is_open boolean"
)
SESSION_STATE_SCHEMA = (
    "session_start timestamp, session_last timestamp, n_events long, sum_value double"
)

_GAP = pd.Timedelta(minutes=30)


def _sessionize_stateful(key, pdf_iter, state: GroupState):
    """Per-key gap sessionization with cross-batch carry-over: the open
    session lives in keyed state; a batch's rows (sorted by event time)
    either extend it or close it and start the next. Closed sessions
    emit with is_open=false; the still-open session re-emits every
    batch with is_open=true (update mode — the sink's latest row per
    (key, session_start) is the session's current truth).

    This is the applyInPandasWithState twin of the built-in
    session_window aggregate (streaming/__init__.py) — the shape to
    copy when session semantics outgrow the built-in (per-session
    custom accumulators, dynamic gaps, emit-on-close side effects)."""
    rows = [pdf[["ts", "value"]] for pdf in pdf_iter if len(pdf)]
    if not rows:
        return iter(())
    batch = pd.concat(rows).sort_values("ts")

    if state.exists:
        start, last, n, vsum = state.get
    else:
        start = last = None
        n, vsum = 0, 0.0

    out: list[tuple] = []
    for ts, value in zip(batch["ts"], batch["value"]):
        v = 0.0 if pd.isna(value) else float(value)
        if start is None:
            start, last, n, vsum = ts, ts, 1, v
        elif ts - last > _GAP:
            out.append((key[0], start, last, n, vsum, False))
            start, last, n, vsum = ts, ts, 1, v
        else:
            last, n, vsum = ts, n + 1, vsum + v
    state.update((start, last, n, vsum))
    out.append((key[0], start, last, n, vsum, True))
    return iter(
        (
            pd.DataFrame(
                out,
                columns=[
                    "key", "session_start", "session_last",
                    "n_events", "sum_value", "is_open",
                ],
            ),
        )
    )


def sessionize_stream(keyed: DataFrame) -> DataFrame:
    """Apply the stateful sessionizer to a streaming DataFrame with
    columns (key string, ts timestamp, value double). Output mode:
    update. State is one open session per key — bounded; production
    adds an event-time timeout to flush keys that go quiet forever."""
    return keyed.groupBy("key").applyInPandasWithState(
        _sessionize_stateful,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Stateful streaming EWMA: the cross-batch twin of the batch
# pipeline_ewma_smooth recurrence (queries/timeseries.py).
EWMA_OUTPUT_SCHEMA = "user_id long, n_events long, last_ewma double"
EWMA_STATE_SCHEMA = "s double, n long"


def make_ewma_fold(alpha: float):
    """Factory for the per-key EWMA state function: state carries
    (current smoothed value, rows seen); each micro-batch sorts its
    rows by (ts, event_id) and folds them onto the carried state —
    identical arithmetic to the batch operator, so on an in-order
    stream the final state equals the batch fold exactly.

    Ordering bound (same class as dedup_stream_first_wins's): WITHIN a
    micro-batch the fold order is pinned by the sort; ACROSS batches
    it is arrival order, correct for the append-in-time-order landing
    zones the file source models (and exactly the batch result under
    availableNow replay of a bounded fixture, where everything is one
    batch). An out-of-order production stream would buffer rows per
    watermark interval before folding."""

    def _fold(key, pdf_iter, state: GroupState):
        s, n = state.get if state.exists else (None, 0)
        for pdf in pdf_iter:
            # NULL values must not fold NaN into the state (it would
            # poison every later EWMA step); dropping them keeps the
            # fold aligned with the batch twin and the oracle's
            # `WHERE value IS NOT NULL` (ADVICE r6).
            pdf = pdf.dropna(subset=["value"])
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            for x in pdf["value"]:
                s = x if s is None else alpha * x + (1.0 - alpha) * s
            n += len(pdf)
        if s is None:
            return iter(())
        state.update((float(s), int(n)))
        return iter(
            (pd.DataFrame({"user_id": [key[0]], "n_events": [n], "last_ewma": [s]}),)
        )

    return _fold


def ewma_stream(keyed: DataFrame, alpha: float = 0.25) -> DataFrame:
    """Apply the stateful EWMA to a streaming DataFrame with columns
    (user_id long, ts timestamp, event_id long, value double)."""
    return keyed.groupBy("user_id").applyInPandasWithState(
        make_ewma_fold(alpha),
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Streaming Misra-Gries heavy hitters: SKETCHES AS KEYED STATE. The
# term space is hash-partitioned into buckets; each bucket's state is
# one MG(k) counter summary folded continuously across micro-batches —
# fixed-width state per bucket forever, the streaming form of
# operators/sketches.misra_gries_summary. Because a term lives in
# exactly ONE bucket, the merged guarantees are the per-bucket ones
# (est ≤ exact; exact − est ≤ n_bucket/(k+1) ≤ n/(k+1); any term with
# exact > n/(k+1) is present) — theorems independent of batch boundaries
# and arrival order, which is what the certification query hashes.
MG_OUTPUT_SCHEMA = "bucket int, batch_no long, term string, est long"
MG_STATE_SCHEMA = "batch_no long, terms array<string>, counts array<long>"


def make_mg_fold(k: int):
    """Factory for the per-bucket MG fold: exact batch reduce
    (value_counts), add into the bucket's counters, PODS'12 reduce to k
    by subtracting the (k+1)-th largest and dropping non-positives.
    Emits the bucket's FULL current summary each batch tagged with a
    per-bucket batch_no — the consumer keeps each bucket's max-batch_no
    rows (update-mode memory sinks accumulate every emission)."""

    def _fold(key, pdf_iter, state: GroupState):
        import numpy as np

        if state.exists:
            bno, terms, counts = state.get
            counters = dict(zip(terms, (int(c) for c in counts)))
        else:
            bno, counters = 0, {}
        for pdf in pdf_iter:
            vc = pdf["term"].value_counts()
            for t, c in vc.items():
                counters[t] = counters.get(t, 0) + int(c)
            if len(counters) > k:
                vals = np.fromiter(counters.values(), dtype=np.int64)
                off = int(np.partition(vals, -(k + 1))[-(k + 1)])
                counters = {
                    t: c - off for t, c in counters.items() if c - off > 0
                }
        bno += 1
        state.update((bno, list(counters.keys()),
                      [int(c) for c in counters.values()]))
        yield pd.DataFrame(
            {
                "bucket": key[0],
                "batch_no": bno,
                "term": list(counters.keys()),
                "est": [int(c) for c in counters.values()],
            }
        )

    return _fold


def heavy_hitters_stream(keyed: DataFrame, k: int = 400) -> DataFrame:
    """Apply the stateful MG summary to a streaming DataFrame with
    columns (bucket int, term string). State per bucket is O(k)
    forever — no timeout needed; an unbounded production stream keeps
    exactly buckets × k counters."""
    return keyed.groupBy("bucket").applyInPandasWithState(
        make_mg_fold(k),
        outputStructType=MG_OUTPUT_SCHEMA,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Stateful CDC apply: per-key state machine over a tombstoned changelog
# ---------------------------------------------------------------------------

CDC_OUTPUT_SCHEMA = (
    "key string, n_tombstones long, alive boolean, "
    "last_event_type string, gen_events long, n_seen long"
)
CDC_STATE_SCHEMA = (
    "n_tombstones long, gen_events long, last_event_type string, "
    "alive boolean, n_seen long, max_ts timestamp"
)


def _make_cdc_apply(horizon: "pd.Timedelta | None"):
    """Factory for the per-key CDC state machine
    (the streaming form of queries/pipeline_ops.pipeline_cdc_apply):
    'error' rows are DELETE tombstones that close the key's current
    generation; every other row upserts into it. State carries
    (tombstone count, live events in the open generation, last op,
    alive, rows seen) — O(1) per key regardless of history length.

    Ordering contract: rows WITHIN a micro-batch are sorted by
    (ts, event_id) before folding (applyInPandasWithState gives no
    intra-batch order); ACROSS batches the fold is a state machine,
    so correctness requires batches to arrive in event order — the
    replay/backfill situation (availableNow over a bounded landing
    zone) where CDC apply must be deterministic, and the situation
    the oracle equality certifies. A live out-of-order stream needs
    the watermark small enough that reordering stays intra-batch.

    Eviction mirrors the dedup horizon contract: a key idle past
    ``horizon`` (anchored to the max event time ever seen — the
    monotone clamp, never moved backward by late batches) is evicted
    at the watermark; a later re-arrival restarts its history (fresh
    generation/tombstone counts) — the bounded-horizon CDC contract:
    state ∝ keys active within one horizon."""

    def _fold(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return iter(())
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:
            return iter(())
        batch = pd.concat(parts).sort_values(["ts", "event_id"])
        is_del = (batch["event_type"] == "error").to_numpy()
        b_dels = int(is_del.sum())
        if state.exists:
            n_tomb, gen_events, last_et, alive, n_seen, prev_max = state.get
            max_ts = max(pd.Timestamp(prev_max), batch["ts"].max())
        else:
            n_tomb, gen_events, n_seen = 0, 0, 0
            max_ts = batch["ts"].max()
        if b_dels:
            # live rows after the batch's last tombstone open the new
            # generation; everything before belongs to closed ones
            last_del_pos = int(is_del.nonzero()[0][-1])
            gen_events = int((~is_del[last_del_pos + 1 :]).sum())
        else:
            gen_events = gen_events + len(batch)
        n_tomb += b_dels
        n_seen += len(batch)
        last_et = str(batch["event_type"].iloc[-1])
        alive = not bool(is_del[-1])
        state.update((n_tomb, gen_events, last_et, alive, n_seen, max_ts))
        if horizon is not None:
            state.setTimeoutTimestamp(int((max_ts + horizon).value // 1_000_000))
        out = pd.DataFrame(
            {
                "key": [key[0]],
                "n_tombstones": [n_tomb],
                "alive": [alive],
                "last_event_type": [last_et],
                "gen_events": [gen_events],
                "n_seen": [n_seen],
            }
        )
        return iter((out,))

    return _fold


def cdc_apply_stream(keyed: DataFrame, horizon: str | None = None) -> DataFrame:
    """Apply the stateful CDC fold to a streaming DataFrame with columns
    (key string, ts timestamp, event_id long, event_type string).
    Output mode: update — the sink's last update per key is the final
    materialized state (n_seen is monotone, so max_by(·, n_seen)
    extracts it deterministically)."""
    return keyed.groupBy("key").applyInPandasWithState(
        _make_cdc_apply(pd.Timedelta(horizon) if horizon else None),
        outputStructType=CDC_OUTPUT_SCHEMA,
        stateStructType=CDC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if horizon
            else GroupStateTimeout.NoTimeout
        ),
    )


# Bucketed CDC apply: the per-key state machine of cdc_apply_stream —
# tombstones close generations, upserts extend them, O(1) scalars per
# key — run through bucketed_state (the sf0.1 profile put the per-key
# form's whole cost in 1500 per-group Arrow round-trips).
def _cdc_fold(batch: pd.DataFrame, st: pd.DataFrame):
    keys, order, bounds = _key_runs(batch, "key")
    start, end = bounds[:-1], bounds[1:]
    et = batch["event_type"].to_numpy()[order]
    is_del = et == "error"
    n_del = np.add.reduceat(is_del.astype("int64"), start)
    # live rows after a key's last tombstone in this batch open its new
    # generation; everything before belongs to closed ones
    last_del = np.maximum.reduceat(np.where(is_del, np.arange(len(et)), -1), start)
    prev = st.reindex(keys, fill_value=0)
    upd = pd.DataFrame(
        {
            "n_tombstones": prev["n_tombstones"] + n_del,
            "gen_events": np.where(
                n_del > 0, end - 1 - last_del, prev["gen_events"] + (end - start)
            ),
            "last_event_type": et[end - 1],
            "alive": ~is_del[end - 1],
            "n_seen": prev["n_seen"] + (end - start),
        }
    )
    out = upd.reset_index()[
        ["key", "n_tombstones", "alive", "last_event_type", "gen_events", "n_seen"]
    ]
    return _upsert(st, upd), out


def cdc_apply_stream_bucketed(
    keyed: DataFrame, horizon: str | None = None
) -> DataFrame:
    """Bucketed form of cdc_apply_stream for high-cardinality key
    spaces: input carries (key string, ts timestamp, event_id long,
    event_type string); state granularity is one group per state
    partition (see bucketed_state for the round-trip economics and the
    eager-sweep horizon contract). Output schema and update-mode
    emissions are those of the per-key operator — one row per touched
    key per micro-batch, same state-machine values."""
    return bucketed_state(
        keyed,
        _cdc_fold,
        state_fields=(
            "key string, n_tombstones long, gen_events long, "
            "last_event_type string, alive boolean, n_seen long"
        ),
        out_schema=CDC_OUTPUT_SCHEMA,
        horizon=horizon,
    )


def make_ewma_fold_bucketed(alpha: float):
    """Bucketed form of make_ewma_fold: the fold sorts the group's rows
    by (user_id, ts, event_id) and walks each user's slice with the
    IDENTICAL scalar IEEE recurrence — same arithmetic, same
    within-batch ordering contract (globally sorted is strictly
    stronger than the per-key fold's per-chunk sort), so the state per
    user is bit-equal to the per-key operator's. Like the per-key fold,
    every user with rows in the batch emits its carried state, even
    when all of those rows are NULL."""

    def _fold(batch: pd.DataFrame, st: pd.DataFrame):
        # NULL values never fold (the per-key fold's rule, ADVICE r6)
        live = batch[batch["value"].notna()]
        users, order, bounds = _key_runs(live, "user_id")
        vals = live["value"].to_numpy()[order]
        s_new = st["s"].reindex(users).to_numpy()  # NaN: no carried state
        for i in range(len(users)):
            s = None if np.isnan(s_new[i]) else s_new[i]
            for x in vals[bounds[i] : bounds[i + 1]]:
                s = x if s is None else alpha * x + (1.0 - alpha) * s
            s_new[i] = s
        n_new = st["n"].reindex(users, fill_value=0).to_numpy() + np.diff(bounds)
        upd = pd.DataFrame({"s": s_new, "n": n_new}, index=users)
        st = _upsert(st, upd)
        emit = st[st.index.isin(batch["user_id"])]
        return st, pd.DataFrame(
            {
                "user_id": emit.index,
                "n_events": emit["n"].to_numpy(),
                "last_ewma": emit["s"].to_numpy(),
            }
        )

    return _fold


def ewma_stream_bucketed(keyed: DataFrame, alpha: float = 0.25) -> DataFrame:
    """Apply the bucketed stateful EWMA to a streaming DataFrame with
    columns (user_id long, ts timestamp, event_id long, value double).
    Emissions per touched user are ewma_stream's."""
    return bucketed_state(
        keyed,
        make_ewma_fold_bucketed(alpha),
        state_fields="user_id long, s double, n long",
        out_schema=EWMA_OUTPUT_SCHEMA,
    )


# Streaming conversion attribution: the per-user state is just the
# (first, last) non-purchase channel seen so far — O(1) forever — and
# every purchase emits its credit the moment it arrives, carrying the
# state ACROSS micro-batches (the batch twin recomputes the whole
# window every run; this one never re-reads history). Users share
# bucketed_state groups; within a group every carry is a C-speed
# grouped ffill/shift.
ATTRIB_OUTPUT_SCHEMA = (
    "user_id long, event_id long, last_ch string, first_ch string, "
    "cents long"
)


def _attribution_fold(batch: pd.DataFrame, st: pd.DataFrame):
    """Per-group fold: rows sort (user_id, ts, event_id); the
    last-touch as of each row is the grouped ffill of the non-purchase
    channel shifted one row within the user (exactly the batch twin's
    rowsBetween(unboundedPreceding, -1) frame), the first-touch the
    same over a keep-only-first-valid mask; rows whose batch-local
    carry is empty fall back to the user's carried state, and absent
    state surfaces as the 'direct' channel. Cents floor(value·100 +
    0.5) matches the oracle; a NULL value emits a NULL cents (object
    column → Arrow null), so the sink's SUM skips it exactly as SQL
    does.

    Ordering bound: the make_ewma_fold contract — within-batch order
    pinned by the sort, cross-batch order is arrival order; exact
    under availableNow on the bounded fixture (one in-order batch)."""
    pdf = batch.sort_values(["user_id", "ts", "event_id"], ignore_index=True)
    et = pdf["event_type"]
    users = pdf["user_id"]
    touch = et.where(et != "purchase", other=None)
    g = touch.groupby(users, sort=False)
    # strictly-before last touch within the batch: grouped ffill, then
    # shift 1 within the user
    last_asof = g.ffill().groupby(users, sort=False).shift(1)
    # strictly-before first touch: keep only each user's first valid
    # touch, carry it forward, shift 1 within the user
    first_only = touch.where(g.cumcount() - touch.isna().groupby(users, sort=False).cumsum() == 0)
    first_asof = first_only.groupby(users, sort=False).ffill().groupby(users, sort=False).shift(1)
    # last-touch: the batch-local carry wins (more recent); the carried
    # state fills the rows before any batch-local touch
    last_asof = last_asof.fillna(users.map(st["last_ch"]).astype(object))
    # first-touch: pinned forever once set — the CARRIED state wins over
    # any batch-local first; batch-local only seeds new users
    first_asof = users.map(st["first_ch"]).astype(object).fillna(first_asof)

    out = None
    is_p = (et == "purchase").to_numpy()
    if is_p.any():
        cents = [
            None if pd.isna(x) else int(math.floor(x * 100 + 0.5))
            for x in pdf["value"].to_numpy()[is_p]
        ]
        out = pd.DataFrame(
            {
                "user_id": users.to_numpy()[is_p],
                "event_id": pdf["event_id"].to_numpy()[is_p],
                "last_ch": [
                    c if isinstance(c, str) else "direct"
                    for c in last_asof.to_numpy()[is_p]
                ],
                "first_ch": [
                    c if isinstance(c, str) else "direct"
                    for c in first_asof.to_numpy()[is_p]
                ],
                "cents": pd.Series(cents, dtype=object),
            }
        )
    # fold the batch's touches into the carried state
    nn = touch.dropna()
    if len(nn):
        by_user = nn.groupby(users[nn.index])
        seen = pd.DataFrame({"first_ch": by_user.first(), "last_ch": by_user.last()})
        seen["first_ch"] = st["first_ch"].reindex(seen.index).combine_first(
            seen["first_ch"]
        )
        st = _upsert(st, seen)
    return st, out


def attribution_stream(keyed: DataFrame) -> DataFrame:
    """Apply the stateful attribution fold to a streaming DataFrame
    with columns (user_id long, ts timestamp, event_id long,
    event_type string, value double). Users share keyed-state groups
    (see bucketed_state); the fold keeps users independent inside a
    group."""
    return bucketed_state(
        keyed,
        _attribution_fold,
        state_fields="user_id long, first_ch string, last_ch string",
        out_schema=ATTRIB_OUTPUT_SCHEMA,
        output_mode="append",
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4's arbitrary-state API): the
# successor to applyInPandasWithState — typed, NAMED state variables on
# a StatefulProcessor lifecycle (init/handleInputRows/close), backed by
# the RocksDB state store. Covered here so the engine exercises BOTH
# stateful APIs: the processor below is the running per-user totals
# fold (the simplest correct exemplar of the lifecycle). NOT a
# registered query: the TWS Python runner needs google.protobuf,
# which this sandbox lacks — the documented boundary (SURVEY.md §2.3);
# tests/test_streaming.py carries the full totals-vs-batch parity
# check and self-skips when protobuf is absent.
# ---------------------------------------------------------------------------

TWS_OUTPUT_SCHEMA = "user_id long, n_events long, cents long"


def make_running_totals_processor():
    """Factory returning a StatefulProcessor that keeps one ValueState
    ('totals' = running row count + money cents) per user and emits the
    updated totals each micro-batch. Import-deferred so the module
    stays loadable on deployments whose pyspark predates the API."""
    from pyspark.sql.streaming import StatefulProcessor

    class RunningTotalsProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._totals = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents = (
                self._totals.get() if self._totals.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                vals = pdf["value"].dropna()
                # floor(v*100 + 0.5) on the raw double — the engine's
                # cents convention (matches the SQL oracle bit-for-bit)
                cents += int(
                    sum(int(math.floor(float(x) * 100 + 0.5)) for x in vals)
                )
            self._totals.update((int(n), int(cents)))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "cents": [cents]}
            )

        def close(self) -> None:
            pass

    return RunningTotalsProcessor()


def running_totals_stream(keyed: DataFrame) -> DataFrame:
    """Apply the transformWithState running-totals processor to a
    streaming DataFrame with columns (user_id long, ts timestamp,
    value double). Requires the RocksDB state store provider (see
    streaming.rocksdb_state_store). Output mode: update."""
    return keyed.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make_running_totals_processor(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
