"""Keyed stateful streaming folds via applyInPandasWithState — the
engine's pattern for semantics Structured Streaming's built-in
operators can't express.

Every high-cardinality keyed fold runs through ONE combinator,
:func:`bucketed_state`, and supplies only its vectorized fold body:
cross-batch first-wins dedup (the streaming form of the batch
``dedup_incremental`` anti-join, operators/incremental.py O4 fix: the
"existing keys" side lives in Spark's keyed state store instead of
being re-joined from the warehouse every batch), CDC apply, EWMA,
conversion attribution and the corpus-delta first-wins kernel. The
streaming Misra-Gries summary keeps one fixed-width state per term
bucket instead (:func:`heavy_hitters_stream`).

Scale notes: state is partitioned by key across executors exactly like
a shuffle — no single-node key set. With a horizon, state is bounded by
the keys active inside one horizon: the eager event-time sweep below
removes a key idle past it, deterministically under replay.

tests/test_streaming.py checks each registered fold after every
micro-batch of an ordered multi-file stream against its query's DuckDB
oracle over the rows up to that batch.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.sketches import mg_add

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
# Horizon semantics: a key expires once the watermark passes its max_us
# + horizon, max_us being the largest event time EVER seen for the key
# (a late, within-watermark batch of older rows never moves a deadline
# backward). Expired keys are swept EAGERLY at the START of every group
# invocation, before the new rows fold, so a re-arrival after expiry is
# ALWAYS a fresh history, also in the very batch whose watermark expired
# it. The sweep reads only the watermark and the stored state, so it is
# deterministic under replay. Idle groups are swept by a group-level
# event-time timeout armed at the group's earliest key deadline.

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
def _group_ids(n: int) -> tuple[int, ...]:
    """ids[j]: the smallest non-negative int that Spark's hash partitioner
    sends to partition j, from its own fixed-seed pmod(hash(i), n) over
    an inline table on the active session (evaluated on the driver, no
    job). The ids depend on n alone, so the memo is keyed on n and holds
    no session."""
    spark = SparkSession.active()
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
    parts = int(keyed.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    group_ids = _group_ids(parts)
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


# First-wins dedup over (key, ts): each key's first-seen event time and
# the count of every later row.
DEDUP_OUTPUT_SCHEMA = "key string, first_ts timestamp, n_dropped long"


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
    """Stateful first-wins dedup of a streaming DataFrame with columns
    (key string, ts timestamp), one keyed-state group per state
    partition (see bucketed_state). Output mode update: every key the
    micro-batch touched emits one (key, first_ts, n_dropped) row, its
    first-seen event time and the count of every later row. A key's
    first is the minimum ts of the first batch it arrives in, so it is
    the global MIN(ts) when batches arrive in event-time order.

    ``horizon`` (pandas-Timedelta syntax, e.g. "30 days") bounds state;
    the input must then carry ``withWatermark`` on ts. Dedup-horizon
    contract: a duplicate is suppressed only while its key stays warm,
    i.e. arrives within ``horizon`` of the key's LAST occurrence
    (idle-anchored, so an active key never expires mid-activity). Once
    the watermark passes last occurrence + horizon the key is swept
    (bucketed_state's eager sweep), and its next arrival, also in that same micro-batch,
    is re-emitted as a fresh first: exactly-once only within the
    horizon, and state ∝ keys active within one horizon, not corpus
    lifetime. Without a horizon state never expires (bounded replay
    only)."""
    return bucketed_state(
        keyed,
        _dedup_fold,
        state_fields="key string, first_us long, n_seen long",
        out_schema=DEDUP_OUTPUT_SCHEMA,
        horizon=horizon,
    )


# Stateful streaming EWMA: pipeline_ewma_smooth's recurrence
# (queries/timeseries.py, a JVM aggregate fold over each user's sorted
# values), with (s, n) carried across micro-batches.
EWMA_OUTPUT_SCHEMA = "user_id long, n_events long, last_ewma double"


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
        if state.exists:
            bno, terms, counts = state.get
            counters = dict(zip(terms, (int(c) for c in counts)))
        else:
            bno, counters = 0, {}
        for pdf in pdf_iter:
            counters = mg_add(counters, pdf["term"], k)
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


# Tombstones close generations, upserts extend them, O(1) scalars per
# key, run through bucketed_state (the sf0.1 profile put a group-per-key
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
    """CDC changelog apply (the streaming form of
    queries/pipeline_ops.pipeline_cdc_apply) over a streaming DataFrame
    with columns (key string, ts timestamp, event_id long, event_type
    string), one keyed-state group per state partition (see
    bucketed_state). 'error' rows are DELETE tombstones that close the
    key's current generation; every other row upserts into it. State
    per key is O(1) whatever its history: (tombstone count, live events
    in the open generation, last op, alive, rows seen). Output mode
    update: every key the micro-batch touched emits one row of its
    current state; n_seen is monotone, so max_by(·, n_seen) over the
    sink extracts the final state.

    Ordering contract: rows WITHIN a micro-batch fold in (ts, event_id)
    order; ACROSS batches the fold is a state machine, so correctness
    requires batches to arrive in event order — the replay/backfill
    situation (availableNow over a bounded landing zone) where CDC
    apply must be deterministic. A live out-of-order stream needs the
    watermark small enough that reordering stays intra-batch.

    ``horizon`` follows the dedup-horizon contract
    (dedup_stream_first_wins_bucketed): a key idle past it is swept and
    a later re-arrival restarts its history, with fresh generation and
    tombstone counts."""
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
    """The EWMA fold: state carries each user's (smoothed value s, rows
    folded n). The fold sorts the group's rows by (user_id, ts,
    event_id) and walks each user's slice with the batch operator's
    scalar IEEE recurrence s = alpha·x + (1 − alpha)·s, so on an
    in-order stream the state equals the batch fold exactly. NULL
    values never fold: a NaN would poison every later step, and the
    oracle reads ``WHERE value IS NOT NULL``.

    Ordering contract: WITHIN a micro-batch the fold order is pinned by
    the sort; ACROSS batches it is arrival order, correct for the
    append-in-time-order landing zones the file source models (and
    exactly the batch result under availableNow replay of a bounded
    fixture). An out-of-order production stream would buffer rows per
    watermark interval before folding."""

    def _fold(batch: pd.DataFrame, st: pd.DataFrame):
        # NULL values never fold (ADVICE r6)
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
    """Apply the stateful EWMA (make_ewma_fold_bucketed) to a streaming
    DataFrame with columns (user_id long, ts timestamp, event_id long,
    value double), one keyed-state group per state partition (see
    bucketed_state). Output mode update: every user with rows in the
    micro-batch emits (user_id, n_events, last_ewma) from its state.
    A user whose rows in the batch are all NULL re-emits its carried
    state unchanged; a user with no non-NULL value yet emits nothing."""
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

    Ordering bound: the make_ewma_fold_bucketed contract — within-batch
    order pinned by the sort, cross-batch order is arrival order; exact
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
