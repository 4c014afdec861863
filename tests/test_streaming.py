"""Streaming-mode mirrors: the SAME transformation functions used by the
batch registry queries are driven under readStream (bounded file source,
availableNow trigger, memory sink) and must agree with their batch
results — the unified-API guarantee the streaming module is built on.
"""

from __future__ import annotations

import pytest

from projektdataengineering_spark.catalog import load_table
from projektdataengineering_spark.streaming import (
    open_event_stream,
    run_to_memory_sink,
    scoped_conf,
    session_windows,
    sliding_avg,
    tumbling_counts,
)


def _canon(df):
    return sorted(map(tuple, (tuple(r) for r in df.collect())))


# State partition counts the bucketed folds must be indifferent to:
# every key in one keyed-state group, and an n whose groups give each
# test key its own group.
PARTITIONINGS = [pytest.param(1, id="one_bucket"), pytest.param(5, id="hash_separated")]


def _state_partitions(spark, n, key, keys):
    """stream_state_partitions(spark, n), after asserting that an n > 1
    separates the test keys (a key's group is ids[pmod(hash(key), n)])."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.streaming import stream_state_partitions

    if n > 1:
        probe = spark.createDataFrame([(k,) for k in keys], [key])
        assert probe.select(F.pmod(F.hash(key), F.lit(n))).distinct().count() == len(keys), (
            "the state partition count must separate the test keys"
        )
    return stream_state_partitions(spark, n)


def _checkpoint_root(spark, root):
    """Scope the session's root checkpoint location to ``root``: a drained
    stream named ``q`` then keeps its checkpoint at ``root / q``."""
    return scoped_conf(spark, {"spark.sql.streaming.checkpointLocation": str(root)})


def _ordered_batches(src, frames):
    """Write one parquet file per frame (µs timestamps) with increasing
    mtimes: the file source plays them as ordered micro-batches."""
    import os
    import time

    src.mkdir()
    now = time.time()
    for i, b in enumerate(frames):
        f = src / f"batch{i + 1}.parquet"
        b.astype({"ts": "datetime64[us]"}).to_parquet(f)
        os.utime(f, (now - 100 + 20 * i, now - 100 + 20 * i))


def _drain_batches(df, checkpoint):
    """Run a bounded update-mode stream (one file per trigger upstream);
    return each micro-batch's emitted rows as a pandas frame, in batch
    order."""
    got = {}
    q = (
        df.writeStream.outputMode("update")
        .foreachBatch(lambda b, i: got.__setitem__(i, b.toPandas()))
        .option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return [got[i] for i in sorted(got)]


def _rows(pdf):
    """A frame's rows as sorted tuples."""
    return sorted(pdf.itertuples(index=False, name=None))


def _events(day, spec):
    """One micro-batch of the events feed: ``spec`` rows are (event_id,
    user_id, seconds after ``day``, event_type, value)."""
    import pandas as pd

    eid, uid, sec, et, val = zip(*spec)
    return pd.DataFrame({
        "user_id": pd.array(uid, dtype="int64"),
        "ts": pd.Timestamp(day) + pd.to_timedelta(sec, unit="s"),
        "event_id": pd.array(eid, dtype="int64"),
        "event_type": list(et),
        "value": pd.array(val, dtype="float64"),
    })


EVENTS_SCHEMA = "user_id long, ts timestamp, event_id long, event_type string, value double"

# Ordered micro-batches of the events feed, one file each. Event time
# rises from batch to batch: the registered dedup oracle is a global
# MIN(ts), which is first-wins only for in-order arrival. Inside a batch,
# rows are written out of (ts, event_id) order.
FOLD_FIXTURES = {
    # users 2, 4, 7, 10 and 15 land in separate state groups at n=5,
    # keyed by user_id and by its string cast
    "events": [
        _events("2024-01-01", [
            (1, 4, 0, "view", 10.0),
            (3, 2, 1, "click", 1.0),
            (6, 7, 5, "view", 4.0),  # same ts as event 5: event_id orders
            (5, 7, 5, "click", 2.0),
            (4, 4, 3, "view", 5.0),
            (2, 2, 4, "view", None),
            (7, 2, 6, "error", None),  # 2 is dead at the batch boundary
        ]),
        _events("2024-01-02", [
            (10, 2, 0, "purchase", 3.0),  # 2 re-inserted: a new generation
            (12, 4, 2, "click", None),
            (11, 4, 1, "error", None),  # 4 closed and reopened in one batch
            (13, 7, 3, "view", None),  # 7's rows are all NULL: EWMA re-emits its state
            (15, 7, 4, "view", None),
            (14, 10, 4, "view", 4.0),
        ]),
        _events("2024-01-03", [
            (21, 15, 0, "error", None),  # a tombstone first, and never a value
            (20, 4, 0, "view", 1.5),
            (22, 2, 1, "view", 2.0),
            (23, 2, 2, "error", None),
            (25, 7, 5, "click", 6.0),
            (24, 10, 3, "click", None),
        ]),
    ],
    # an in-batch duplicate (user 2) and cross-batch duplicates (2 and 4)
    "first_wins": [
        _events("2024-01-01", [(1, 2, 0, "view", None), (2, 2, 600, "view", None), (3, 4, 300, "view", None)]),
        _events("2024-01-02", [(4, 2, 0, "view", None), (5, 4, 60, "view", None), (6, 4, 120, "view", None)]),
    ],
}


def _registry_fold(name, events):
    """The bucketed fold of the registered stream query ``name`` over the
    raw events stream, fed through the query's own projection, watermark
    and horizon (queries/streaming_batch.py)."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.streaming.stateful import (
        cdc_apply_stream_bucketed,
        dedup_stream_first_wins_bucketed,
        ewma_stream_bucketed,
    )

    key = F.col("user_id").cast("string").alias("key")
    if name == "stream_dedup_stateful":
        keyed = events.select(key, "ts").withWatermark("ts", "1 minute")
        return dedup_stream_first_wins_bucketed(keyed, horizon="365 days")
    if name == "stream_cdc_stateful":
        keyed = events.select(key, "ts", "event_id", "event_type").withWatermark("ts", "1 minute")
        return cdc_apply_stream_bucketed(keyed, horizon="365 days")
    assert name == "stream_ewma_stateful", name
    return ewma_stream_bucketed(events.select("user_id", "ts", "event_id", "value"), alpha=0.25)


def test_stream_tumbling_matches_batch(spark, sf_dir):
    batch = tumbling_counts(load_table(spark, sf_dir, "events"))
    stream = tumbling_counts(open_event_stream(spark, sf_dir))
    assert _canon(run_to_memory_sink(stream, "tumbling_out", output_mode="complete")) == _canon(batch)


def test_stream_sliding_matches_batch(spark, sf_dir):
    batch = sliding_avg(load_table(spark, sf_dir, "events"))
    stream = sliding_avg(open_event_stream(spark, sf_dir))
    assert _canon(run_to_memory_sink(stream, "sliding_out", output_mode="complete")) == _canon(batch)


def test_stream_session_windows_with_watermark(spark, sf_dir):
    """Session windows under a watermark (append mode): every finalized
    streaming session must be a batch session — the watermark may hold
    back only the most recent (non-finalized) windows."""
    batch = set(_canon(session_windows(load_table(spark, sf_dir, "events"))))
    stream = session_windows(
        open_event_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    )
    emitted = set(_canon(run_to_memory_sink(stream, "session_out", output_mode="append")))
    assert emitted, "watermarked session stream emitted nothing"
    assert emitted <= batch, "streaming emitted a session batch mode doesn't have"


def test_foreachbatch_sink_is_idempotent(spark, sf_dir, tmp_path):
    """write_stream_idempotent: replaying the stream with the SAME
    checkpoint must add zero rows (epoch-partitioned dynamic overwrite
    absorbs at-least-once replays); a fresh checkpoint re-processes."""
    from projektdataengineering_spark.streaming import (
        open_event_stream,
        write_stream_idempotent,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = open_event_stream(spark, sf_dir).select("event_id", "ts", "event_type")

    write_stream_idempotent(stream, out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # same checkpoint: source is exhausted, no new epochs, same rows
    stream2 = open_event_stream(spark, sf_dir).select("event_id", "ts", "event_type")
    write_stream_idempotent(stream2, out, ckpt)
    n2 = spark.read.parquet(out).count()
    assert n2 == n1

    # every event exactly once vs the batch read
    from projektdataengineering_spark.catalog import load_table

    n_batch = load_table(spark, sf_dir, "events").count()
    assert n1 == n_batch


def test_stream_ewma_equals_batch_ewma(spark, sf_dir):
    """The stateful streaming EWMA must reproduce the batch operator's
    fold bit-for-bit on a bounded in-order fixture (same alpha, same
    (ts, event_id) order)."""
    from projektdataengineering_spark.queries.streaming_batch import (
        stream_ewma_stateful,
    )
    from projektdataengineering_spark.queries.timeseries import pipeline_ewma_smooth

    batch = {
        r["user_id"]: (r["n_events"], r["last_ewma"])
        for r in pipeline_ewma_smooth(spark, sf_dir).collect()
    }
    stream = {
        r["user_id"]: (r["n_events"], r["last_ewma"])
        for r in stream_ewma_stateful(spark, sf_dir).collect()
    }
    assert batch == stream


def test_stream_heavy_hitters_mg_reduce_across_batches(spark, tmp_path):
    """Streaming MG state (streaming/stateful.py:heavy_hitters_stream)
    with a tiny k so the PODS'12 reduce actually fires mid-stream: the
    final summary must keep the MG theorems across micro-batch
    boundaries (underestimate-only, error <= n_bucket/(k+1), heavy
    terms present) and carry per-bucket batch counters."""
    import os
    import time
    from collections import Counter

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import heavy_hitters_stream

    k = 3
    # one bucket (0); a heavy term among chaff, split across 2 batches
    b1 = ["hot"] * 12 + ["a", "b", "c", "d", "e", "a", "b"]
    b2 = ["hot"] * 9 + ["f", "g", "h", "a", "f"]
    src = tmp_path / "mg_src"
    src.mkdir()
    now = time.time()
    for i, terms in enumerate([b1, b2]):
        f = src / f"batch{i + 1}.parquet"
        pd.DataFrame({"bucket": [0] * len(terms), "term": terms}).to_parquet(f)
        os.utime(f, (now - 40 + 20 * i, now - 40 + 20 * i))

    stream = (
        spark.readStream.schema("bucket long, term string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .selectExpr("CAST(bucket AS INT) AS bucket", "term")
    )
    rows = run_to_memory_sink(
        heavy_hitters_stream(stream, k=k), "mg_stream_out", output_mode="update"
    ).collect()
    max_bno = max(r["batch_no"] for r in rows)
    assert max_bno == 2, sorted({r["batch_no"] for r in rows})
    final = {r["term"]: r["est"] for r in rows if r["batch_no"] == max_bno}
    assert len(final) <= k
    exact = Counter(b1 + b2)
    n = sum(exact.values())
    bound = n / (k + 1)
    for t, e in final.items():
        assert e <= exact[t], (t, e, exact[t])
    for t, c in exact.items():
        assert c - final.get(t, 0) <= bound, (t, c, final.get(t, 0), bound)
        if c > bound:
            assert t in final, (t, c, bound)
    # the heavy term's estimate must dominate the chaff's
    assert final["hot"] == max(final.values())


@pytest.mark.parametrize("n", PARTITIONINGS)
def test_stateful_dedup_late_batch_cannot_shrink_horizon(spark, tmp_path, n):
    """Round-8 ADVICE regression: a key's eviction deadline anchors to
    the max event time EVER seen for it, not the current batch's max. A
    later out-of-order (within-watermark) batch with OLDER rows must not
    move the deadline backward — otherwise the sweep removes the key
    before last-occurrence + horizon and a within-horizon duplicate
    re-emits as a fresh first. At n=1 the spacer z's data invocation
    would sweep a; at n=5 a's idle group's timeout would."""
    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import (
        dedup_stream_first_wins_bucketed,
    )

    src = tmp_path / "late_src"
    batches = [
        # b1: a @ Jan-20 → deadline Jan-22 (horizon 2 days)
        (["a"], ["2024-01-20 00:00:00"]),
        # b2: a again, 10 days OLDER but inside the 30-day watermark.
        # Unclamped, this would drag the deadline back to Jan-12.
        (["a"], ["2024-01-10 00:00:00"]),
        # b3: advances the watermark for b4 to Jan-16 — past the buggy
        # Jan-12 deadline, NOT past the correct Jan-22 one
        (["z"], ["2024-02-15 00:00:00"]),
        # b4: a has no data; a buggy deadline would sweep it here
        (["z"], ["2024-02-15 00:01:00"]),
        # b5: a returns within wm — must still be a DUPLICATE of Jan-20
        (["a"], ["2024-02-16 00:00:00"]),
    ]
    _ordered_batches(src, [pd.DataFrame({"key": k, "ts": pd.to_datetime(t)}) for k, t in batches])

    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "30 days")
    )
    with _state_partitions(spark, n, "key", ["a", "z"]):
        out = dedup_stream_first_wins_bucketed(stream, horizon="2 days")
        rows = run_to_memory_sink(out, "dedup_clamp_out", output_mode="update").collect()
    a_rows = {(r["first_ts"], r["n_dropped"]) for r in rows if r["key"] == "a"}
    # every a-emission keeps the original first; the b5 arrival counts
    # as the 2nd dropped duplicate — an eviction bug would surface as a
    # fresh (2024-02-16, 0) first instead
    assert a_rows == {
        (pd.Timestamp("2024-01-20 00:00:00"), 0),
        (pd.Timestamp("2024-01-20 00:00:00"), 1),
        (pd.Timestamp("2024-01-20 00:00:00"), 2),
    }, (n, a_rows)


@pytest.mark.parametrize("n", PARTITIONINGS)
def test_stream_cdc_bucketed_state_machine_across_batches(spark, tmp_path, n):
    """The bucketed CDC fold (cdc_apply_stream_bucketed) across ordered
    micro-batches, whether keys share one state group or each has its
    own: generation counts carry over a batch boundary, a tombstone at
    a boundary closes the generation (the key is dead between the
    batches), and a post-tombstone re-insert in a LATER batch opens a
    fresh one. A caller's ``bucket`` column is replaced: the stored
    groups are the keys' derived ids, one per partition."""
    import pandas as pd
    from pyspark.sql import functions as F

    from projektdataengineering_spark.streaming.stateful import (
        _group_ids,
        cdc_apply_stream_bucketed,
    )

    def rows(eid0, ts0, spec):
        # spec: list of (key, event_type); timestamps strictly increasing
        return pd.DataFrame(
            {
                "key": [k for k, _ in spec],
                "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=ts0 + i) for i in range(len(spec))],
                "event_id": [eid0 + i for i in range(len(spec))],
                "event_type": [t for _, t in spec],
            }
        )

    src = tmp_path / "cdc_bucketed_src"
    _ordered_batches(src, [
        # u1 upserts twice; u2 upserts, then a tombstone at the boundary
        rows(0, 0, [("u1", "click"), ("u2", "view"), ("u1", "view"), ("u2", "error")]),
        # u1: tombstone then re-insert; u2 re-inserts after its tombstone
        rows(10, 100, [("u1", "error"), ("u1", "purchase"), ("u2", "click"), ("u2", "view")]),
    ])
    stream = (
        spark.readStream.schema("key string, ts timestamp, event_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    with _state_partitions(spark, n, "key", ["u1", "u2"]):
        batches = _drain_batches(
            cdc_apply_stream_bucketed(stream.withColumn("bucket", F.lit(-1))),
            tmp_path / "ckpt_bucketed",
        )
    # (key, n_tombstones, alive, last_event_type, gen_events, n_seen)
    assert [_rows(b) for b in batches] == [
        # u2 dead at the batch-1 boundary
        [("u1", 0, True, "view", 2, 2), ("u2", 1, False, "error", 0, 2)],
        # u1: one tombstone, alive, the open generation holds exactly the
        # re-inserted row; u2: a fresh 2-event generation
        [("u1", 1, True, "purchase", 1, 4), ("u2", 1, True, "view", 2, 4)],
    ]
    parts = spark.createDataFrame([("u1",), ("u2",)], ["key"]).select(
        F.pmod(F.hash("key"), F.lit(n))
    )
    stored = spark.read.format("statestore").load(str(tmp_path / "ckpt_bucketed"))
    assert sorted(map(tuple, stored.select("key.bucket", "partition_id").collect())) == sorted(
        {(_group_ids(n)[p], p) for (p,) in parts.collect()}
    )


@pytest.mark.parametrize("n", PARTITIONINGS)
@pytest.mark.parametrize(
    "name, fixture",
    [
        ("stream_dedup_stateful", "events"),
        ("stream_dedup_stateful", "first_wins"),
        ("stream_cdc_stateful", "events"),
        ("stream_ewma_stateful", "events"),
    ],
)
def test_bucketed_fold_matches_its_oracle_after_every_micro_batch(spark, tmp_path, name, fixture, n):
    """Spark runs a micro-batch as an incremental plan, so after batch i a
    keyed fold's answer for a key is the relational answer over batches
    1..i. Each registered bucketed stream fold, fed as its query feeds
    it, must emit after every micro-batch exactly the rows of the query's
    registered oracle SQL, which DuckDB runs on its own connection over
    the files of batches 1..i, for the keys that batch touched."""
    import duckdb
    import pandas as pd
    from conftest import frame_mismatch

    from projektdataengineering_spark.queries import load_registry
    from projektdataengineering_spark.streaming import stream_no_data_batches

    oracle = load_registry()[name].oracle
    batches = FOLD_FIXTURES[fixture]
    src = tmp_path / "src"
    _ordered_batches(src, batches)
    events = spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(src))
    key = "user_id" if name == "stream_ewma_stateful" else "key"
    as_key = int if key == "user_id" else str
    users = sorted(set(pd.concat(batches)["user_id"]))
    # the no-data batch scoped off as the registered queries scope it
    with _state_partitions(spark, n, key, [as_key(u) for u in users]), stream_no_data_batches(spark):
        emitted = _drain_batches(_registry_fold(name, events), tmp_path / "ckpt")
    assert len(emitted) == len(batches), [len(e) for e in emitted]

    con = duckdb.connect()
    try:
        for i, (batch, got) in enumerate(zip(batches, emitted), 1):
            files = [str(src / f"batch{j}.parquet") for j in range(1, i + 1)]
            con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet({files})")
            want = con.execute(oracle).df()
            want = want[want[key].isin({as_key(u) for u in batch["user_id"]})]
            why = frame_mismatch(got, want)
            assert why is None, f"{name} after micro-batch {i}: {why}"
    finally:
        con.close()


def test_attribution_stream_carries_touch_state_across_batches(spark, tmp_path):
    """stream_attribution's fold: the (first, last) touch state must
    carry across micro-batches — a purchase in batch 2 credits a
    channel seen only in batch 1; first-touch stays pinned to the very
    first channel forever; a user whose purchase precedes any touch
    credits 'direct'; a NULL purchase value emits a NULL cents (not
    NaN), so the sink aggregate skips it like SQL."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import attribution_stream

    src = tmp_path / "attrib_src"
    src.mkdir()
    b1 = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:10", "2024-01-01 00:05"]
            ),
            "event_id": [10, 11, 12],
            "event_type": ["click", "view", "purchase"],
            "value": [None, None, 7.004],
        }
    )
    b1.to_parquet(src / "b1.parquet", coerce_timestamps="us")
    b2 = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "ts": pd.to_datetime(
                ["2024-01-02 00:00", "2024-01-02 00:01", "2024-01-02 00:02"]
            ),
            "event_id": [20, 21, 22],
            # purchase BEFORE any batch-2 touch: credits batch-1 state
            "event_type": ["purchase", "signup", "purchase"],
            "value": [1.0, None, None],
        }
    )
    b2.to_parquet(src / "b2.parquet", coerce_timestamps="us")
    now = time.time()
    os.utime(src / "b1.parquet", (now - 60, now - 60))
    os.utime(src / "b2.parquet", (now, now))

    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, event_type string, "
            "value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sink = run_to_memory_sink(attribution_stream(stream), "attrib_out", output_mode="append")
    rows = {r["event_id"]: r for r in sink.collect()}
    assert set(rows) == {12, 20, 22}  # one credit per purchase, exactly once
    # user 2 purchased with no prior touch → direct, cents rounds half-up
    assert rows[12]["last_ch"] == "direct" and rows[12]["first_ch"] == "direct"
    assert rows[12]["cents"] == 700
    # batch-2 purchase before any batch-2 touch → credited from batch-1
    # state: last touch 'view' (00:10), first touch 'click' (00:00)
    assert rows[20]["last_ch"] == "view" and rows[20]["first_ch"] == "click"
    # after the batch-2 'signup', last follows it; first stays pinned
    assert rows[22]["last_ch"] == "signup" and rows[22]["first_ch"] == "click"
    assert rows[20]["cents"] == 100
    # NULL purchase values surface as NULL cents (Arrow null, not NaN)
    assert rows[22]["cents"] is None

def test_drop_duplicates_within_watermark_evicts_and_resurrects(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate arriving within the
    delay of the first occurrence is dropped (within AND across
    micro-batches); once the watermark passes the key's event time +
    delay its state evicts, and a LATER re-occurrence re-emits as new.
    This pins the exact schedule-dependence the registered
    stream_dedup_within_watermark query neutralizes by choosing its
    delay ≥ the fixture span — here the resurrection is forced on
    purpose with a 1-hour delay and a 10-hour gap."""
    import os
    import time

    import pandas as pd

    src = tmp_path / "ddww_src"
    src.mkdir()
    batches = [
        # b1: k first at 00:00, in-batch duplicate at 00:10 -> dropped
        (["k", "k"], ["2024-01-01 00:00:00", "2024-01-01 00:10:00"]),
        # b2: cross-batch duplicate still within the delay -> dropped;
        # watermark after this batch: 00:20 - 1h (still < k's expiry)
        (["k"], ["2024-01-01 00:20:00"]),
        # b3: far-future key advances the watermark to 09:00, past k's
        # expiry (00:20 + 1h)
        (["z"], ["2024-01-01 10:00:00"]),
        # b4: spacer — eviction fires lazily, in the first batch that
        # RUNS with the advanced watermark; k must not arrive in the
        # same batch its state dies in, or the old state still wins
        (["y"], ["2024-01-01 10:05:00"]),
        # b5: k returns after eviction -> re-emitted as a fresh row
        (["k"], ["2024-01-01 10:30:00"]),
    ]
    now = time.time()
    for i, (keys, tss) in enumerate(batches):
        f = src / f"batch{i + 1}.parquet"
        pd.DataFrame({"key": keys, "ts": pd.to_datetime(tss)}).to_parquet(
            f, coerce_timestamps="us"
        )
        os.utime(f, (now - 80 + 20 * i, now - 80 + 20 * i))

    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["key"])
    )
    rows = run_to_memory_sink(stream, "ddww_out", output_mode="append").collect()
    k_ts = sorted(str(r["ts"]) for r in rows if r["key"] == "k")
    # exactly two emissions of k: the original first, and the
    # post-eviction resurrection — the 00:10 and 00:20 duplicates died
    assert k_ts == ["2024-01-01 00:00:00", "2024-01-01 10:30:00"], rows
    assert sum(1 for r in rows if r["key"] == "z") == 1


def test_stateful_dedup_bucketed_carry_and_eager_sweep(spark, tmp_path):
    """Bucketed first-wins dedup (streaming/stateful.py
    dedup_stream_first_wins_bucketed): keys sharing a state group must
    stay fully independent, carry first_ts/n_dropped across
    micro-batches, and honor the EAGER horizon sweep — a key whose
    (max_ts + horizon) the watermark passed is removed at the group's
    next invocation even when the key itself arrives with data in that
    same batch, so the re-arrival is a fresh first. The stored state
    after each committed micro-batch is the MEASURED state bound: it
    holds only the keys active within one horizon. Run at two state
    partition counts: at n=1 every key shares one group, so b3's data
    invocation sweeps the idle b and c too; at n=5 a, b and c each have
    their own group, so b3 sweeps b and c through their idle groups'
    event-time timeout."""
    import pandas as pd
    from pyspark.sql import functions as F

    from projektdataengineering_spark.streaming.stateful import (
        dedup_stream_first_wins_bucketed,
    )

    src = tmp_path / "bucketed_src"
    batches = [
        # b1: a (in-batch dup), b and c
        (["a", "a", "b", "c"],
         ["2024-01-01 00:00:00", "2024-01-01 00:10:00",
          "2024-01-01 00:05:00", "2024-01-01 00:06:00"]),
        # b2: watermark spacer 10 days out (horizon 2 days, watermark
        # 1 second; the watermark visible to a batch is the PREVIOUS
        # batch's max − delay, so this advances it for b3).
        (["z"], ["2024-01-11 00:00:00"]),
        # b3: a re-arrives WITH data in the very batch whose sweep
        # removes it (deadline Jan-3 < watermark Jan-10) — the EAGER
        # case: a fresh first, not a duplicate. b and c are swept idle
        # in the same batch.
        (["a"], ["2024-01-12 00:00:00"]),
        # b4: b returns after its sweep — fresh first too
        (["b"], ["2024-01-12 06:00:00"]),
    ]
    _ordered_batches(src, [pd.DataFrame({"key": k, "ts": pd.to_datetime(t)}) for k, t in batches])

    for n in (1, 5):
        stream = (
            spark.readStream.schema("key string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withWatermark("ts", "1 second")
        )
        name = f"dedup_bucketed_out_{n}"
        with _state_partitions(spark, n, "key", ["a", "b", "c"]), _checkpoint_root(spark, tmp_path):
            out = dedup_stream_first_wins_bucketed(stream, horizon="2 days")
            rows = run_to_memory_sink(out, name, output_mode="update").collect()

        ckpt = tmp_path / name
        by_key = {}
        for r in rows:
            by_key.setdefault(r["key"], set()).add(
                (r["first_ts"], r["n_dropped"])
            )
        # a: in-batch dup in b1, then the EAGER-sweep fresh first in b3 —
        # swept and re-seeded in ONE group invocation
        assert by_key["a"] == {
            (pd.Timestamp("2024-01-01 00:00:00"), 1),
            (pd.Timestamp("2024-01-12 00:00:00"), 0),
        }, (n, by_key["a"])
        # b: swept idle in b3 (by a's group invocation at n=1, by its
        # own group's timeout at n=5) → fresh first in b4
        assert by_key["b"] == {
            (pd.Timestamp("2024-01-01 00:05:00"), 0),
            (pd.Timestamp("2024-01-12 06:00:00"), 0),
        }, (n, by_key["b"])
        # c: swept idle in b3, never returns — only the b1 first
        # remains; z is b2's fresh first
        assert by_key["c"] == {(pd.Timestamp("2024-01-01 00:06:00"), 0)}, n
        assert by_key["z"] == {(pd.Timestamp("2024-01-11 00:00:00"), 0)}, n
        # the sweep left c in no group's stored state
        stored = spark.read.format("statestore").load(str(ckpt))
        kept = stored.select(F.explode("value.groupState.key")).collect()
        assert sorted(k for (k,) in kept) == ["a", "b", "z"], n
        # keys held after each committed micro-batch: six key arrivals
        # (a, b, c, z, then a and b again) but never more than 4 keys —
        # b3 sweeps a, b and c and re-seeds a, b4 re-seeds b. availableNow
        # may append a trailing no-data batch, which changes nothing.
        committed = sorted(int(f.name) for f in (ckpt / "commits").iterdir() if f.name.isdigit())
        held = [
            spark.read.format("statestore").option("batchId", b).load(str(ckpt))
            .select(F.explode("value.groupState.key")).count()
            for b in committed
        ]
        assert held[:4] == [3, 4, 2, 3] and set(held[4:]) <= {3}, (n, held)


def test_session_window_merges_across_micro_batches(spark, tmp_path):
    """stream_session_native's load-bearing claim (round 12): streaming
    session_window state MERGES — a batch-2 event landing inside the
    gap of a batch-1 session must FUSE with it into one longer session
    (same start, extended end), not open a second one; and the merge
    is per-key (an interleaved other-user event changes nothing)."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming import (
        session_windows,
        stream_state_partitions,
    )

    src = tmp_path / "sess_src"
    src.mkdir()
    batches = [
        # b1: u1 has events at 00:00 and 00:10 (one open session,
        # window [00:00, 00:40)); u2 seeds its own session
        ([1, 1, 2], ["2024-01-01 00:00:00", "2024-01-01 00:10:00",
                     "2024-01-01 00:05:00"]),
        # b2: u1's 00:25 event is within 30 min of 00:10 → MUST merge
        # into the batch-1 session ([00:00, 00:55)); u1's 02:00 event
        # opens a genuinely new session
        ([1, 1], ["2024-01-01 00:25:00", "2024-01-01 02:00:00"]),
    ]
    now = time.time()
    for i, (uids, tss) in enumerate(batches):
        f = src / f"batch{i + 1}.parquet"
        pd.DataFrame(
            {
                "user_id": pd.array(uids, dtype="int64"),
                "ts": pd.to_datetime(tss),
                "value": [1.0] * len(uids),
            }
        ).to_parquet(f, coerce_timestamps="us")
        os.utime(f, (now - 60 + 20 * i, now - 60 + 20 * i))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    with stream_state_partitions(spark):
        sink = run_to_memory_sink(session_windows(stream, "30 minutes"), "sess_merge_out")
    # complete mode: the table is the final state
    rows = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sink.collect()
    }
    assert rows == {
        (1, pd.Timestamp("2024-01-01 00:00:00"),
         pd.Timestamp("2024-01-01 00:55:00"), 3),  # b1 session ⊕ b2 event
        (1, pd.Timestamp("2024-01-01 02:00:00"),
         pd.Timestamp("2024-01-01 02:30:00"), 1),
        (2, pd.Timestamp("2024-01-01 00:05:00"),
         pd.Timestamp("2024-01-01 00:35:00"), 1),
    }, rows


@pytest.mark.parametrize("n", PARTITIONINGS)
def test_stateful_dedup_bucketed_no_horizon_no_watermark(spark, tmp_path, n):
    """horizon=None (NoTimeout) on a NON-watermarked stream must work —
    the fold may only read the watermark when a horizon is configured
    (getCurrentWatermarkMs raises without withWatermark) — and carry
    each key's first ts and drop count across micro-batches."""
    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import (
        dedup_stream_first_wins_bucketed,
    )

    src = tmp_path / "nohorizon_src"
    _ordered_batches(src, [
        pd.DataFrame({
            "key": ["a", "a", "b"],
            "ts": pd.to_datetime(["2024-01-01 00:10:00", "2024-01-01 00:00:00",
                                  "2024-01-01 00:05:00"]),
        }),
        pd.DataFrame({
            "key": ["b", "c", "a"],
            "ts": pd.to_datetime(["2024-01-02 00:00:00", "2024-01-02 00:01:00",
                                  "2024-01-02 00:02:00"]),
        }),
    ])
    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    with _state_partitions(spark, n, "key", ["a", "b", "c"]):
        batches = _drain_batches(
            dedup_stream_first_wins_bucketed(stream),  # no horizon, no watermark
            tmp_path / "ckpt_bucketed",
        )
    assert [_rows(b) for b in batches] == [
        [
            ("a", pd.Timestamp("2024-01-01 00:00:00"), 1),
            ("b", pd.Timestamp("2024-01-01 00:05:00"), 0),
        ],
        [
            ("a", pd.Timestamp("2024-01-01 00:00:00"), 2),
            ("b", pd.Timestamp("2024-01-01 00:05:00"), 1),
            ("c", pd.Timestamp("2024-01-02 00:01:00"), 0),
        ],
    ]


@pytest.mark.parametrize("n", [1, 2, 3, 4, 8, 32, 200])
def test_state_group_ids_land_one_per_partition(spark, n):
    """Spark's hash partitioner over the n group ids puts exactly one id
    on each partition: every state task folds one group per batch. The
    ids depend on n alone, and functools.cache keys a memo on exactly the
    call's arguments, so the memo holds no session."""
    import inspect

    from pyspark.sql import functions as F

    from projektdataengineering_spark.streaming.stateful import _group_ids

    assert list(inspect.signature(_group_ids).parameters) == ["n"]
    ids = _group_ids(n)
    got = (
        spark.createDataFrame([(i,) for i in ids], "bucket int")
        .repartition(n, "bucket")
        .select("bucket", F.spark_partition_id().alias("p"))
        .collect()
    )
    assert sorted((r["p"], r["bucket"]) for r in got) == list(enumerate(ids))


@pytest.mark.parametrize(
    "first, restart, residues, match",
    [
        # every key again: some group runs on a partition the built
        # count does not give it
        pytest.param(4, 8, None, "query built at 8", id="grow_every_key"),
        # one key on a fresh group (ids 25, 15 at n=8) that the pinned 4
        # places on another partition
        pytest.param(4, 8, (4, 5), "runs on state partition", id="grow_one_key_new_group"),
        # one key on group 12, which both counts place on partition 0 and
        # which holds state stored at 8
        pytest.param(8, 4, (4,), "stored at 8 state partitions, query built at 4", id="shrink_one_key_stored_group"),
    ],
)
def test_bucketed_state_refuses_a_changed_partition_count(spark, tmp_path, first, restart, residues, match):
    """The state partition count is part of a keyed-state checkpoint's
    identity: Spark keeps the count pinned at first start, so a restart
    built at another count would re-home keys to other groups. The
    combinator must fail the batch and name the built count."""
    import pandas as pd
    from pyspark.sql import functions as F

    from projektdataengineering_spark.streaming import stream_state_partitions
    from projektdataengineering_spark.streaming.stateful import (
        dedup_stream_first_wins_bucketed,
    )

    src = tmp_path / "src"
    keys = [f"k{i}" for i in range(40)]
    p8 = dict(
        spark.createDataFrame([(k,) for k in keys], ["key"])
        .select("key", F.pmod(F.hash("key"), F.lit(8)))
        .collect()
    )
    assert {0, 4, 5} <= set(p8.values())
    # the restart batch: every key, or one key of the given pmod(hash, 8)
    again = keys if residues is None else [next(k for k in keys if p8[k] in residues)]

    def run(n, batch, batch_keys):
        frame = pd.DataFrame({"key": batch_keys, "ts": pd.Timestamp("2024-01-01")})
        frame.to_parquet(src / f"b{batch}.parquet", coerce_timestamps="us")
        with stream_state_partitions(spark, n):
            stream = spark.readStream.schema("key string, ts timestamp").parquet(str(src))
            _drain_batches(dedup_stream_first_wins_bucketed(stream), tmp_path / "ckpt")

    src.mkdir()
    run(first, 1, keys)
    with pytest.raises(Exception, match=match):
        run(restart, 2, again)


def test_to_epoch_us_is_unit_independent():
    """bucketed_state's event-time conversion must give the same epoch
    µs for datetime64[ns] and datetime64[us] input (Arrow hands pandas
    either, by version) — floor semantics, before and after 1970."""
    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import to_epoch_us

    ns = pd.Series(pd.to_datetime(
        ["2024-01-01 00:00:00.123456789", "1969-12-31 23:59:59.9999995",
         "1970-01-01 00:00:00.000000"]
    ))
    us = ns.astype("datetime64[us]")
    assert ns.dtype == "datetime64[ns]" and us.dtype == "datetime64[us]"
    assert to_epoch_us(ns).tolist() == to_epoch_us(us).tolist() == [
        1_704_067_200_123_456, -1, 0,
    ]


def test_scoped_conf_restores_or_unsets(spark):
    """scoped_conf: inside the block every conf holds its scoped value;
    on exit — also when the block raises — a key that had a value gets
    it back and a key that had none is unset again."""
    had, fresh = "spark.pde.test.scopedHad", "spark.pde.test.scopedFresh"
    spark.conf.set(had, "7")
    try:
        with pytest.raises(RuntimeError):
            with scoped_conf(spark, {had: "3", fresh: "on"}):
                assert (spark.conf.get(had), spark.conf.get(fresh)) == ("3", "on")
                raise RuntimeError("block failed")
        assert spark.conf.get(had) == "7"
        assert spark.conf.get(fresh, None) is None
    finally:
        spark.conf.unset(had)


def test_epoch_file_feed_delivers_one_epoch_per_batch_in_id_order(spark, tmp_path):
    """epoch_file_feed's contract: micro-batch k holds exactly epoch
    k's rows, so an id-monotone epoch assignment arrives in id order
    (every batch's smallest id above the previous batch's largest)."""
    import random

    from pyspark.sql import functions as F

    from projektdataengineering_spark.streaming import epoch_file_feed

    ids = list(range(30))
    random.Random(7).shuffle(ids)
    frame = spark.createDataFrame(
        [(i, f"r{i}") for i in ids], "id long, tag string"
    ).withColumn("epoch", (F.col("id") / 10).cast("int"))
    feed = epoch_file_feed(spark, frame.repartition(3), str(tmp_path / "feed"))
    got = {}
    q = (
        feed.writeStream.foreachBatch(lambda b, i: got.__setitem__(i, b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = [got[i] for i in sorted(got)]
    assert [sorted((r["id"], r["tag"], r["epoch"]) for r in b) for b in batches] == [
        [(i, f"r{i}", e) for i in range(10 * e, 10 * e + 10)] for e in range(3)
    ]
    for prev, cur in zip(batches, batches[1:]):
        assert min(r["id"] for r in cur) > max(r["id"] for r in prev)
