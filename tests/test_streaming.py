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
    return each micro-batch's emitted rows, sorted, in batch order."""
    got = {}
    q = (
        df.writeStream.outputMode("update")
        .foreachBatch(lambda b, i: got.__setitem__(i, sorted(map(tuple, b.collect()))))
        .option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return [got[i] for i in sorted(got)]


def test_stream_tumbling_matches_batch(spark, sf_dir):
    batch = tumbling_counts(load_table(spark, sf_dir, "events"))
    stream = tumbling_counts(open_event_stream(spark, sf_dir))
    run_to_memory_sink(stream, "tumbling_out", output_mode="complete")
    assert _canon(spark.table("tumbling_out")) == _canon(batch)


def test_stream_sliding_matches_batch(spark, sf_dir):
    batch = sliding_avg(load_table(spark, sf_dir, "events"))
    stream = sliding_avg(open_event_stream(spark, sf_dir))
    run_to_memory_sink(stream, "sliding_out", output_mode="complete")
    assert _canon(spark.table("sliding_out")) == _canon(batch)


def test_stream_session_windows_with_watermark(spark, sf_dir):
    """Session windows under a watermark (append mode): every finalized
    streaming session must be a batch session — the watermark may hold
    back only the most recent (non-finalized) windows."""
    batch = set(_canon(session_windows(load_table(spark, sf_dir, "events"))))
    stream = session_windows(
        open_event_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    )
    run_to_memory_sink(stream, "session_out", output_mode="append")
    emitted = set(_canon(spark.table("session_out")))
    assert emitted, "watermarked session stream emitted nothing"
    assert emitted <= batch, "streaming emitted a session batch mode doesn't have"


def test_stateful_dedup_first_wins(spark, sf_dir, tmp_path):
    """Custom stateful operator (applyInPandasWithState): cross-batch
    first-wins dedup. Two files + maxFilesPerTrigger=1 force two
    micro-batches through one query; keyed state must carry the
    first-seen timestamp across them and count every later duplicate."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import dedup_stream_first_wins

    src = tmp_path / "stream_src"
    src.mkdir()
    b1 = pd.DataFrame(
        {
            "key": ["a", "a", "b"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:10:00", "2024-01-01 00:05:00"]
            ),
        }
    )
    b1.to_parquet(src / "batch1.parquet", coerce_timestamps="us")
    b2 = pd.DataFrame(
        {
            "key": ["a", "b", "b"],
            "ts": pd.to_datetime(
                ["2024-01-02 00:00:00", "2024-01-02 00:01:00", "2024-01-02 00:02:00"]
            ),
        }
    )
    b2.to_parquet(src / "batch2.parquet", coerce_timestamps="us")
    # file source orders micro-batches by modification time — pin it
    now = time.time()
    os.utime(src / "batch1.parquet", (now - 60, now - 60))
    os.utime(src / "batch2.parquet", (now, now))

    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = dedup_stream_first_wins(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # update-mode memory sink appends each micro-batch's emissions; the
    # final state per key is the row with the highest drop count
    rows = spark.table("dedup_out").collect()
    assert len(rows) == 4, rows  # (a,b) emitted in both micro-batches
    final = {}
    for r in rows:
        if r["key"] not in final or r["n_dropped"] > final[r["key"]]["n_dropped"]:
            final[r["key"]] = r
    assert final["a"]["n_dropped"] == 2  # 1 in-batch dup + 1 cross-batch
    assert final["b"]["n_dropped"] == 2  # 2 cross-batch dups
    # first-seen timestamps survive across micro-batches in keyed state
    assert final["a"]["first_ts"] == pd.Timestamp("2024-01-01 00:00:00")
    assert final["b"]["first_ts"] == pd.Timestamp("2024-01-01 00:05:00")


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


def test_stateful_sessionizer_carries_sessions_across_batches(spark, sf_dir, tmp_path):
    """Custom stateful sessionizer: a session straddling two
    micro-batches must continue (state carry-over), an in-batch gap
    must close a session, and the final session set must equal the
    BATCH gaps-and-islands sessionization of the same rows."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import sessionize_stream

    src = tmp_path / "sess_src"
    src.mkdir()
    # user u: 3 events bridging the batch split (10-min gaps, < 30min),
    #         then a >30min gap inside batch 2 → second session
    # user v: one event per batch, 2h apart → two singleton sessions
    b1 = pd.DataFrame(
        {
            "key": ["u", "u", "v"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:10:00", "2024-01-01 00:00:00"]
            ),
            "value": [1.0, 2.0, 10.0],
        }
    )
    b2 = pd.DataFrame(
        {
            "key": ["u", "u", "v"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:20:00", "2024-01-01 01:30:00", "2024-01-01 02:00:00"]
            ),
            "value": [4.0, 8.0, 20.0],
        }
    )
    b1.to_parquet(src / "b1.parquet", coerce_timestamps="us")
    b2.to_parquet(src / "b2.parquet", coerce_timestamps="us")
    now = time.time()
    os.utime(src / "b1.parquet", (now - 60, now - 60))
    os.utime(src / "b2.parquet", (now, now))

    stream = (
        spark.readStream.schema("key string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sessionize_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # latest emission per (key, session_start) is the session's truth:
    # higher n_events is newer; at equal counts closed beats open (a
    # session only transitions open → closed without gaining events)
    final = {}
    for r in spark.table("sess_out").collect():
        k = (r["key"], r["session_start"])
        if (
            k not in final
            or r["n_events"] > final[k]["n_events"]
            or (r["n_events"] == final[k]["n_events"] and not r["is_open"])
        ):
            final[k] = r
    sessions = {
        k: (r["n_events"], r["session_last"], r["sum_value"], r["is_open"])
        for k, r in final.items()
    }
    T = pd.Timestamp
    assert sessions == {
        # u session 1: 00:00→00:20 spans BOTH batches (3 events, carried)
        ("u", T("2024-01-01 00:00:00")): (3, T("2024-01-01 00:20:00"), 7.0, False),
        # u session 2: opened by the 01:30 event after the >30min gap
        ("u", T("2024-01-01 01:30:00")): (1, T("2024-01-01 01:30:00"), 8.0, True),
        # v: two singleton sessions 2h apart
        ("v", T("2024-01-01 00:00:00")): (1, T("2024-01-01 00:00:00"), 10.0, False),
        ("v", T("2024-01-01 02:00:00")): (1, T("2024-01-01 02:00:00"), 20.0, True),
    }, sessions


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


def test_stateful_dedup_horizon_evicts_and_reemits(spark, sf_dir, tmp_path):
    """Bounded dedup horizon (round-7): a key idle past the horizon is
    EVICTED from keyed state once the watermark passes last_seen +
    horizon (Spark fires the timeout at the next micro-batch in which
    the key has no data), and its next occurrence re-emits as a fresh
    first (n_dropped restarts at 0). Keys active within the horizon
    keep their state across the same boundary. The state-store row
    counts come straight from the stateful operator's progress
    metrics — the MEASURED state bound."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import dedup_stream_first_wins

    src = tmp_path / "stream_src"
    src.mkdir()
    batches = [
        # b1: keys a (dup in batch) and b
        (["a", "a", "b"],
         ["2024-01-01 00:00:00", "2024-01-01 00:10:00", "2024-01-01 00:05:00"]),
        # b2: 10 days later (horizon = 2 days) — a returns (stays warm),
        # c is new; advances the watermark past b's expiry
        (["a", "c"], ["2024-01-11 00:00:00", "2024-01-11 00:01:00"]),
        # b3: unrelated key d — the batch where b has NO data and its
        # expired timeout actually fires (Spark evicts lazily)
        (["d"], ["2024-01-11 00:02:00"]),
        # b4: b returns after eviction — must re-emit as a fresh FIRST
        (["b"], ["2024-01-12 00:00:00"]),
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
        .withWatermark("ts", "1 second")
    )
    out = dedup_stream_first_wins(stream, horizon="2 days")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("dedup_horizon_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    state_rows = [
        p["stateOperators"][0]["numRowsTotal"] for p in q.recentProgress
    ]
    # 5 state creations happen over the run (a, b, c, d, b-again) but
    # they never all coexist: b is evicted in batch 3, so the store
    # holds exactly [2, 3, 3, 4] over the data batches (availableNow
    # may append a trailing empty batch) and peaks at 4.
    assert state_rows[:4] == [2, 3, 3, 4] and max(state_rows) == 4, state_rows

    rows = spark.table("dedup_horizon_out").collect()
    b_rows = {(r["first_ts"], r["n_dropped"]) for r in rows if r["key"] == "b"}
    # re-emission as a FIRST after eviction: the post-horizon arrival
    # carries its own ts and n_dropped=0 (surviving state would have
    # emitted (2024-01-01 00:05, 1) instead)
    assert b_rows == {
        (pd.Timestamp("2024-01-01 00:05:00"), 0),
        (pd.Timestamp("2024-01-12 00:00:00"), 0),
    }, b_rows
    # a stayed warm across the same boundary: cross-batch dup counted
    a_final = max((r for r in rows if r["key"] == "a"), key=lambda r: r["n_dropped"])
    assert a_final["n_dropped"] == 2
    assert a_final["first_ts"] == pd.Timestamp("2024-01-01 00:00:00")


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
    q = (
        heavy_hitters_stream(stream, k=k)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("mg_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_mg"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = spark.table("mg_stream_out").collect()
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


def test_stateful_dedup_late_batch_cannot_shrink_horizon(spark, tmp_path):
    """Round-8 ADVICE regression: the eviction deadline anchors to the
    max event time EVER seen for the key, not the current batch's max.
    A later out-of-order (within-watermark) batch with OLDER rows must
    not move the timeout backward — otherwise the key evicts before
    last-occurrence + horizon and a within-horizon duplicate re-emits
    as a fresh first."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import dedup_stream_first_wins

    src = tmp_path / "late_src"
    src.mkdir()
    batches = [
        # b1: a @ Jan-20 → deadline Jan-22 (horizon 2 days)
        (["a"], ["2024-01-20 00:00:00"]),
        # b2: a again, 10 days OLDER but inside the 30-day watermark.
        # Unclamped, this would drag the deadline back to Jan-12.
        (["a"], ["2024-01-10 00:00:00"]),
        # b3: watermark advances to Jan-16 — past the buggy Jan-12
        # deadline, NOT past the correct Jan-22 one
        (["z"], ["2024-02-15 00:00:00"]),
        # b4: a has no data; a buggy timeout would fire here and evict
        (["z"], ["2024-02-15 00:01:00"]),
        # b5: a returns within wm — must still be a DUPLICATE of Jan-20
        (["a"], ["2024-02-16 00:00:00"]),
    ]
    now = time.time()
    for i, (keys, tss) in enumerate(batches):
        f = src / f"batch{i + 1}.parquet"
        pd.DataFrame({"key": keys, "ts": pd.to_datetime(tss)}).to_parquet(
            f, coerce_timestamps="us"
        )
        os.utime(f, (now - 100 + 20 * i, now - 100 + 20 * i))

    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "30 days")
    )
    out = dedup_stream_first_wins(stream, horizon="2 days")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("dedup_clamp_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_clamp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = spark.table("dedup_clamp_out").collect()
    a_rows = {(r["first_ts"], r["n_dropped"]) for r in rows if r["key"] == "a"}
    # every a-emission keeps the original first; the b5 arrival counts
    # as the 2nd dropped duplicate — an eviction bug would surface as a
    # fresh (2024-02-16, 0) first instead
    assert a_rows == {
        (pd.Timestamp("2024-01-20 00:00:00"), 0),
        (pd.Timestamp("2024-01-20 00:00:00"), 1),
        (pd.Timestamp("2024-01-20 00:00:00"), 2),
    }, a_rows


def test_stream_cdc_state_machine_across_batches(spark, tmp_path):
    """Streaming CDC fold (streaming/stateful.py:cdc_apply_stream) across
    ordered micro-batches: generation counts must carry over a batch
    boundary, a tombstone at a boundary must close the generation, and
    a post-tombstone re-insert in a LATER batch must open a fresh one."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import cdc_apply_stream

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

    # batch 1: u1 upserts twice; u2 upsert then tombstone (dead at boundary)
    b1 = rows(0, 0, [("u1", "click"), ("u2", "view"), ("u1", "view"), ("u2", "error")])
    # batch 2: u1 tombstone then re-insert (fresh generation);
    #          u2 re-inserts after its batch-1 tombstone
    b2 = rows(10, 100, [("u1", "error"), ("u1", "purchase"), ("u2", "click"), ("u2", "view")])
    src = tmp_path / "cdc_src"
    src.mkdir()
    now = time.time()
    for i, b in enumerate([b1, b2]):
        f = src / f"batch{i + 1}.parquet"
        b.astype({"ts": "datetime64[us]"}).to_parquet(f)
        os.utime(f, (now - 40 + 20 * i, now - 40 + 20 * i))

    stream = (
        spark.readStream.schema("key string, ts timestamp, event_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        cdc_apply_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("cdc_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_cdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = spark.table("cdc_stream_out").toPandas()
    final = {
        r["key"]: r
        for _, r in out.sort_values("n_seen").iterrows()  # last update wins
    }
    u1, u2 = final["u1"], final["u2"]
    # u1: 2 upserts | tombstone + re-insert -> 1 tombstone, alive,
    # open generation has exactly the re-inserted row
    assert (u1["n_tombstones"], u1["alive"], u1["gen_events"], u1["n_seen"]) == (1, True, 1, 4)
    assert u1["last_event_type"] == "purchase"
    # u2: upsert+tombstone | 2 re-inserts -> dead at the boundary, then
    # a fresh 2-event generation
    assert (u2["n_tombstones"], u2["alive"], u2["gen_events"], u2["n_seen"]) == (1, True, 2, 4)
    # and the mid-stream state after batch 1 must have shown u2 dead
    mid = out[(out["key"] == "u2") & (out["n_seen"] == 2)].iloc[0]
    assert not mid["alive"] and mid["gen_events"] == 0 and mid["n_tombstones"] == 1


@pytest.mark.parametrize("n", PARTITIONINGS)
def test_stream_cdc_bucketed_state_machine_across_batches(spark, tmp_path, n):
    """The bucketed CDC fold (cdc_apply_stream_bucketed) must emit, batch
    for batch, exactly what the per-key reference cdc_apply_stream emits
    across ordered micro-batches — generation carry-over, tombstone at a
    boundary, post-tombstone re-insert — whether keys share one state
    group or each has its own. A caller's ``bucket`` column is replaced:
    the stored groups are the keys' derived ids, one per partition."""
    import pandas as pd
    from pyspark.sql import functions as F

    from projektdataengineering_spark.streaming.stateful import (
        _group_ids,
        cdc_apply_stream,
        cdc_apply_stream_bucketed,
    )

    def rows(eid0, ts0, spec):
        return pd.DataFrame(
            {
                "key": [k for k, _ in spec],
                "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=ts0 + i) for i in range(len(spec))],
                "event_id": [eid0 + i for i in range(len(spec))],
                "event_type": [t for _, t in spec],
            }
        )

    # the per-key test's fixture
    src = tmp_path / "cdc_bucketed_src"
    _ordered_batches(src, [
        rows(0, 0, [("u1", "click"), ("u2", "view"), ("u1", "view"), ("u2", "error")]),
        rows(10, 100, [("u1", "error"), ("u1", "purchase"), ("u2", "click"), ("u2", "view")]),
    ])

    def read():
        return (
            spark.readStream.schema("key string, ts timestamp, event_id long, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    per_key = _drain_batches(cdc_apply_stream(read()), tmp_path / "ckpt_ref")
    with _state_partitions(spark, n, "key", ["u1", "u2"]):
        bucketed = _drain_batches(
            cdc_apply_stream_bucketed(read().withColumn("bucket", F.lit(-1))),
            tmp_path / "ckpt_bucketed",
        )
    assert bucketed == per_key
    parts = spark.createDataFrame([("u1",), ("u2",)], ["key"]).select(
        F.pmod(F.hash("key"), F.lit(n))
    )
    stored = spark.read.format("statestore").load(str(tmp_path / "ckpt_bucketed"))
    assert sorted(map(tuple, stored.select("key.bucket", "partition_id").collect())) == sorted(
        {(_group_ids(spark, n)[p], p) for (p,) in parts.collect()}
    )
    # (key, n_tombstones, alive, last_event_type, gen_events, n_seen):
    # u2 dead at the batch-1 boundary, then a fresh 2-event generation
    assert ("u2", 1, False, "error", 0, 2) in per_key[0]
    assert ("u2", 1, True, "view", 2, 4) in per_key[1]


@pytest.mark.parametrize("n", PARTITIONINGS)
def test_stream_ewma_bucketed_equals_per_key_across_batches(spark, tmp_path, n):
    """The bucketed EWMA fold must carry (s, n) across micro-batches and
    emit, batch for batch, bit-equal rows to the per-key reference
    operator (group co-residence must not mix users' state). User 4's
    second-batch rows are all NULL: the per-key fold still emits its
    carried state, so the bucketed fold must too."""
    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import (
        ewma_stream,
        ewma_stream_bucketed,
    )

    def rows(eid0, ts0, spec):
        return pd.DataFrame(
            {
                "user_id": [u for u, _ in spec],
                "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=ts0 + i) for i in range(len(spec))],
                "event_id": [eid0 + i for i in range(len(spec))],
                "value": [v for _, v in spec],
            }
        )

    src = tmp_path / "ewma_bucketed_src"
    _ordered_batches(src, [
        rows(0, 0, [(1, 10.0), (2, 5.0), (1, None), (1, 7.0), (4, 2.0)]),
        rows(10, 100, [(2, 1.0), (1, 3.0), (3, 2.5), (2, None), (4, None), (4, None)]),
    ])

    def read():
        return (
            spark.readStream.schema("user_id long, ts timestamp, event_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    per_key = _drain_batches(ewma_stream(read(), alpha=0.25), tmp_path / "ckpt_ref")
    with _state_partitions(spark, n, "user_id", [1, 2, 3, 4]):
        bucketed = _drain_batches(
            ewma_stream_bucketed(read(), alpha=0.25), tmp_path / "ckpt_bucketed"
        )
    assert bucketed == per_key
    assert (1, 3, 0.25 * 3.0 + 0.75 * (0.25 * 7.0 + 0.75 * 10.0)) in per_key[1]
    assert (4, 1, 2.0) in per_key[1]  # the NULL-only batch re-emits state


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
    q = (
        attribution_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib_out")
        .option("checkpointLocation", str(tmp_path / "attrib_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = {r["event_id"]: r for r in spark.table("attrib_out").collect()}
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
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("ddww_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = spark.table("ddww_out").collect()
    k_ts = sorted(str(r["ts"]) for r in rows if r["key"] == "k")
    # exactly two emissions of k: the original first, and the
    # post-eviction resurrection — the 00:10 and 00:20 duplicates died
    assert k_ts == ["2024-01-01 00:00:00", "2024-01-01 10:30:00"], rows
    assert sum(1 for r in rows if r["key"] == "z") == 1


def test_stateful_dedup_bucketed_carry_and_eager_sweep(spark, tmp_path):
    """Bucketed dedup twin (round 12 — streaming/stateful.py
    dedup_stream_first_wins_bucketed): keys sharing a state group must
    stay fully independent, carry first_ts/n_dropped across
    micro-batches exactly like the per-key operator, and honor the
    EAGER horizon sweep — a key whose (max_ts + horizon) the watermark
    passed is removed at the group's next invocation even when the
    key itself arrives with data in that same batch, so the re-arrival
    is a fresh first (stricter than Spark's lazy per-key timeout).
    Run at two state partition counts: at n=1 every key shares one
    group, so b3's data invocation sweeps the idle b and c too; at n=5
    a, b and c each have their own group, so b3 sweeps b and c through
    their idle groups' event-time timeout."""
    import os
    import time

    import pandas as pd
    from pyspark.sql import functions as F

    from projektdataengineering_spark.streaming.stateful import (
        dedup_stream_first_wins_bucketed,
    )

    src = tmp_path / "bucketed_src"
    src.mkdir()
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
        # case: a fresh first, where the per-key lazy timeout would
        # have counted a duplicate (timeouts never fire for a key
        # that has data). b and c are swept idle in the same batch.
        (["a"], ["2024-01-12 00:00:00"]),
        # b4: b returns after its sweep — fresh first too
        (["b"], ["2024-01-12 06:00:00"]),
    ]
    now = time.time()
    for i, (keys, tss) in enumerate(batches):
        f = src / f"batch{i + 1}.parquet"
        pd.DataFrame({"key": keys, "ts": pd.to_datetime(tss)}).to_parquet(
            f, coerce_timestamps="us"
        )
        os.utime(f, (now - 80 + 20 * i, now - 80 + 20 * i))

    for n in (1, 5):
        stream = (
            spark.readStream.schema("key string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withWatermark("ts", "1 second")
        )
        ckpt = tmp_path / f"ckpt_bucketed_{n}"
        with _state_partitions(spark, n, "key", ["a", "b", "c"]):
            out = dedup_stream_first_wins_bucketed(stream, horizon="2 days")
            q = (
                out.writeStream.outputMode("update")
                .format("memory")
                .queryName(f"dedup_bucketed_out_{n}")
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        rows = spark.table(f"dedup_bucketed_out_{n}").collect()
        by_key = {}
        for r in rows:
            by_key.setdefault(r["key"], set()).add(
                (r["first_ts"], r["n_dropped"])
            )
        # a: in-batch dup in b1, then the EAGER-sweep fresh first in b3 —
        # swept and re-seeded in ONE group invocation, which the per-key
        # operator's lazy timeout cannot do
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
        q = (
            session_windows(stream, "30 minutes")
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("sess_merge_out")
            .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # complete mode: the table is the final state
    rows = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("sess_merge_out").collect()
    }
    assert rows == {
        (1, pd.Timestamp("2024-01-01 00:00:00"),
         pd.Timestamp("2024-01-01 00:55:00"), 3),  # b1 session ⊕ b2 event
        (1, pd.Timestamp("2024-01-01 02:00:00"),
         pd.Timestamp("2024-01-01 02:30:00"), 1),
        (2, pd.Timestamp("2024-01-01 00:05:00"),
         pd.Timestamp("2024-01-01 00:35:00"), 1),
    }, rows


def test_transform_with_state_running_totals_or_documented_absence(
    spark, sf_dir, tmp_path
):
    """transformWithState (Spark 4's arbitrary-state API,
    streaming/stateful.py running_totals_stream) — availability-gated
    like the Avro/JDBC boundaries: its Python runner initializes a
    protobuf-based state channel, and this sandbox ships no usable
    google.protobuf, so the query cannot execute here
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). On a deployment
    with protobuf this runs the full check: RocksDB-backed ValueState
    running totals under availableNow must equal the batch aggregate.
    The boundary is documented in SURVEY.md §2.3."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip(
            "google.protobuf not importable — transformWithState's "
            "Python runner cannot initialize in this sandbox; boundary "
            "documented in SURVEY.md §2.3 (the spark-avro discipline)"
        )

    import math

    from pyspark.sql import functions as F

    from projektdataengineering_spark.streaming import (
        open_event_stream,
        rocksdb_state_store,
        run_to_memory_sink,
        stream_state_partitions,
    )
    from projektdataengineering_spark.streaming.stateful import (
        running_totals_stream,
    )

    keyed = open_event_stream(spark, sf_dir).select("user_id", "ts", "value")
    with stream_state_partitions(spark), rocksdb_state_store(spark):
        run_to_memory_sink(
            running_totals_stream(keyed), "tws_totals_out", output_mode="update"
        )
    got = {
        r["user_id"]: (r["n_events"], r["cents"])
        for r in spark.table("tws_totals_out")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("cents", "n_events").alias("cents"),
        )
        .collect()
    }
    from projektdataengineering_spark.catalog import load_table

    exp = {}
    for r in load_table(spark, sf_dir, "events").select("user_id", "value").collect():
        n, c = exp.get(r["user_id"], (0, 0))
        exp[r["user_id"]] = (
            n + 1,
            c + (0 if r["value"] is None else int(math.floor(r["value"] * 100 + 0.5))),
        )
    assert got == exp


@pytest.mark.parametrize("n", PARTITIONINGS)
def test_stateful_dedup_bucketed_no_horizon_no_watermark(spark, tmp_path, n):
    """horizon=None (NoTimeout) on a NON-watermarked stream must work —
    the fold may only read the watermark when a horizon is configured
    (getCurrentWatermarkMs raises without withWatermark) — and, with no
    expiry to diverge on, emit batch for batch what the per-key
    reference dedup_stream_first_wins emits."""
    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import (
        dedup_stream_first_wins,
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

    def read():
        return (
            spark.readStream.schema("key string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    per_key = _drain_batches(dedup_stream_first_wins(read()), tmp_path / "ckpt_ref")
    with _state_partitions(spark, n, "key", ["a", "b", "c"]):
        bucketed = _drain_batches(
            dedup_stream_first_wins_bucketed(read()),  # no horizon, no watermark
            tmp_path / "ckpt_bucketed",
        )
    assert bucketed == per_key
    assert per_key[1] == [
        ("a", pd.Timestamp("2024-01-01 00:00:00"), 2),
        ("b", pd.Timestamp("2024-01-01 00:05:00"), 1),
        ("c", pd.Timestamp("2024-01-02 00:01:00"), 0),
    ]


@pytest.mark.parametrize("n", [1, 2, 3, 4, 8, 32, 200])
def test_state_group_ids_land_one_per_partition(spark, n):
    """Spark's hash partitioner over the n group ids puts exactly one id
    on each partition: every state task folds one group per batch."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.streaming.stateful import _group_ids

    ids = _group_ids(spark, n)
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
    from projektdataengineering_spark.streaming import scoped_conf

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
