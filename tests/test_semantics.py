"""Semantic unit tests for the reference's incremental-load behaviors
(SURVEY.md §2.2 O1–O6, FIXTURES.md §B scenarios) over the weather schema.
"""

from __future__ import annotations

import textwrap

import pytest

from projektdataengineering_spark.operators.incremental import (
    dedup_incremental,
    high_water_mark,
    incremental_filter,
)
from projektdataengineering_spark.sources import read_csv_with_casts

CSV = textwrap.dedent(
    """\
    EventId,Type,Severity,StartTimeUTC,EndTimeUTC,PrecipitationIn,TimeZone,AirportCode,LocationLat,LocationLng,City,County,State,ZipCode
    W-1,Rain,Light,2022-01-01 00:00:00,2022-01-01 01:30:00,0.03,US/Eastern,KJFK,40.6413,-73.7781,New York,Queens,NY,11430
    W-2,Snow,Heavy,2022-01-01 00:20:00,2022-01-01 04:00:00,0.71,US/Central,KORD,41.9742,-87.9073,Chicago,Cook,IL,60666
    W-3,Fog,Severe,2021-12-31 23:50:00,2022-01-01 00:40:00,0.00,US/Pacific,KLAX,33.9416,-118.4085,Los Angeles,Los Angeles,CA,90045
    W-4,Hail,Severe,not-a-timestamp,2022-01-02 00:00:00,lots,US/Eastern,KBOS,42.3656,-71.0096,Boston,Suffolk,MA,02128
    """
)


@pytest.fixture(scope="module")
def weather(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("weather") / "events.csv"
    p.write_text(CSV)
    return read_csv_with_casts(spark, str(p)).cache()


def test_cast_layer_types_and_null_on_unparseable(weather):
    # FIXTURES §B scenario 5: bad timestamp/decimal → NULL, never a crash
    types = dict(weather.dtypes)
    assert types["StartTimeUTC"] == "timestamp"
    assert types["PrecipitationIn"] == "decimal(7,2)"
    bad = weather.filter("EventId = 'W-4'").first()
    assert bad["StartTimeUTC"] is None
    assert bad["PrecipitationIn"] is None
    assert bad["EndTimeUTC"] is not None


def test_cast_layer_is_one_projection_in_raw_column_order(spark, weather):
    """The cast layer keeps the raw column order and casts the five typed
    columns in place, in one projection over the CSV relation."""
    from projektdataengineering_spark.sources import WEATHER_CASTS, WEATHER_COLUMNS

    ddl = ", ".join(f"{c} {WEATHER_CASTS.get(c, 'string')}" for c in WEATHER_COLUMNS)
    assert weather.schema == spark.createDataFrame([], ddl).schema
    analyzed = weather._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    assert analyzed.count("Project [") == 1, analyzed


def test_hwm_boundary_strict_greater(weather):
    # O1: a row exactly AT the high-water mark must be dropped
    out = incremental_filter(weather, "StartTimeUTC", "2022-01-01 00:00:00")
    ids = {r["EventId"] for r in out.collect()}
    assert ids == {"W-2"}  # W-1 is exactly at the mark → dropped


def test_bootstrap_empty_warehouse_takes_all(weather):
    # O3: hwm None → everything (including the NULL-ts row, as in the
    # reference where no filter is applied at all)
    out = incremental_filter(weather, "StartTimeUTC", None)
    assert out.count() == 4


def test_late_data_silently_dropped(weather):
    # O2: rows older than the mark never land in batch mode
    out = incremental_filter(weather, "StartTimeUTC", "2021-12-31 23:55:00")
    ids = {r["EventId"] for r in out.collect()}
    assert "W-3" not in ids and ids == {"W-1", "W-2"}


def test_high_water_mark_roundtrip(weather):
    hwm = high_water_mark(weather, "StartTimeUTC")
    assert hwm is not None
    out = incremental_filter(weather, "StartTimeUTC", hwm)
    assert out.count() == 0  # nothing strictly newer than the max


def test_replay_idempotence(spark, weather):
    # O4 fix: replaying the same batch through dedup_incremental → 0 rows
    warehouse = weather.filter("EventId in ('W-1','W-2')")
    first = dedup_incremental(weather, warehouse, "EventId")
    assert {r["EventId"] for r in first.collect()} == {"W-3", "W-4"}
    # after "loading" everything, a replay adds nothing
    replay = dedup_incremental(weather, weather, "EventId")
    assert replay.count() == 0


def test_ntz_normalization_requires_utc_session(spark, tmp_path):
    """The NTZ branch of normalize_event_ts reinterprets naive
    wall-clocks as session-tz instants; under a non-UTC session that
    would silently SHIFT every event instant, so it must fail loudly
    instead (ADVICE r4)."""
    import pytest
    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import normalize_event_ts

    df = spark.range(3).select(
        F.timestamp_micros(F.col("id") * 1_000_000).cast("timestamp_ntz").alias("ts")
    )
    tz_key = "spark.sql.session.timeZone"
    old = spark.conf.get(tz_key)
    try:
        spark.conf.set(tz_key, "America/New_York")
        with pytest.raises(RuntimeError, match="timeZone"):
            normalize_event_ts(df)
        spark.conf.set(tz_key, "UTC")
        out = normalize_event_ts(df)
        assert out.schema["ts"].dataType.typeName() == "timestamp"
    finally:
        spark.conf.set(tz_key, old)


@pytest.mark.parametrize("tz", ["UTC", None], ids=["utc_adjusted", "local"])
def test_nanos_events_take_the_long_branch(spark, tmp_path, tz):
    """A TIMESTAMP(NANOS) events file reads as LONG raw nanos under
    ``nanosAsLong``, UTC-adjusted or not: ``load_table`` turns each into
    the µs timestamp floor(ns/1000), before 1970 too, and
    ``load_events_since(H)`` keeps exactly the rows with ns > H·1000+999
    through a predicate pushed to the parquet scan — the same rows as
    filtering ``load_table`` at ts > H."""
    from datetime import datetime, timedelta, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_events_since, load_table
    from projektdataengineering_spark.plans import explain_string

    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    offsets = [-1500, -1001, -1000, -999, -500, -1, 0, 1, 999, 1000, 1001, 5_000_123]
    # at H = -1 µs, ns = -999 and -1 floor to -1 µs (not after H), where
    # truncation toward zero would give 0 µs
    for hwm in [datetime(2024, 1, 15, tzinfo=timezone.utc), epoch - timedelta(microseconds=1)]:
        h_us = (hwm - epoch) // timedelta(microseconds=1)
        ns = [h_us * 1000 + d for d in offsets]  # ns around H·1000
        sf = tmp_path / str(h_us)
        sf.mkdir()
        table = pa.table({
            "event_id": pa.array(range(len(ns)), pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns", tz=tz)),
        })
        pq.write_table(table, sf / "events.parquet")
        ts_field = pq.read_schema(sf / "events.parquet").field("ts").type
        assert ts_field.unit == "ns" and (ts_field.tz is not None) == (tz is not None)

        events = load_table(spark, str(sf), "events")
        raw = spark.read.parquet(str(sf / "events.parquet")).schema["ts"].dataType
        assert raw.typeName() == "long"
        assert events.schema["ts"].dataType.typeName() == "timestamp"
        got = {r["event_id"]: r["us"] for r in events.select("event_id", F.unix_micros("ts").alias("us")).collect()}
        assert got == {i: v // 1000 for i, v in enumerate(ns)}

        since = load_events_since(spark, str(sf), hwm)
        later = events.filter(F.unix_micros("ts") > h_us)
        assert sorted(r["event_id"] for r in since.collect()) == sorted(
            r["event_id"] for r in later.collect()
        ) == [i for i, v in enumerate(ns) if v // 1000 > h_us] == [9, 10, 11]
        assert f"GreaterThan(ts,{h_us * 1000 + 999})" in explain_string(since)


def test_events_readers_leave_nanos_as_long_set(spark, sf_dir):
    """The engine's one intended session change (catalog.py docstring):
    each events reader sets ``spark.sql.legacy.parquet.nanosAsLong=true``
    on the caller's session and leaves it set, since the executors of a
    TIMESTAMP(NANOS) scan read the file after the reader has returned."""
    from projektdataengineering_spark.catalog import load_events_since, load_table
    from projektdataengineering_spark.streaming import open_event_stream, scoped_conf

    key = "spark.sql.legacy.parquet.nanosAsLong"
    readers = {
        "load_table": lambda: load_table(spark, sf_dir, "events"),
        "load_events_since": lambda: load_events_since(spark, sf_dir, None),
        "open_event_stream": lambda: open_event_stream(spark, sf_dir),
    }
    for name, read in readers.items():
        with scoped_conf(spark, {key: "false"}):
            read()
            assert spark.conf.get(key) == "true", name
