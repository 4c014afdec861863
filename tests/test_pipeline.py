"""End-to-end batch pipeline tests: the reference's weather_task main()
re-expressed Spark-first (pipeline.run_incremental_batch), over real
temp directories — bootstrap, incremental second batch, replay
idempotence, archive layout (O6), the single-action row count (O5), an
unreadable warehouse failing the batch (O4), and the footer high-water
mark, job count and anti-join shape of the idempotence checks.
"""

from __future__ import annotations

import os
import pathlib
import re
import textwrap
from datetime import datetime, timezone

import pytest
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameWriter

from projektdataengineering_spark.operators import incremental
from projektdataengineering_spark.pipeline import run_incremental_batch
from projektdataengineering_spark.plans import explain_string
from projektdataengineering_spark.sources import WEATHER_CASTS, read_existing, weather_raw_schema
from projektdataengineering_spark.streaming import scoped_conf

BATCH1 = textwrap.dedent(
    """\
    EventId,Type,Severity,StartTimeUTC,EndTimeUTC,PrecipitationIn,TimeZone,AirportCode,LocationLat,LocationLng,City,County,State,ZipCode
    W-1,Rain,Light,2022-01-01 00:00:00,2022-01-01 01:30:00,0.03,US/Eastern,KJFK,40.6413,-73.7781,New York,Queens,NY,11430
    W-2,Snow,Heavy,2022-01-01 00:20:00,2022-01-01 04:00:00,0.71,US/Central,KORD,41.9742,-87.9073,Chicago,Cook,IL,60666
    """
)

# W-3 is strictly newer; W-LATE is at exactly the batch-1 HWM (must be
# dropped: strict >, O1); W-OLD is older (late data, dropped: O2).
BATCH2 = textwrap.dedent(
    """\
    EventId,Type,Severity,StartTimeUTC,EndTimeUTC,PrecipitationIn,TimeZone,AirportCode,LocationLat,LocationLng,City,County,State,ZipCode
    W-3,Fog,Severe,2022-01-01 02:00:00,2022-01-01 02:40:00,0.00,US/Pacific,KLAX,33.9416,-118.4085,Los Angeles,Los Angeles,CA,90045
    W-LATE,Rain,Light,2022-01-01 00:20:00,2022-01-01 01:00:00,0.10,US/Eastern,KBOS,42.3656,-71.0096,Boston,Suffolk,MA,02128
    W-OLD,Hail,Severe,2021-12-31 20:00:00,2021-12-31 21:00:00,0.50,US/Eastern,KPHL,39.8729,-75.2437,Philadelphia,Philadelphia,PA,19153
    """
)


@pytest.fixture()
def dirs(tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    return {
        "landing": landing,
        "warehouse": str(tmp_path / "warehouse"),
        "archive": str(tmp_path / "archive"),
    }


def _run(spark, dirs, when, **kw):
    return run_incremental_batch(
        spark,
        landing_path=str(dirs["landing"]),
        warehouse_path=dirs["warehouse"],
        archive_root=dirs["archive"],
        dataset="weather_data",
        ts_col="StartTimeUTC",
        casts=WEATHER_CASTS,
        schema=weather_raw_schema(),
        now=when,
        **kw,
    )


@pytest.fixture()
def aggregate_calls(monkeypatch):
    """Arguments of every call the high-water mark makes to the MAX
    aggregate (``incremental.high_water_mark``): empty on the footer path."""
    calls = []
    real = incremental.high_water_mark

    def counted(df, ts_col):
        calls.append(ts_col)
        return real(df, ts_col)

    monkeypatch.setattr(incremental, "high_water_mark", counted)
    return calls


def _at_write(monkeypatch, spark, group):
    """Patch the parquet writer to record, at each call, the DataFrame it
    writes and the Spark jobs job group ``group`` has started so far."""
    seen = []
    real = DataFrameWriter.parquet
    sc = spark.sparkContext

    def record(writer, *a, **kw):
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker
        seen.append((writer._df, len(sc.statusTracker().getJobIdsForGroup(group))))
        return real(writer, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", record)
    return seen


def test_bootstrap_then_incremental_then_replay(spark, dirs):
    t1 = datetime(2022, 1, 8, 12, 0, 0, tzinfo=timezone.utc)
    (dirs["landing"] / "b1.csv").write_text(BATCH1)
    r1 = _run(spark, dirs, t1)
    assert r1.rows_written == 2  # O3: empty warehouse takes everything
    assert r1.high_water_mark is None
    assert len(r1.archived) == 1

    # landing dir now empty (file archived); second batch arrives
    (dirs["landing"] / "b2.csv").write_text(BATCH2)
    t2 = datetime(2022, 1, 15, 12, 0, 0, tzinfo=timezone.utc)
    r2 = _run(spark, dirs, t2)
    assert r2.rows_written == 1  # only W-3: O1 strict > drops W-LATE, O2 drops W-OLD
    assert r2.high_water_mark == datetime(2022, 1, 1, 0, 20, 0)

    wh = spark.read.parquet(dirs["warehouse"])
    assert sorted(r["EventId"] for r in wh.select("EventId").collect()) == [
        "W-1",
        "W-2",
        "W-3",
    ]

    # replay the same batch (crash-between-write-and-archive scenario):
    # HWM now at W-3's ts → zero rows, warehouse unchanged
    (dirs["landing"] / "b2_replay.csv").write_text(BATCH2)
    r3 = _run(spark, dirs, datetime(2022, 1, 15, 13, 0, 0, tzinfo=timezone.utc))
    assert r3.rows_written == 0
    assert spark.read.parquet(dirs["warehouse"]).count() == 3


def test_unreadable_warehouse_fails_the_batch_o4(spark, dirs):
    """O4: a warehouse whose stored files cannot be read fails the batch:
    nothing is written, nothing is archived. Treating the read error as
    an empty warehouse would bootstrap and append the replayed rows
    again."""
    (dirs["landing"] / "b1.csv").write_text(BATCH1)
    _run(spark, dirs, datetime(2022, 1, 8, tzinfo=timezone.utc))
    (dirs["landing"] / "b2.csv").write_text(BATCH2)
    _run(spark, dirs, datetime(2022, 1, 15, tzinfo=timezone.utc))
    stored = sorted(pathlib.Path(dirs["warehouse"]).glob("*.parquet"))
    for f in stored:  # cut every footer off
        f.write_bytes(f.read_bytes()[: f.stat().st_size // 2])
    before = {f.name: f.stat().st_size for f in pathlib.Path(dirs["warehouse"]).iterdir()}

    (dirs["landing"] / "b1_replay.csv").write_text(BATCH1)
    (dirs["landing"] / "b2_replay.csv").write_text(BATCH2)
    with pytest.raises(Exception, match="(?i)parquet"):
        _run(spark, dirs, datetime(2022, 1, 22, tzinfo=timezone.utc), key_col="EventId")
    after = {f.name: f.stat().st_size for f in pathlib.Path(dirs["warehouse"]).iterdir()}
    assert after == before
    assert sorted(f.name for f in dirs["landing"].iterdir()) == ["b1_replay.csv", "b2_replay.csv"]


def _stored(spark, path):
    return read_existing(spark, path, T.StructType([T.StructField("ts", T.TimestampType())]))


def _rows(spark, *ts):
    return spark.createDataFrame([(t,) for t in ts], "ts string").selectExpr(
        "CAST(ts AS TIMESTAMP) AS ts"
    )


@pytest.mark.parametrize(
    "case", ["multi_file", "empty_append", "null_only_file", "micros", "millis"]
)
def test_footer_mark_equals_the_aggregate(spark, tmp_path, aggregate_calls, case):
    """The high-water mark read from parquet footers equals the MAX
    aggregate over the same files, exact to the unit the files store, and
    runs no aggregate: over several files, beside a 0-row append file,
    beside a file whose timestamps are all NULL, at µs precision, and in
    TIMESTAMP_MILLIS files."""
    wh = str(tmp_path / "wh")
    unit = "TIMESTAMP_MILLIS" if case == "millis" else "TIMESTAMP_MICROS"
    appends = {
        "multi_file": [("2022-01-01 00:00:00", "2022-03-01 10:00:00"), ("2022-02-01 00:00:00",)],
        "empty_append": [("2022-01-01 00:00:00", "2022-01-02 00:00:00"), ()],
        "null_only_file": [("2022-01-01 00:00:00",), (None, None)],
        "micros": [("2022-01-01 00:00:00.123456", "2022-01-01 00:00:00.123455")],
        "millis": [("2022-01-01 00:00:00.123", "2021-01-01 00:00:00.999")],
    }[case]
    with scoped_conf(spark, {"spark.sql.parquet.outputTimestampType": unit}):
        for ts in appends:
            _rows(spark, *ts).coalesce(1).write.mode("append").parquet(wh)
    mark = incremental.stored_high_water_mark(_stored(spark, wh), "ts")
    assert aggregate_calls == []
    assert mark == incremental.high_water_mark(spark.read.parquet(wh), "ts")
    assert mark is not None


@pytest.mark.parametrize(
    "confs, ts",
    [
        ({"spark.sql.parquet.outputTimestampType": "INT96"}, ("2022-01-01 00:00:00.5", "2022-01-03")),
        ({"spark.sql.parquet.datetimeRebaseModeInWrite": "LEGACY"}, ("1000-01-01", "1000-01-03")),
    ],
    ids=["int96", "legacy_rebase"],
)
def test_warehouse_without_exact_footers_takes_the_aggregate_path(
    spark, tmp_path, aggregate_calls, confs, ts
):
    """A warehouse whose footers cannot give the mark exactly — INT96
    timestamps (a session without the ``outputTimestampType`` pin) carry
    no statistics, and Spark's legacy calendar rebase stores other values
    than it reads back — gets the MAX aggregate's mark."""
    wh = str(tmp_path / "wh")
    with scoped_conf(spark, confs):
        _rows(spark, *ts).write.parquet(wh)
    mark = incremental.stored_high_water_mark(_stored(spark, wh), "ts")
    assert aggregate_calls == ["ts"]
    assert mark == incremental.high_water_mark(spark.read.parquet(wh), "ts")


def test_footer_path_fails_on_a_file_with_another_type(spark, tmp_path):
    """On the footer path a stored file that lacks a column of the read
    schema, or holds it with another type, fails instead of reading as
    NULLs."""
    wh = str(tmp_path / "wh")
    _rows(spark, "2022-01-01 00:00:00").write.parquet(wh)
    spark.createDataFrame([("x",)], "ts string").write.mode("append").parquet(wh)
    with pytest.raises(ValueError, match="column ts is string"):
        incremental.stored_high_water_mark(_stored(spark, wh), "ts")
    other = str(tmp_path / "other")
    spark.createDataFrame([("x",)], "k string").write.parquet(other)
    with pytest.raises(ValueError, match="column ts is None"):
        incremental.stored_high_water_mark(_stored(spark, other), "ts")


def test_row_at_a_microsecond_mark_is_dropped(spark, dirs, aggregate_calls):
    """O1 at µs precision: a stored mark of ...00.123456 drops a new row
    at exactly that instant and keeps one 1 µs later."""
    head = BATCH1.splitlines()[0]
    row = "{},Rain,Light,2022-01-01 00:00:00.{},,0.03,US/Eastern,KJFK,40.6,-73.7,A,B,NY,1"
    (dirs["landing"] / "b1.csv").write_text("\n".join([head, row.format("U-1", "123456")]) + "\n")
    _run(spark, dirs, datetime(2022, 1, 8, tzinfo=timezone.utc), key_col="EventId")
    (dirs["landing"] / "b2.csv").write_text(
        "\n".join([head, row.format("U-2", "123456"), row.format("U-3", "123457")]) + "\n"
    )
    r = _run(spark, dirs, datetime(2022, 1, 9, tzinfo=timezone.utc), key_col="EventId")
    assert aggregate_calls == []
    assert r.high_water_mark == datetime(2022, 1, 1, 0, 0, 0, 123456)
    assert r.rows_written == 1
    ids = {x["EventId"] for x in spark.read.parquet(dirs["warehouse"]).collect()}
    assert ids == {"U-1", "U-3"}


def test_batch_starts_no_job_before_its_write(spark, dirs, monkeypatch):
    """With a stored warehouse, the batch reads no schema, runs no
    high-water-mark aggregate and broadcasts no key column before its
    write: the job group has started no Spark job when the writer is
    called."""
    (dirs["landing"] / "b1.csv").write_text(BATCH1)
    _run(spark, dirs, datetime(2022, 1, 8, tzinfo=timezone.utc))
    (dirs["landing"] / "b2.csv").write_text(BATCH2)
    seen = _at_write(monkeypatch, spark, "batch_jobs")
    sc = spark.sparkContext
    sc.setJobGroup("batch_jobs", "batch")
    try:
        r = _run(spark, dirs, datetime(2022, 1, 15, tzinfo=timezone.utc), key_col="EventId")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r.rows_written == 1
    assert [jobs for _, jobs in seen] == [0]


def _tree(df):
    """The indented operator tree of ``df``'s formatted physical plan."""
    return explain_string(df).split("\n\n")[0].splitlines()[2:]


def _build_side(tree, line):
    """Lines of the subtree under the last (BuildRight) child of the
    node on ``tree[line]``."""
    depth = [re.search(r"[A-Z]", t).start() for t in tree]
    end = next((k for k in range(line + 1, len(tree)) if depth[k] <= depth[line]), len(tree))
    last = max(k for k in range(line + 1, end) if depth[k] == depth[line] + 3)
    return tree[last:end]


def test_anti_join_builds_on_the_batch_keys(spark, dirs, monkeypatch):
    """The key dedup's plan: a LeftSemi join builds on the batch's keys
    (a CSV scan) and streams the stored key column; the LeftAnti join
    builds on that semi-join's output. No join builds on the stored key
    column itself, and no hint forces the shape. (Once the stored key
    column outgrows the broadcast threshold, the static anti-join is a
    SortMergeJoin; AQE turns it into this broadcast when it measures the
    semi-join's output.)"""
    (dirs["landing"] / "b1.csv").write_text(BATCH1)
    _run(spark, dirs, datetime(2022, 1, 8, tzinfo=timezone.utc))
    (dirs["landing"] / "b2.csv").write_text(BATCH2)
    seen = _at_write(monkeypatch, spark, "anti_join_plan")
    _run(spark, dirs, datetime(2022, 1, 15, tzinfo=timezone.utc), key_col="EventId")
    tree = _tree(seen[0][0])
    joins = [k for k, t in enumerate(tree) if "Join" in t]
    assert [tree[k].split("- ", 1)[-1].rsplit(" (", 1)[0] for k in joins] == [
        "BroadcastHashJoin LeftAnti BuildRight",
        "BroadcastHashJoin LeftSemi BuildRight",
    ], tree
    anti, semi = (_build_side(tree, k) for k in joins)
    assert "BroadcastHashJoin LeftSemi" in anti[1], anti
    assert any("Scan csv" in t for t in semi) and not any("Scan parquet" in t for t in semi)
    assert "strategy=" not in explain_string(seen[0][0], "extended")  # no join hint


def test_archive_layout_is_dated_o6(spark, dirs):
    (dirs["landing"] / "b1.csv").write_text(BATCH1)
    when = datetime(2022, 1, 8, 9, 30, 45, tzinfo=timezone.utc)
    r = _run(spark, dirs, when)
    (dst,) = r.archived
    assert dst.endswith("archive/weather_data/2022-01-08/093045_b1.csv"), dst
    assert os.path.exists(dst.removeprefix("file:"))
    # source file is gone from the landing zone
    assert list(dirs["landing"].glob("*.csv")) == []


def test_streaming_ingest_with_native_archive(spark, dirs, tmp_path):
    """Streaming-native ingest: file source + cleanSource=archive. The
    checkpoint is the high-water mark — re-running with no new files
    writes nothing; processed files leave the landing zone."""
    import time

    from projektdataengineering_spark.pipeline import run_streaming_ingest

    (dirs["landing"] / "b1.csv").write_text(BATCH1)
    ckpt = str(tmp_path / "ckpt")
    n1 = run_streaming_ingest(
        spark,
        landing_path=str(dirs["landing"]),
        warehouse_path=dirs["warehouse"],
        archive_root=dirs["archive"],
        checkpoint_path=ckpt,
        casts=WEATHER_CASTS,
        schema=weather_raw_schema(),
    )
    assert n1 == 2
    wh = spark.read.parquet(dirs["warehouse"])
    assert wh.count() == 2
    assert dict(wh.dtypes)["StartTimeUTC"] == "timestamp"

    # replay with nothing new: checkpoint suppresses re-ingest
    n2 = run_streaming_ingest(
        spark,
        landing_path=str(dirs["landing"]),
        warehouse_path=dirs["warehouse"],
        archive_root=dirs["archive"],
        checkpoint_path=ckpt,
        casts=WEATHER_CASTS,
        schema=weather_raw_schema(),
    )
    assert n2 == 0
    assert spark.read.parquet(dirs["warehouse"]).count() == 2

    # a NEW file advances the log; committing the next batch lets the
    # async cleaner archive the fully-processed earlier file
    (dirs["landing"] / "b2.csv").write_text(BATCH2)
    n3 = run_streaming_ingest(
        spark,
        landing_path=str(dirs["landing"]),
        warehouse_path=dirs["warehouse"],
        archive_root=dirs["archive"],
        checkpoint_path=ckpt,
        casts=WEATHER_CASTS,
        schema=weather_raw_schema(),
    )
    assert n3 == 3
    assert spark.read.parquet(dirs["warehouse"]).count() == 5

    deadline = time.time() + 20
    while time.time() < deadline and (dirs["landing"] / "b1.csv").exists():
        time.sleep(0.5)
    assert not (dirs["landing"] / "b1.csv").exists()
    archived = [str(p) for p in pathlib.Path(dirs["archive"]).rglob("b1.csv")]
    assert archived, "b1.csv not found under the archive root"


def test_json_lines_roundtrip_and_corrupt_records(spark, tmp_path):
    """JSON edge format: write→read round-trips values and nulls
    losslessly under the explicit schema; a malformed line surfaces in
    _corrupt_record instead of failing the batch."""
    from pyspark.sql import types as T

    from projektdataengineering_spark.sources import read_json_lines, write_json_lines

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("score", T.DoubleType(), True),
        ]
    )
    rows = [(1, "alpha", 0.5), (2, None, 2.25), (3, "gamma", None)]
    df = spark.createDataFrame(rows, schema)
    out = str(tmp_path / "json_out")
    write_json_lines(df, out)
    back = read_json_lines(spark, out, schema).cache()
    got = sorted(
        (r["id"], r["name"], r["score"]) for r in back.select("id", "name", "score").collect()
    )
    assert got == sorted(rows)
    assert back.filter("_corrupt_record IS NOT NULL").count() == 0

    corrupt_dir = tmp_path / "json_corrupt"
    corrupt_dir.mkdir()
    (corrupt_dir / "part-0.json").write_text(
        '{"id": 7, "name": "ok", "score": 1.0}\nnot json at all\n'
    )
    mixed = read_json_lines(spark, str(corrupt_dir), schema).cache()
    assert mixed.filter("_corrupt_record IS NOT NULL").count() == 1
    assert mixed.filter("id = 7").count() == 1


def test_jdbc_read_wrapper_reaches_spark_jdbc_source(spark):
    """No database ships in this sandbox, so the boundary test proves
    the WIRING: the pushed-subquery dbtable and options must reach
    Spark's JDBC relation provider, which then fails on the missing
    driver — a failure naming the driver/connection, not our wrapper."""
    from projektdataengineering_spark.sources import (
        jdbc_pushed_query,
        read_jdbc_pushdown,
    )

    q = jdbc_pushed_query("SELECT MAX(ts) AS hwm FROM warehouse.events")
    assert q == "(SELECT MAX(ts) AS hwm FROM warehouse.events) AS pushed"
    with pytest.raises(Exception) as ei:
        read_jdbc_pushdown(
            spark,
            url="jdbc:postgresql://localhost:1/nope",
            table_or_query=q,
            properties={"user": "u", "password": "p", "driver": "org.postgresql.Driver"},
        )
    msg = str(ei.value)
    # Spark's JDBC source took over: the error is about the driver class
    # or the connection, never about our option plumbing
    assert "org.postgresql.Driver" in msg or "Connection" in msg, msg


def test_s3a_session_hook_sets_hadoop_conf(spark):
    """configure_s3a must land every reference-parity key on the live
    Hadoop configuration (endpoint, creds, path-style, provider)."""
    from projektdataengineering_spark.session import configure_s3a

    configure_s3a(
        spark, endpoint="http://localhost:9000", access_key="ak", secret_key="sk"
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "http://localhost:9000"
    assert hconf.get("fs.s3a.access.key") == "ak"
    assert hconf.get("fs.s3a.secret.key") == "sk"
    assert hconf.get("fs.s3a.path.style.access") == "true"
    assert (
        hconf.get("fs.s3a.aws.credentials.provider")
        == "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
    )


def test_surrogate_key_uuid_column_d1(spark, dirs):
    """SURVEY §2.1 D1: the warehouse write can generate a UUID
    surrogate key per written row (reference postgres/init.sql:2
    ``gen_random_uuid()``). Non-deterministic by design — assert
    schema + per-row uniqueness + RFC-4122 shape, never values; and
    replay idempotence must NOT depend on it (HWM drops the replay
    before any uuid is generated)."""
    import re

    (dirs["landing"] / "b1.csv").write_text(BATCH1)
    res = run_incremental_batch(
        spark,
        landing_path=str(dirs["landing"]),
        warehouse_path=dirs["warehouse"],
        archive_root=dirs["archive"],
        dataset="weather_data",
        ts_col="StartTimeUTC",
        casts=WEATHER_CASTS,
        schema=weather_raw_schema(),
        now=datetime(2022, 1, 2, tzinfo=timezone.utc),
        surrogate_key="row_uuid",
    )
    assert res.rows_written == 2
    wh = spark.read.parquet(dirs["warehouse"])
    assert wh.schema["row_uuid"].dataType.simpleString() == "string"
    rows = wh.select("row_uuid", "EventId").collect()
    uuids = [r.row_uuid for r in rows]
    assert len(set(uuids)) == len(uuids) == 2
    v4 = re.compile(
        r"^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"
    )
    assert all(v4.match(u) for u in uuids), uuids

    # replay: same file again → zero new rows, uuid set unchanged
    (dirs["landing"] / "b1_replay.csv").write_text(BATCH1)
    res2 = run_incremental_batch(
        spark,
        landing_path=str(dirs["landing"]),
        warehouse_path=dirs["warehouse"],
        archive_root=dirs["archive"],
        dataset="weather_data",
        ts_col="StartTimeUTC",
        casts=WEATHER_CASTS,
        schema=weather_raw_schema(),
        now=datetime(2022, 1, 3, tzinfo=timezone.utc),
        surrogate_key="row_uuid",
    )
    assert res2.rows_written == 0
    after = {r.row_uuid for r in spark.read.parquet(dirs["warehouse"]).select("row_uuid").collect()}
    assert after == set(uuids)
