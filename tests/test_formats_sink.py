"""Custom Python data sink (sources/pysink.py): the manifest-visibility
protocol, driven at both API levels — the raw writer lifecycle
(orphan invisibility, abort GC, epoch replay) and the real
write/writeStream engine path (the registered queries carry the
end-to-end hash certification; these tests pin the failure modes the
happy path can't show)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from projektdataengineering_spark.catalog import artifact
from projektdataengineering_spark.sources.pydatasource import (
    register_synthetic_source,
)
from projektdataengineering_spark.sources.pysink import (
    LedgerBatchWriter,
    LedgerStreamWriter,
    read_ledger,
    register_ledger_sink,
)

SCHEMA = "row_id bigint, bucket int, payload string"


def test_python_sources_register_once_per_session(spark, monkeypatch):
    """Both registration helpers register each of their sources once per
    session: a repeat call re-registers nothing."""
    from pyspark.sql.datasource import DataSourceRegistration

    calls = []
    real = DataSourceRegistration.register
    monkeypatch.setattr(
        DataSourceRegistration,
        "register",
        lambda self, source: calls.append(source.name()) or real(self, source),
    )
    monkeypatch.delattr(spark, "_pde_data_sources", raising=False)
    for _ in range(2):
        register_synthetic_source(spark)
        register_ledger_sink(spark)
    assert sorted(calls) == sorted(
        ["synthdocs", "synthdocsfeed", "synthdocspushdown", "ledgersink"]
    ), calls


def test_batch_sink_manifest_visibility_and_orphans(spark, tmp_path):
    """Rows written through the real write.format() path are readable
    back exactly; a part file NO manifest names (failed/speculative
    task debris) is invisible to readers."""
    register_synthetic_source(spark)
    register_ledger_sink(spark)
    path = str(tmp_path / "ledger")
    df = (spark.read.format("synthdocs")
          .option("rows", 100).option("partitions", 4).load())
    df.write.format("ledgersink").option("path", path).mode("append").save()

    back = read_ledger(spark, path, SCHEMA)
    assert back.count() == 100
    assert back.agg(F.sum("row_id")).collect()[0][0] == sum(range(100))

    # plant an orphan: on disk, absent from the manifest → invisible
    with open(os.path.join(path, "part-orphan.jsonl"), "w") as fh:
        fh.write(json.dumps(
            {"row_id": 999, "bucket": 9, "payload": "zz"}) + "\n")
    again = read_ledger(spark, path, SCHEMA)
    assert again.count() == 100
    assert again.filter("row_id = 999").count() == 0

    manifest = json.load(open(os.path.join(path, "manifest.json")))
    assert manifest["n_rows"] == 100
    assert "part-orphan.jsonl" not in manifest["files"]


def test_batch_sink_abort_gc(tmp_path):
    """abort() garbage-collects exactly the parts its messages name;
    nothing becomes visible (no manifest is ever written)."""
    path = str(tmp_path / "aborted")
    w = LedgerBatchWriter({"path": path})

    class R:
        def __init__(self, d):
            self._d = d

        def asDict(self):
            return self._d

    msg = w.write(iter([R({"row_id": 1, "bucket": 1, "payload": "a"})]))
    assert os.path.exists(os.path.join(path, msg.filename))
    w.abort([msg, None])  # None = a task that never reported
    assert not os.path.exists(os.path.join(path, msg.filename))
    assert not glob.glob(os.path.join(path, "manifest*"))


def test_ledger_install_hides_partial_run(tmp_path, monkeypatch):
    """A ledger workdir is installed as ONE unit through the artifact
    seam (r14 fix for the r13 ADVICE): a run that crashes after
    committing some epochs leaves nothing visible — no ledger at the
    final path, no staging directory with its parts, manifests,
    checkpoint and the feed's HWM file — so a later call reruns it from
    a clean offset-0 world instead of serving a crash-truncated ledger;
    a complete run is installed once and then reused without rerunning."""
    from projektdataengineering_spark import catalog
    from projektdataengineering_spark.queries import formats as FT

    monkeypatch.setattr(catalog, "SCRATCH", str(tmp_path))
    runs = []

    def run(rows_done):
        def build(path):
            runs.append(rows_done)
            os.makedirs(os.path.join(path, ".checkpoint", "offsets"))
            with open(os.path.join(path, ".feed-hwm"), "w") as fh:
                fh.write(str(rows_done))
            with open(os.path.join(path, "manifest-0.json"), "w") as fh:
                json.dump({"files": ["part-a.jsonl"], "n_rows": rows_done}, fh)
            if rows_done < FT._PYSTREAM_ROWS:
                raise RuntimeError("stream died between epochs")

        return build

    # partial: one epoch landed before a crash → nothing visible
    with pytest.raises(RuntimeError):
        catalog.artifact("ledgersink", "", run(6000), run="stream")
    path = catalog.artifact("ledgersink", "", run="stream")
    assert not os.path.exists(path)
    assert os.listdir(tmp_path / "ledgersink") == []  # staging dropped whole

    # complete: installed, then reused (the build never runs again)
    assert catalog.artifact(
        "ledgersink", "", run(FT._PYSTREAM_ROWS), run="stream"
    ) == path
    assert catalog.artifact("ledgersink", "", run(6000), run="stream") == path
    assert runs == [6000, FT._PYSTREAM_ROWS]
    with open(os.path.join(path, "manifest-0.json")) as fh:
        assert json.load(fh)["n_rows"] == FT._PYSTREAM_ROWS


def test_stream_corpus_delta_epoch_replay_idempotent(spark, sf_dir):
    """The live nightly loop's ledger honors the per-epoch
    exactly-once contract: replaying an epoch (same batchId, same
    deterministic content, fresh part files) swaps that epoch's
    manifest and leaves the query's certified result IDENTICAL — the
    O4 replay discipline certified on the composed stream, not just on
    the raw sink."""
    from projektdataengineering_spark.queries import pipeline_ops as P

    df1 = sorted(map(tuple, P.stream_corpus_delta(spark, sf_dir).collect()))
    ledger = os.path.join(artifact("stream_corpus_delta", sf_dir), "ledger")
    manifests = sorted(glob.glob(os.path.join(ledger, "manifest-*.json")))
    assert len(manifests) == P._STREAM_DELTA_EPOCHS, manifests
    target = next(m for m in manifests if json.load(open(m))["n_rows"] > 0)
    doc = json.load(open(target))
    rows = []
    for f in doc["files"]:
        with open(os.path.join(ledger, f)) as fh:
            rows.extend(json.loads(line) for line in fh)

    class R:
        def __init__(self, d):
            self._d = d

        def asDict(self):
            return self._d

    w = LedgerStreamWriter({"path": ledger})
    msg = w.write(iter([R(r) for r in rows]))
    w.commit([msg], int(target.rsplit("-", 1)[1].split(".")[0]))

    swapped = json.load(open(target))
    assert swapped["files"] != doc["files"]  # fresh part uuid
    assert swapped["n_rows"] == doc["n_rows"]
    df2 = sorted(map(tuple, P.stream_corpus_delta(spark, sf_dir).collect()))
    assert df2 == df1


def test_stream_embedding_delta_epoch_replay_idempotent(spark, sf_dir):
    """The vector modality's live loop honors the same per-epoch
    exactly-once contract as its text twin: replaying an epoch's
    manifest (same batchId, same content, fresh part file) leaves the
    certified verdict table identical — and the ledger must hold one
    manifest per non-empty epoch (base windows + the planted-twin
    epoch)."""
    from projektdataengineering_spark.queries import similarity as S

    rows1 = sorted(
        map(tuple, S.stream_embedding_delta(spark, sf_dir).collect())
    )
    ledger = os.path.join(artifact("stream_embedding_delta", sf_dir), "ledger")
    manifests = sorted(glob.glob(os.path.join(ledger, "manifest-*.json")))
    assert len(manifests) == S._ESTREAM_EPOCHS + 1, manifests  # + twins
    target = next(m for m in manifests if json.load(open(m))["n_rows"] > 0)
    doc = json.load(open(target))
    rows = []
    for f in doc["files"]:
        with open(os.path.join(ledger, f)) as fh:
            rows.extend(json.loads(line) for line in fh)

    class R:
        def __init__(self, d):
            self._d = d

        def asDict(self):
            return self._d

    w = LedgerStreamWriter({"path": ledger})
    msg = w.write(iter([R(r) for r in rows]))
    w.commit([msg], int(target.rsplit("-", 1)[1].split(".")[0]))
    swapped = json.load(open(target))
    assert swapped["files"] != doc["files"]
    assert swapped["n_rows"] == doc["n_rows"]
    rows2 = sorted(
        map(tuple, S.stream_embedding_delta(spark, sf_dir).collect())
    )
    assert rows2 == rows1


def test_stream_index_append_installs_exactly_published_sigs(spark, sf_dir):
    """dedup_stream_index_append: v2 − v1 must be EXACTLY the
    signatures of the ledger-published docs that have a probe surface
    (≥ 2 tokens) — publication-gated, unlike the batch twin's
    keeper-gated v2 — v1 must be undisturbed, and a replay must leave
    v2 byte-identical (content-addressed reuse)."""
    import hashlib

    from pyspark.sql import functions as F

    from projektdataengineering_spark.queries import pipeline_ops as P
    from projektdataengineering_spark.sources.pysink import read_ledger

    rows1 = sorted(map(tuple, P.dedup_stream_index_append(spark, sf_dir).collect()))
    v1_path = artifact("neardup_index", sf_dir)
    v2_path = artifact("neardup_index", sf_dir, gen="pub2")

    v1 = spark.read.parquet(v1_path)
    v2 = spark.read.parquet(v2_path)
    lanes = [f"m{i}" for i in range(P._PORTABLE_LANES)]
    delta_ids = sorted(
        r["doc_id"]
        for r in v2.select("doc_id").exceptAll(v1.select("doc_id")).collect()
    )
    ledger = os.path.join(artifact("stream_corpus_delta", sf_dir), "ledger")
    published = read_ledger(
        spark, ledger, P._STREAM_DELTA_LEDGER_SCHEMA
    ).select("doc_id")
    from projektdataengineering_spark.catalog import load_table

    signable = (
        load_table(spark, sf_dir, "documents")
        .join(published, "doc_id")
        .filter(F.size(F.split("text", " ")) >= 2)
    )
    expected_ids = sorted(r["doc_id"] for r in signable.select("doc_id").collect())
    assert delta_ids == expected_ids
    # v2's delta rows carry the canonical signatures for those docs
    resigned = P._signature_of(signable.select("doc_id", "text"))
    mismatch = (
        v2.join(published, "doc_id")
        .select("doc_id", *lanes)
        .exceptAll(resigned.select("doc_id", *lanes))
        .count()
    )
    assert mismatch == 0

    def tree_digest(root):
        out = {}
        for dp, _, fns in os.walk(root):
            for fn in fns:
                with open(os.path.join(dp, fn), "rb") as fh:
                    out[os.path.relpath(os.path.join(dp, fn), root)] = (
                        hashlib.sha256(fh.read()).hexdigest()
                    )
        return out

    snap1, snap2 = tree_digest(v1_path), tree_digest(v2_path)
    rows2 = sorted(map(tuple, P.dedup_stream_index_append(spark, sf_dir).collect()))
    assert rows2 == rows1
    assert tree_digest(v1_path) == snap1  # v1 undisturbed
    assert tree_digest(v2_path) == snap2  # replay never rewrites


def test_vacuum_ledger_removes_only_aged_orphans(spark, tmp_path):
    """vacuum_ledger: (a) every manifest-referenced part is untouched
    and the visible rows are byte-identical before/after; (b) an
    unreferenced part OLDER than the retention boundary is deleted;
    (c) a FRESH orphan (in-flight commit stand-in) survives; (d) a
    second vacuum is a no-op (idempotent)."""
    from projektdataengineering_spark.sources.pysink import vacuum_ledger

    register_synthetic_source(spark)
    register_ledger_sink(spark)
    path = str(tmp_path / "vac")
    stream = (spark.readStream.format("synthdocsfeed")
              .option("rows", 400).option("batchrows", 200)
              .option("partitions", 2).load())
    q = (stream.writeStream.format("ledgersink")
         .option("path", path)
         .option("checkpointLocation", os.path.join(path, ".ckpt"))
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    q.awaitTermination()

    # replay epoch 0 → its 2 original parts become orphans
    w = LedgerStreamWriter({"path": path})

    class R:
        def __init__(self, r):
            self._d = {"row_id": r, "bucket": r % 10, "payload": f"p{r}"}

        def asDict(self):
            return self._d

    msg = w.write(iter([R(r) for r in range(200)]))
    w.commit([msg], 0)

    referenced = set()
    for name in glob.glob(os.path.join(path, "manifest-*.json")):
        referenced.update(json.load(open(name))["files"])
    orphans = [n for n in os.listdir(path)
               if n.startswith("part-") and n not in referenced]
    assert len(orphans) == 2, orphans
    for n in orphans:
        os.utime(os.path.join(path, n), (0, 0))  # age past retention
    with open(os.path.join(path, "part-fresh.jsonl"), "w") as fh:
        fh.write('{"row_id": -1, "bucket": 0, "payload": "inflight"}\n')

    before = sorted(map(tuple, read_ledger(spark, path, SCHEMA).collect()))
    stats = vacuum_ledger(path, older_than=1.0)
    assert stats == {"n_referenced": len(referenced),
                     "n_orphans_removed": 2, "n_orphans_retained": 1}
    for n in orphans:
        assert not os.path.exists(os.path.join(path, n))
    assert os.path.exists(os.path.join(path, "part-fresh.jsonl"))
    for n in referenced:
        assert os.path.exists(os.path.join(path, n))
    after = sorted(map(tuple, read_ledger(spark, path, SCHEMA).collect()))
    assert after == before  # visible rows byte-identical

    stats2 = vacuum_ledger(path, older_than=1.0)  # idempotent no-op
    assert stats2["n_orphans_removed"] == 0
    assert stats2["n_orphans_retained"] == 1


def test_feed_reader_durable_hwm_no_offset_regression(tmp_path):
    """With .option('hwmpath', f) the feed reader persists its committed
    offset and a restarted instance resumes FROM it — latestOffset never
    re-advertises a range below the committed start (the r13 ADVICE
    offset-regression scenario). Without the option, the bounded-fixture
    behavior is unchanged: a fresh instance drains from 0."""
    from projektdataengineering_spark.sources.pydatasource import (
        SyntheticDocsFeedStreamReader,
    )

    hwm = str(tmp_path / "feed-hwm")
    opts = {"rows": "1000", "batchrows": "300", "partitions": "2",
            "hwmpath": hwm}
    r1 = SyntheticDocsFeedStreamReader(opts)
    assert r1.latestOffset() == {"offset": 300}
    r1.commit({"offset": 300})

    r2 = SyntheticDocsFeedStreamReader(opts)  # restart after crash
    nxt = r2.latestOffset()
    assert nxt["offset"] >= 300, "offset regressed below committed start"
    assert nxt == {"offset": 600}

    # no hwmpath → per-instance fixture behavior preserved
    r3 = SyntheticDocsFeedStreamReader(
        {"rows": "1000", "batchrows": "300", "partitions": "2"})
    assert r3.latestOffset() == {"offset": 300}


def test_feed_reader_corrupt_hwm_raises(tmp_path):
    """A present-but-unparsable hwm file must raise at reader init, not
    silently restart from offset 0 (r14 ADVICE): hwm writes are atomic
    tmp+rename, so a damaged file means external interference, and the
    silent fallback would re-advertise offsets below the committed
    start — the exact regression the durable HWM exists to prevent.
    A MISSING file still means never-committed → offset 0."""
    import pytest

    from projektdataengineering_spark.sources.pydatasource import (
        SyntheticDocsFeedStreamReader,
    )

    hwm = tmp_path / "feed-hwm"
    opts = {"rows": "1000", "batchrows": "300", "partitions": "2",
            "hwmpath": str(hwm)}
    # missing file: fine, drains from 0
    assert SyntheticDocsFeedStreamReader(opts).latestOffset() == {"offset": 300}
    # corrupt file: loud refusal naming the path
    hwm.write_text("not-an-offset")
    with pytest.raises(ValueError, match="refusing to restart from"):
        SyntheticDocsFeedStreamReader(opts)
    # empty file: corruption too (r15 ADVICE) — truncation-to-empty is
    # the most common external-corruption mode, and mapping it to
    # offset 0 silently reintroduces the offset regression this path
    # exists to prevent; only a MISSING file means never-committed
    hwm.write_text("")
    with pytest.raises(ValueError, match="refusing to restart from"):
        SyntheticDocsFeedStreamReader(opts)


def test_stream_sink_epoch_manifests_and_replay(spark, tmp_path):
    """The streaming sink commits one manifest per epoch; a replayed
    epoch REWRITES its manifest so the superseded parts become
    invisible orphans — committed content is unchanged (exactly-once
    per epoch by manifest swap, not by part dedup)."""
    register_synthetic_source(spark)
    register_ledger_sink(spark)
    path = str(tmp_path / "stream_ledger")
    stream = (spark.readStream.format("synthdocsfeed")
              .option("rows", 500).option("batchrows", 300)
              .option("partitions", 2).load())
    q = (stream.writeStream.format("ledgersink")
         .option("path", path)
         .option("checkpointLocation", os.path.join(path, ".ckpt"))
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    q.awaitTermination()

    manifests = sorted(glob.glob(os.path.join(path, "manifest-*.json")))
    assert len(manifests) == 2, manifests  # 300 + 200 rows
    back = read_ledger(spark, path, SCHEMA)
    assert back.count() == 500
    assert back.agg(F.sum("row_id")).collect()[0][0] == sum(range(500))

    # replay epoch 0 at the writer level: fresh parts, same batchId
    w = LedgerStreamWriter({"path": path})

    class R:
        def __init__(self, d):
            self._d = d

        def asDict(self):
            return self._d

    epoch0 = json.load(open(manifests[0]))
    rows = [R({"row_id": r, "bucket": r % 10,
               "payload": f"replay{r}"}) for r in range(3)]
    msg = w.write(iter(rows))
    w.commit([msg], int(manifests[0].rsplit("-", 1)[1].split(".")[0]))

    replayed = json.load(open(manifests[0]))
    assert replayed["files"] == [msg.filename]  # manifest swapped
    assert replayed["files"] != epoch0["files"]
    for old in epoch0["files"]:  # superseded parts orphaned, not read
        assert os.path.exists(os.path.join(path, old))
    back2 = read_ledger(spark, path, SCHEMA)
    assert back2.filter("payload like 'replay%'").count() == 3
    assert back2.count() == 500 - epoch0["n_rows"] + 3
