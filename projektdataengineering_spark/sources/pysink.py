"""Custom Python data SINK (Spark 4 DataSource writer API) — the
engine's source-extension seam on the WRITE side, completing the
custom-source story (sources/pydatasource.py carries the batch reader
and both streaming readers).

The reference's one sink is a JDBC append (spark_tasks/
weather_task.py:99-104); the generalized engine needs the opposite
capability: plugging a system Spark has no connector for into the
WRITE side with a real two-phase commit. This module implements the
classic manifest-visibility protocol over plain JSONL part files:

* ``write(iterator)`` runs ON THE EXECUTORS — each task streams its
  rows into a task-unique part file and returns a commit message
  (filename, row count);
* ``commit(messages)`` runs on the driver AFTER every task succeeded —
  it atomically installs a manifest listing exactly the committed
  parts. Readers trust ONLY the manifest, so a failed/speculative
  task's orphan part file is invisible by construction (never
  deleted, never read) — the same visibility discipline as a real
  table format's snapshot list;
* the STREAMING form commits one manifest per epoch
  (``manifest-<batchId>.json``); a crash-replayed epoch rewrites its
  own manifest and orphans its previous parts — per-epoch
  exactly-once from the sink side, the foreachBatch/__epoch
  discipline (streaming/__init__.py write_stream_idempotent)
  expressed through the DataSource API instead of around it.

Every part row is plain JSON, so the audit queries re-read the
committed state with an explicit schema and the DuckDB oracle
recomputes it from first principles — the hash certifies the whole
write/commit protocol: every input row exactly once among VISIBLE
files, nothing uncommitted leaking in.
"""

from __future__ import annotations

import dataclasses
import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclasses.dataclass
class LedgerCommit(WriterCommitMessage):
    """Per-task commit message (picklable, executor → driver)."""

    filename: str
    n_rows: int


def _write_part(path: str, iterator) -> LedgerCommit:
    """Executor-side part write shared by the batch and streaming
    writers: one task-unique JSONL file, rows serialized field-for-
    field. The .inprogress suffix until the local rename means even a
    task killed mid-write never leaves a file a manifest could name."""
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.jsonl"
    tmp = os.path.join(path, f"{name}.inprogress")
    n = 0
    with open(tmp, "w") as fh:
        for row in iterator:
            fh.write(json.dumps(row.asDict(), sort_keys=True) + "\n")
            n += 1
    os.rename(tmp, os.path.join(path, name))
    return LedgerCommit(filename=name, n_rows=n)


def _install_manifest(path: str, manifest_name: str, messages) -> None:
    """Driver-side atomic manifest install: the moment of visibility.
    Written via temp + rename so readers see the old state or the new
    state, never a torn list."""
    files = sorted(m.filename for m in messages if m is not None)
    doc = {
        "files": files,
        "n_rows": sum(m.n_rows for m in messages if m is not None),
    }
    tmp = os.path.join(path, f".{manifest_name}.{os.getpid()}.tmp")
    with open(tmp, "w") as fh:
        json.dump(doc, fh, sort_keys=True)
    os.replace(tmp, os.path.join(path, manifest_name))


class LedgerSinkDataSource(DataSource):
    """``df.write.format("ledgersink").option("path", dir)`` and the
    ``writeStream`` twin — a manifest-committed JSONL ledger."""

    @classmethod
    def name(cls) -> str:
        return "ledgersink"

    def writer(self, schema, overwrite: bool) -> "LedgerBatchWriter":
        return LedgerBatchWriter(self.options)

    def streamWriter(self, schema, overwrite: bool) -> "LedgerStreamWriter":
        return LedgerStreamWriter(self.options)


class LedgerBatchWriter(DataSourceWriter):
    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ledgersink requires .option('path', dir)")
        # optional manifest NAME: a caller driving its own epoch loop
        # (foreachBatch) can commit per-epoch manifests through the
        # batch writer — stream_embedding_delta's shape; the default
        # keeps the plain one-manifest batch contract
        self.manifest = options.get("manifest", "manifest.json")

    def write(self, iterator) -> LedgerCommit:
        return _write_part(self.path, iterator)

    def commit(self, messages) -> None:
        _install_manifest(self.path, self.manifest, messages)

    def abort(self, messages) -> None:
        # orphan parts are invisible without a manifest; best-effort GC
        for m in messages:
            if m is not None:
                try:
                    os.unlink(os.path.join(self.path, m.filename))
                except OSError:
                    pass


class LedgerStreamWriter(DataSourceStreamWriter):
    """Per-epoch manifests: epoch N's visibility is the atomic install
    of manifest-N.json. A replayed epoch re-runs its tasks (fresh part
    uuids) and REWRITES manifest-N.json — deterministic input means
    identical content, and the superseded parts are orphans no
    manifest names: exactly-once per epoch from the sink side."""

    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ledgersink requires .option('path', dir)")

    def write(self, iterator) -> LedgerCommit:
        return _write_part(self.path, iterator)

    def commit(self, messages, batchId: int) -> None:
        _install_manifest(self.path, f"manifest-{batchId}.json", messages)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None:
                try:
                    os.unlink(os.path.join(self.path, m.filename))
                except OSError:
                    pass


def read_ledger(spark, path: str, schema: str):
    """Read back ONLY the committed state: union of every manifest's
    file list (one manifest for a batch write, one per epoch for a
    stream), loaded with an explicit schema. Orphan parts on disk are
    ignored — that IS the protocol."""
    files: list[str] = []
    for name in sorted(os.listdir(path)):
        if name.startswith("manifest") and name.endswith(".json"):
            with open(os.path.join(path, name)) as fh:
                files.extend(
                    os.path.join(path, f) for f in json.load(fh)["files"]
                )
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)


def vacuum_ledger(path: str, older_than: float) -> dict:
    """Retention GC for a manifest-committed ledger — the cleanup half
    of the visibility protocol: replayed epochs REWRITE their manifest
    and orphan the superseded parts BY DESIGN (LedgerStreamWriter
    docstring), so a long-lived ledger accumulates invisible files
    until something deletes them. This is that something, with the
    same safety contract as a table format's VACUUM:

    * only part files NO manifest references are candidates — a
      referenced file is never touched, so every visible row is
      byte-identical before/after;
    * of the candidates, only those with mtime < ``older_than`` are
      deleted — a recent orphan may belong to an IN-FLIGHT commit
      (its manifest install races the GC listing), so it survives
      until it ages past the retention boundary (the exact reason
      Delta refuses sub-horizon vacuums);
    * manifests themselves are never deleted (they ARE the state).

    Returns the measured funnel {n_referenced, n_orphans_removed,
    n_orphans_retained}. Driver-side O(files) metadata work — at scale
    this is a listing join (manifest file-set vs object-store listing),
    embarrassingly shardable by prefix."""
    referenced: set[str] = set()
    manifests = []
    for name in sorted(os.listdir(path)):
        if name.startswith("manifest") and name.endswith(".json"):
            manifests.append(name)
            with open(os.path.join(path, name)) as fh:
                referenced.update(json.load(fh)["files"])
    removed = retained = 0
    for name in sorted(os.listdir(path)):
        if name in manifests or not name.startswith("part-"):
            continue
        if name in referenced:
            continue
        full = os.path.join(path, name)
        if os.path.getmtime(full) < older_than:
            os.unlink(full)
            removed += 1
        else:
            retained += 1
    return {
        "n_referenced": len(referenced),
        "n_orphans_removed": removed,
        "n_orphans_retained": retained,
    }


def register_ledger_sink(spark) -> None:
    """Register the ledger sink on first use in a session."""
    from ..catalog import register_data_sources

    register_data_sources(spark, LedgerSinkDataSource)
