"""Results must not depend on memo state: every registry query that keeps
an artifact through catalog.persisted returns the same rows with its
artifacts absent (built by this call) and present (read back).

SEAM_USERS was found once, with a spy on catalog.persisted over a full
registry pass at sf0.001; each entry lists the artifact kinds the query
reached. A query's "artifacts" are the paths the spy records while it
runs, so the cold run removes exactly what that query addresses.
"""

from __future__ import annotations

import os
import shutil

import pytest

from projektdataengineering_spark import catalog
from projektdataengineering_spark.queries import load_registry
from projektdataengineering_spark.queries import similarity as S

from conftest import _canon_frame

REGISTRY = load_registry()

SEAM_USERS = {
    "dedup_embedding_incremental": ("embed_ivf_index", "ivf"),
    "dedup_embedding_index_append": ("embed_ivf_index", "ivf"),
    "dedup_incremental_neardup": ("neardup_index",),
    "dedup_neardup_index_append": ("neardup_index",),
    "dedup_stream_index_append": ("neardup_index", "stream_corpus_delta"),
    "join_bucketed_colocated": ("bucketed",),
    "pipeline_compaction_apply": ("compaction",),
    "pipeline_corpus_delta": ("corpus_delta", "neardup_index"),
    "pipeline_file_skipping": ("zorder",),
    "pipeline_gdpr_erasure": ("erasure",),
    "pipeline_index_vacuum": ("embed_ivf_index", "ivf", "ivfpq_codes", "neardup_index", "pq_books"),
    "pipeline_kanon_apply": ("kanon",),
    "pipeline_merge_apply": ("merge",),
    "pipeline_merge_evolve": ("merge",),
    "pipeline_merge_timetravel": ("merge",),
    "pipeline_merge_vacuum": ("merge",),
    "pipeline_neardup_apply": ("neardup_apply",),
    "pipeline_quality_classifier": ("qcls_model",),
    "pipeline_vacuum": ("ledgersink",),
    "pipeline_zorder_apply": ("zorder",),
    "scan_binary_files": ("formats",),
    "scan_csv_roundtrip": ("formats",),
    "scan_gzip_roundtrip": ("formats",),
    "scan_hive_partitioned": ("formats",),
    "scan_jsonl_roundtrip": ("formats",),
    "scan_orc_roundtrip": ("formats",),
    "scan_parquet_schema_evolution": ("formats",),
    "sim_cosine_ivf": ("ivf",),
    "sim_cosine_ivf_reuse": ("ivf",),
    "sim_cosine_ivfpq": ("ivf", "ivfpq_codes", "pq_books"),
    "sim_cosine_ivfpq_reuse": ("ivf", "ivfpq_codes", "pq_books"),
    "sim_cosine_pq": ("pq_books",),
    "sim_ivf_member_skew": ("embed_ivf_index",),
    "sim_ivfpq_cell_skew": ("ivfpq_codes",),
    "sim_ivfpq_gen_serving": ("embed_ivf_index", "ivf", "ivfpq_codes", "pq_books"),
    "sim_ivfpq_index_append": ("ivf", "ivfpq_codes", "pq_books"),
    "sink_python_datasource": ("ledgersink",),
    "sink_python_stream": ("ledgersink",),
    "stream_corpus_delta": ("neardup_index", "stream_corpus_delta"),
    "stream_embedding_delta": ("embed_ivf_index", "ivf", "stream_embedding_delta"),
}


def _run(name, spark, sf_dir, monkeypatch):
    """(canonical frame, artifact paths the query addressed)."""
    seen: list[str] = []
    real = catalog.persisted

    def spy(kind, sources, params, build=None, **kw):
        path = real(kind, sources, params, build, **kw)
        seen.append(path)
        return path

    monkeypatch.setattr(catalog, "persisted", spy)
    try:
        frame = _canon_frame(REGISTRY[name].fn(spark, sf_dir).toPandas())
    finally:
        monkeypatch.setattr(catalog, "persisted", real)
    return frame, sorted(set(seen))


@pytest.mark.parametrize("name", sorted(SEAM_USERS))
def test_cold_and_warm_runs_agree(name, spark, sf_dir, monkeypatch):
    _, paths = _run(name, spark, sf_dir, monkeypatch)
    assert paths, f"{name} no longer reaches catalog.persisted"
    for p in paths:
        if os.path.isdir(p):
            shutil.rmtree(p)
        S._IVF_CENTROID_CACHE.pop(p, None)
        S._PQ_BOOK_CACHE.pop(p, None)
    builds = sum(catalog.BUILDS.values())
    cold, _ = _run(name, spark, sf_dir, monkeypatch)
    assert sum(catalog.BUILDS.values()) > builds, "the cold run must build"
    warm, _ = _run(name, spark, sf_dir, monkeypatch)
    assert cold == warm


def test_every_kind_has_a_parity_query():
    covered = {kind for kinds in SEAM_USERS.values() for kind in kinds}
    assert set(catalog.KINDS) <= covered, sorted(set(catalog.KINDS) - covered)
    assert set(SEAM_USERS) <= set(REGISTRY)
