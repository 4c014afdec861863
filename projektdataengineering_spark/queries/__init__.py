"""Declared query registry — the SURVEY.md §2.3 correctness contract.

Each query is registered once, with its Spark callable and (when
SQL-expressible) its DuckDB oracle SQL right next to it, via the
``@query`` decorator.  ``__spark_entry__.py`` exposes the registry to the
driver; the local test harness (tests/test_oracle.py) replays the driver's
differential check (row count + schema + order-insensitive value hash)
against DuckDB on the same parquet fixtures.

Conventions (enforced by the harness):
* every computed column is aliased identically in Spark and SQL;
* ordered+limited queries carry a unique tiebreaker in the sort key;
* money-double aggregation goes through the decimal-exact helpers in
  ``functions`` (see that module's docstring for why);
* integer-valued computed columns are cast to BIGINT on both sides
  (Spark's year() is INT, DuckDB's is BIGINT — pin them equal).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from importlib import import_module
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# The shared incremental high-water-mark literal (reference O4 semantics).
# Lives here — not in scans.py — because several query modules embed it in
# their oracle SQL, and importing scans from another query module would
# register scans' queries out of _MODULES order (registration order breaks
# ties in load_registry's correctness-window order).
HWM_LITERAL = "2024-01-15 00:00:00"


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    family: str


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None = None, family: str = "misc"):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, family=fn.__module__.rsplit(".", 1)[-1] if family == "misc" else family)
        return fn

    return deco


# Module import order = registration order.
_MODULES = (
    "text",
    "similarity",
    "streaming_batch",
    "udfs",
    "multimodal",
    "mlprep",
    "dedup",
    "pipeline_ops",
    "scans",
    "joins",
    "aggregates",
    "windows",
    "setops",
    "scalars",
    "advanced",
    "pipeline_llm",
    "relational_deep",
    "corpus_ops",
    "formats",
    "layout",
    "timeseries",
    "diagnostics",
    "graphs",
    "retrieval",
    "analytics",
    # maintenance MUST stay last: its oracle is composed at import time
    # from pipeline_ops' and similarity's append oracles (see its module
    # docstring)
    "maintenance",
)

# Queries whose implementation, oracle or an upstream seam changed after
# their last certifying driver row, mapped to the round of that change.
# A name stays pending (first in the window) until a CORRECTNESS file of
# that round or later certifies it, so entries expire on their own.
# * round 20 — the five bucketed stream folds now run on
#   streaming.stateful.bucketed_state (one keyed-state group per state
#   partition, derived there), and scan_python_pushdown's conf
#   gate is streaming.scoped_conf; every query that keeps an artifact
#   now reads or builds it through catalog.persisted.
_RECHECK: dict[str, int] = {
    "stream_dedup_stateful": 20,
    "stream_cdc_stateful": 20,
    "stream_ewma_stateful": 20,
    "stream_attribution": 20,
    "stream_corpus_delta": 20,
    "scan_python_pushdown": 20,
    "dedup_embedding_incremental": 20,
    "dedup_embedding_index_append": 20,
    "dedup_incremental_neardup": 20,
    "dedup_neardup_index_append": 20,
    "dedup_stream_index_append": 20,
    "join_bucketed_colocated": 20,
    "pipeline_compaction_apply": 20,
    "pipeline_corpus_delta": 20,
    "pipeline_file_skipping": 20,
    "pipeline_gdpr_erasure": 20,
    "pipeline_index_vacuum": 20,
    "pipeline_kanon_apply": 20,
    "pipeline_merge_apply": 20,
    "pipeline_merge_evolve": 20,
    "pipeline_merge_timetravel": 20,
    "pipeline_merge_vacuum": 20,
    "pipeline_neardup_apply": 20,
    "pipeline_quality_classifier": 20,
    "pipeline_vacuum": 20,
    "pipeline_zorder_apply": 20,
    "scan_binary_files": 20,
    "scan_csv_roundtrip": 20,
    "scan_gzip_roundtrip": 20,
    "scan_hive_partitioned": 20,
    "scan_jsonl_roundtrip": 20,
    "scan_orc_roundtrip": 20,
    "scan_parquet_schema_evolution": 20,
    "sim_cosine_ivf": 20,
    "sim_cosine_ivf_reuse": 20,
    "sim_cosine_ivfpq": 20,
    "sim_cosine_ivfpq_reuse": 20,
    "sim_cosine_pq": 20,
    "sim_ivf_member_skew": 20,
    "sim_ivfpq_cell_skew": 20,
    "sim_ivfpq_gen_serving": 20,
    "sim_ivfpq_index_append": 20,
    "sink_python_datasource": 20,
    "sink_python_stream": 20,
    "stream_embedding_delta": 20,
}

# The driver's per-round correctness records live in the repo root.
_CORRECTNESS_DIR = Path(__file__).resolve().parents[2]
_CORRECTNESS_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")
_MATCH_FIELDS = ("rows_match", "schema_match", "hash_match")


def _certifies(row: dict) -> bool:
    """A driver row is evidence for the current code only if the query
    ran (no ``err``) and matched its oracle on rows, schema and hash."""
    return row.get("err") is None and all(row.get(f) is True for f in _MATCH_FIELDS)


def latest_certified_rounds(root: Path = _CORRECTNESS_DIR) -> dict[str, int]:
    """Map each query name to the latest round whose
    ``CORRECTNESS_r{N}.json`` under ``root`` holds a certifying row for
    it.  Names without one are absent; no files give ``{}``.  A file
    that is not a JSON object of row objects raises with its path."""
    latest: dict[str, int] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = _CORRECTNESS_FILE.fullmatch(path.name)
        if m is None:
            continue
        try:
            rows = json.loads(path.read_text())
        except ValueError as exc:
            raise ValueError(f"malformed correctness file {path}: {exc}") from exc
        if not isinstance(rows, dict) or not all(isinstance(r, dict) for r in rows.values()):
            raise ValueError(f"malformed correctness file {path}: expected an object of row objects")
        rnd = int(m.group(1))
        for name, row in rows.items():
            if _certifies(row):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def load_registry() -> dict[str, QueryDef]:
    """Import all query modules (populating REGISTRY) and return it in
    the driver's correctness-window order: the driver records the first
    50 entries each round, so the order decides which queries get fresh
    evidence.

    Pending ``_RECHECK`` names come first.  Every other name follows,
    stalest first by its latest certifying round in the committed
    CORRECTNESS files (round 0 if it has none); ties keep registration
    order."""
    for mod in _MODULES:
        import_module(f"{__package__}.{mod}")
    latest = latest_certified_rounds()
    pending = [n for n, rnd in _RECHECK.items() if latest.get(n, 0) < rnd]
    rest = sorted((n for n in REGISTRY if n not in pending), key=lambda n: latest.get(n, 0))
    ordered = {name: REGISTRY[name] for name in (*pending, *rest)}
    REGISTRY.clear()
    REGISTRY.update(ordered)
    return REGISTRY
