"""Differential oracle tests: every registered query with oracle SQL is
run through Spark AND DuckDB and compared (the driver's t2 gate, replayed
locally), and a frozen subset again under non-default session confs.
"""

from __future__ import annotations

import pandas as pd
import pytest

from projektdataengineering_spark.queries import load_registry
from projektdataengineering_spark.streaming import scoped_conf

from conftest import assert_frames_match, frame_mismatch

REGISTRY = load_registry()

ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)

# Conf invariance: a result must not depend on the session's shuffle
# width or on AQE. Selection rule: ORACLE_QUERIES (sorted by name), every
# 18th name starting with the first — 15 of the 265. Frozen here so the
# set does not drift as queries are added; a listed name that loses its
# oracle SQL fails the test.
CONF_INVARIANT_QUERIES = [
    "agg_approx_distinct", "agg_mode_exact", "dedup_incremental",
    "join_bucketed_colocated", "join_semi", "pipeline_bpe_pair_counts",
    "pipeline_domain_mix", "pipeline_index_vacuum",
    "pipeline_perplexity_filter", "pipeline_substring_cut", "scalar_bitwise",
    "set_except", "sim_simhash", "stream_ohlc_native",
    "text_tokenize_wordcount",
]
NON_DEFAULT_CONFS = {
    "spark.sql.shuffle.partitions": "3",
    "spark.sql.adaptive.enabled": "false",
}


def test_frame_mismatch_reports_each_kind():
    """The one comparison behind the oracle tests and
    tools/verify_driver.py: exact match is None (column and row order
    aside); a row-count, a column and a value mismatch are each named."""
    ref = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert frame_mismatch(ref[["v", "k"]].iloc[::-1], ref) is None
    assert frame_mismatch(ref.iloc[:1], ref) == "row count 1 (spark) != 2 (oracle)"
    assert frame_mismatch(ref.rename(columns={"v": "w"}), ref) == "columns ['k', 'w'] != ['k', 'v']"
    why = frame_mismatch(ref.assign(v=[0.5, 1.5000000000000002]), ref)
    assert why is not None and why.startswith("1 mismatching rows; first 3: [(1, ")


def _session_state(spark):
    """What a query must leave as it found it: the temp view names (from
    SHOW TABLES, not the much slower catalog.listTables), the temporary
    functions (SHOW USER FUNCTIONS, not catalog.listFunctions), the
    session confs and the active streams."""
    return {
        "temp views": {r.tableName for r in spark.sql("SHOW TABLES").collect() if r.isTemporary},
        "temp functions": {r.function for r in spark.sql("SHOW USER FUNCTIONS").collect()},
        "confs": set(spark.conf.getAll.items()),
        "active streams": {str(q.id) for q in spark.streams.active},
    }


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(name, spark, duck, sf_dir):
    """Spark's result equals the oracle's, and running the query leaves
    the session as it found it."""
    qd = REGISTRY[name]
    before = _session_state(spark)
    spark_pdf = qd.fn(spark, sf_dir).toPandas()
    after = _session_state(spark)
    oracle_pdf = duck.execute(qd.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)
    for part, was in before.items():
        assert after[part] == was, f"{name} changed the session's {part}: {sorted(was ^ after[part])}"


@pytest.mark.parametrize("name", CONF_INVARIANT_QUERIES)
def test_oracle_match_is_conf_invariant(name, spark, duck, sf_dir):
    qd = REGISTRY[name]
    assert qd.oracle is not None, f"{name} lost its oracle SQL"
    with scoped_conf(spark, NON_DEFAULT_CONFS):
        spark_pdf = qd.fn(spark, sf_dir).toPandas()
    assert_frames_match(spark_pdf, duck.execute(qd.oracle).df(), name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0


def test_contract_shape():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(callable(f) for f in qs.values())
