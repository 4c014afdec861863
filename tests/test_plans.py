"""Physical-plan audits — "would this plan survive 100 TB?" as tests.

Each assertion encodes a scale property SURVEY.md §4 demands: filters
reach the parquet scan (row-group pruning), projections prune the read
schema (column-store bandwidth), fixed-cardinality dims broadcast
(no shuffle of the fact side), global sort+limit stays a TakeOrdered
(no range-partitioned total sort), aggregations are partial-then-final
around exactly one exchange. These are static-plan facts — AQE can only
improve on them at runtime, never regress them (see plans/__init__.py).

Each test's docstring is the one statement of its claim;
``python tools/dump_plans.py`` prints every test that calls ``facts_of``
with the plans of the queries it names. Broadcast-vs-shuffle depends on
size: a claim that a join broadcasts at any scale is checked with
auto-broadcast off (``NO_AUTO_BROADCAST``), where only a hinted join
still broadcasts.
"""

from __future__ import annotations

import re

import pytest

from projektdataengineering_spark.plans import plan_facts
from projektdataengineering_spark.queries import load_registry
from projektdataengineering_spark.streaming import scoped_conf

REGISTRY = load_registry()

NO_AUTO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


@pytest.fixture(scope="module")
def facts_of(spark, sf_dir):
    cache = {}

    def get(name, confs=None):
        key = (name, tuple(sorted((confs or {}).items())))
        if key not in cache:
            with scoped_conf(spark, confs or {}):
                cache[key] = plan_facts(REGISTRY[name].fn(spark, sf_dir))
        return cache[key]

    return get


def _joins(f, kind=None):
    """Detail blocks of every equi-join node, or of those of join type
    ``kind`` (e.g. "LeftSemi")."""
    blocks = [
        d
        for node in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        for d in f.details(node)
    ]
    return [d for d in blocks if kind is None or f"Join type: {kind}\n" in d]


def _planned_shuffles(f):
    """Detail blocks of the exchanges the planner inserts for an
    operator's distribution (an explicit repartition is not one)."""
    return [d for d in f.details("Exchange") if "ENSURE_REQUIREMENTS" in d]


def _single_partition_edges(f):
    """(input, consumer) node of each SinglePartition exchange: formatted
    explain numbers a unary operator right after its child."""
    ids = re.findall(
        r"^\((\d+)\) Exchange\n(?:[^\n]+\n)*?Arguments: SinglePartition", f.text, re.M
    )
    return [(f.nodes[int(i) - 2], f.nodes[int(i)]) for i in ids]


def _python_nodes(f):
    return [n for n in f.nodes if "Python" in n or "InPandas" in n]


def test_scan_project_prunes_columns_and_avoids_shuffle(facts_of):
    """scan_project_cast: one parquet scan whose read schema holds exactly
    the 5 lineitem columns the projection casts (of 16), and no
    exchange."""
    f = facts_of("scan_project_cast")
    assert f.shuffles == 0, f.nodes
    (cols,) = f.read_schemas  # exactly one scan
    # 5 of 11 lineitem columns — casts must not widen the read schema
    assert sorted(cols) == sorted(
        ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"]
    )


def test_highwater_filter_is_pushed_to_scan(facts_of):
    """filter_highwater: the incremental high-water predicate reaches the
    parquet scan as GreaterThan(ts, ...) in PushedFilters, despite the
    ns→µs conversion of events.ts between the scan and the query."""
    f = facts_of("filter_highwater")
    assert any("GreaterThan(ts" in p for p in f.pushed_filters), f.pushed_filters


def test_compound_filter_is_pushed_to_scan(facts_of):
    """filter_compound: the o_totalprice predicate is in the orders scan's
    PushedFilters, and the read schema holds 6 columns: the 5 projected
    ones plus the one only the filter reads."""
    f = facts_of("filter_compound")
    assert f.pushed_filters and any(
        "o_totalprice" in p for p in f.pushed_filters
    ), f.pushed_filters
    (cols,) = f.read_schemas
    assert len(cols) == 6, cols  # 5 projected + 1 filter-only column


def test_dim_joins_broadcast_not_shuffle(facts_of):
    """join_broadcast: the supplier→nation→region chain on lineitem plans
    three BroadcastHashJoins and no exchange at all, with auto-broadcast
    on or off (every dimension side is hinted), so the fact table never
    shuffles."""
    for confs in (None, NO_AUTO_BROADCAST):
        f = facts_of("join_broadcast", confs)
        assert f.broadcast_joins == 3, f.nodes
        assert f.sort_merge_joins == 0 and f.shuffles == 0, f.nodes
        assert f.cartesian_like == 0


def test_multiway_join_broadcasts_all_dims(facts_of):
    """join_multiway, the 5-way region→nation→customer→orders→lineitem
    chain: the nation and region joins broadcast at any size (hinted);
    at the fixture scales all four joins broadcast and the only exchange
    is the final aggregate's, partial→final."""
    f = facts_of("join_multiway")
    assert f.broadcast_joins == 4, f.nodes
    assert f.sort_merge_joins == 0, f.nodes
    assert f.shuffles == 1, f.nodes  # partial→final agg exchange only
    assert f.count("HashAggregate") == 2  # map-side partial + final
    hinted = facts_of("join_multiway", NO_AUTO_BROADCAST)
    assert any("n_regionkey" in j for j in hinted.details("BroadcastHashJoin")), hinted.nodes
    assert any("c_nationkey" in j for j in hinted.details("BroadcastHashJoin")), hinted.nodes


def test_sort_limit_is_take_ordered_not_global_sort(facts_of):
    """Serving shapes S1/S2 (sort_limit_asc, sort_limit_desc): orderBy +
    limit plans as one TakeOrderedAndProject (per-partition heap + driver
    merge), with no Sort and no exchange — never a range-partitioned
    global sort."""
    for name in ("sort_limit_asc", "sort_limit_desc"):
        f = facts_of(name)
        assert f.count("TakeOrderedAndProject") == 1, (name, f.nodes)
        assert f.count("Sort") == 0 and f.shuffles == 0, (name, f.nodes)


def test_groupby_agg_is_partial_then_final(facts_of):
    """agg_groupby_multi (TPC-H Q1 shape): the ship-date filter is in
    PushedFilters, the read schema is pruned to the 7 referenced lineitem
    columns, and the aggregate is partial→final around exactly one
    exchange."""
    f = facts_of("agg_groupby_multi")
    assert f.count("HashAggregate") == 2, f.nodes  # map-side combine on
    assert f.shuffles == 1, f.nodes
    # the date filter must also reach the scan
    assert any("l_shipdate" in p for p in f.pushed_filters), f.pushed_filters
    (cols,) = f.read_schemas
    assert len(cols) == 7, cols


def test_asof_join_is_single_shuffle_window_not_cross_product(facts_of):
    """join_asof, the as-of join as union + window: one exchange on the
    key, one sort, one window — and never a nested-loop or cartesian
    fallback."""
    f = facts_of("join_asof")
    assert f.count_exact("Window") == 1, f.nodes
    assert f.count("Sort") == 1, f.nodes
    assert f.cartesian_like == 0, f.nodes
    assert f.shuffles == 1, f.nodes


# The Python boundary: every query whose returned plan evaluates Python,
# with its number of Python nodes and why Catalyst cannot run that
# work. A reason is one of: it exercises a Python API, it decodes
# media, a cited A/B, or "no native form" with the missing function
# named. test_no_query_plans_a_cartesian_product checks the table in
# its registry pass: a Python node in an unlisted plan, a count other
# than the listed one, and a listed plan with no Python all fail. A
# count above the listed one is the silent 3-10x re-execution class
# (round 10 caught multimodal_image_phash running its decode+hash
# pipeline 9x before a checkpoint materialized it).
# Python that runs while a query is being built (index builds,
# codebooks, checkpoints) is not in the returned plan and not here.
#
# Recurring stages of the ANN certification queries:
# - cand_blocks is _exact_top3_per_query's blocked BLAS prune. No
#   native form: Spark SQL has no matrix product, and a 64-dim dot per
#   pair is an interpreted higher-order fold. _recall_certified's two
#   consumers plan it twice; it executes once (ReusedExchange,
#   plans/r19/sim_cosine_pq_executed_before.txt).
# - _cos_fold is similarity._cos_fold_col's exact rescore, planned once
#   per certification leg. A/B in its docstring: 1.40 -> 0.97 s against
#   the interpreted fold (OPTIMIZATION_r18.md, "Similarity rescore
#   sites").
_ANN_CERT = "cand_blocks x2 + _cos_fold x2 (see above)"
PYTHON_KEPT: dict[str, tuple[int, str]] = {
    "udf_scalar": (1, "exercises a Python API: the scalar pandas_udf"),
    "udaf_grouped": (1, "exercises a Python API: the grouped applyInPandas UDAF"),
    "udtf_python_native": (1, "exercises a Python API: the Spark 4 @udtf table function"),
    "multimodal_features": (
        2,
        "decodes media: attach_png_payload PNG-encodes each document's bytes; "
        "extract_features PNG-decodes each payload once and featurizes the pixels",
    ),
    "multimodal_audio_features": (
        2,
        "decodes media: attach_wav_payload WAV-encodes each document's bytes; "
        "extract_audio_features WAV-decodes each payload once and featurizes the samples",
    ),
    "multimodal_video_frames": (
        3,
        "decodes media: attach_avi_payload packs each document as DIB/MJPG AVI; "
        "sample_frames decodes each clip once, strides and featurizes the decoded "
        "frames; src_stats is numpy over the raw text bytes (no codec), the "
        "certification twin of the oracle's hex arithmetic",
    ),
    "join_fuzzy_jaro": (2, "no native form: jaro_winkler (Spark 4.1 has only levenshtein)"),
    "er_mutual_best": (3, "no native form: jaro_winkler, re-read per union branch"),
    "agg_heavy_hitters_mg": (
        1,
        "no native form: Misra-Gries needs a per-partition counter fold (sketches.misra_gries_summary)",
    ),
    "pipeline_bpe_train": (
        1,
        "no native form: the iterative global-argmax merge loop, one guarded task "
        "(corpus_ops.pipeline_bpe_train docstring: 12 collect rounds measured 2.9 -> 10.1 s)",
    ),
    "pipeline_bpe_encode": (1, "no native form: the same BPE merge loop as pipeline_bpe_train"),
    "sim_cosine_topk": (
        1,
        "no native form: matrix product; topk_blocks prunes a block x all BLAS cosine "
        "against the broadcast matrix",
    ),
    "sim_cosine_exact_pairs": (
        1,
        "no native form: matrix product; block_candidates scores each label block with one BLAS matmul",
    ),
    "dedup_embedding_incremental": (
        1,
        "no native form: matrix product; cell_matches scores each IVF cell's probes x members",
    ),
    "sim_simhash": (
        1,
        "cited A/B: simhash_kernel ~0.2 s against ~0.7 s for the interpreted "
        "aggregate/zip_with vote at sf0.1 (similarity.sim_simhash)",
    ),
    "pipeline_hybrid_retrieval": (
        1,
        "cited A/B: _cos_c dense cosine, 1.88 -> 1.62 s with the lexical checkpoint "
        "(OPTIMIZATION_r18.md, pipeline_hybrid_retrieval)",
    ),
    "dedup_embedding_cosine": (
        2,
        "cited A/B: table_buckets hyperplane kernel, candidate stage 1.0 s against 5.5 s "
        "for 24 interpreted folds (similarity._lsh_candidate_pairs); _cos_fold pair rescore",
    ),
    "sim_cosine_ann_lsh": (
        6,
        _ANN_CERT + " + table_buckets (A/B as for dedup_embedding_cosine) + _cos_fold on the LSH pairs",
    ),
    "sim_cosine_ivf": (
        5,
        _ANN_CERT + " + cell_topk: no native form (matrix product), one BLAS block per IVF cell",
    ),
    "sim_cosine_ivf_reuse": (5, _ANN_CERT + " + cell_topk as in sim_cosine_ivf, on the persisted index"),
    "sim_cosine_pq": (
        6,
        _ANN_CERT + " + adc: PQ distance tables, no native form (matrix product) "
        "+ _cos_fold on the ADC shortlist",
    ),
    "sim_cosine_ivfpq": (
        6,
        _ANN_CERT + " + adc_cell: per-cell ADC, no native form (matrix product) "
        "+ _cos_fold on the ADC shortlist",
    ),
    "sim_cosine_ivfpq_reuse": (
        6,
        _ANN_CERT + " + adc_cell and shortlist _cos_fold as in sim_cosine_ivfpq, on the persisted codes",
    ),
    "sim_ivfpq_gen_serving": (
        3,
        "assign: IVF probe assignment, no native form (matrix product) + adc_cell and "
        "shortlist _cos_fold as in sim_cosine_ivfpq; the exact leg is checkpointed",
    ),
}


def test_pq_rerank_is_the_fold_not_a_grouped_kernel(facts_of):
    """sim_cosine_pq: the ADC shortlist is re-scored by _pair_cosine's
    Arrow fold and ranked by a window; no grouped applyInPandas
    (FlatMapGroupsInPandas) re-rank kernel is planned."""
    f = facts_of("sim_cosine_pq")
    assert f.count("FlatMapGroupsInPandas") == 0, f.nodes
    assert f.count("ArrowEvalPython") == 3, f.nodes  # _cos_fold x2 (exact leg) + shortlist


def test_no_query_plans_a_cartesian_product(spark, sf_dir):
    """No registered query may fall back to CartesianProduct; the only
    BroadcastNestedLoopJoin allowed is a 1-row scalar-subquery
    broadcast (O(n) by construction — every probe row meets exactly one
    broadcast row): the late-data policy's high-water mark and the
    language-balance min-class-size scalar. Even the theta/range joins
    must plan hash joins on their equi component. The same pass checks
    every plan's Python nodes against PYTHON_KEPT."""
    allowed_bnlj = {
        "stream_late_data_policy",
        "pipeline_lang_balance",
        "pipeline_price_deciles",  # 1-row total-count broadcast for exact_ntile
        "join_not_exists_agg",  # 1-row positive-balance average broadcast
        "agg_q22_antijoin_rollup",  # 1-row global-average broadcast (Q22 shape)
        "agg_important_stock",  # 1-row group-total supply broadcast (Q11 shape)
        "join_promo_share_suppliers",  # 1-row global-share broadcast (Q20 shape)
        "pipeline_key_skew_profile",  # 1-row stat assembly broadcasts
        "subquery_scalar_select",  # 1-row global-average broadcast
        "pipeline_pmi_collocations",  # 1-row token/bigram totals broadcasts
        "sql_recursive_month_spine",  # scalar min/max month subqueries in the spine
        "pipeline_dq_report",  # 1-row violations x 1-row total crossJoins per check
        "pipeline_mixture_temperature",  # 1-row Σ√count fold broadcast
        "join_cross_calendar",  # ~80-row spine × ~3-row statuses grid build
        "agg_hll_merge",  # 1-row exact-count certification broadcast
        "sim_cosine_ann_lsh",  # 1-row recall-ok certification broadcast
        "sim_cosine_ivf",  # 1-row recall-ok certification broadcast
        "sim_cosine_ivf_reuse",  # same certification broadcast, persisted index
        "sim_cosine_pq",  # 1-row recall-ok certification broadcast (PQ)
        "sim_cosine_ivfpq",  # 1-row recall-ok certification broadcast (IVFADC)
        "sim_cosine_ivfpq_reuse",  # same certification broadcast, persisted codes
        "sim_ivfpq_gen_serving",  # same certification broadcast, gen-1 cutover line
        "agg_heavy_hitters_mg",  # 1-row corpus-total certification broadcast
        "stream_heavy_hitters",  # 1-row corpus-total certification broadcast
        "sample_priority",  # 1-row tau threshold broadcast (DLT estimator)
        "pipeline_feature_scale",  # 1-row exact-stats broadcast (scaler constants)
        "stream_stream_left_join",  # 1-row emission-cutoff broadcast (wm_cut)
        "stream_stream_full_outer",  # same 1-row cutoff broadcast, both orphan families
        "agg_sketch_overlap",  # 1-row θ* + 1-row exact-twin certification broadcasts
        "pipeline_bigram_kn",  # 1-row bigram-type-count broadcast (KN denominator)
        "pipeline_filter_cascade",  # five 1-row stage-count broadcasts (yield table)
    }
    python_plans = {}
    for name, qd in REGISTRY.items():
        f = plan_facts(qd.fn(spark, sf_dir))
        assert f.count("CartesianProduct") == 0, (name, f.nodes)
        if name not in allowed_bnlj:
            assert f.count("BroadcastNestedLoopJoin") == 0, (name, f.nodes)
        if n_python := len(_python_nodes(f)):
            python_plans[name] = n_python
    unlisted = {n: c for n, c in python_plans.items() if n not in PYTHON_KEPT}
    assert not unlisted, f"Python in plans PYTHON_KEPT does not list: {unlisted}"
    stale = sorted(PYTHON_KEPT.keys() - python_plans.keys())
    assert not stale, f"PYTHON_KEPT lists plans that run no Python: {stale}"
    miscounted = {
        n: (c, PYTHON_KEPT[n][0]) for n, c in python_plans.items() if c != PYTHON_KEPT[n][0]
    }
    assert not miscounted, f"(planned, listed) Python stages differ: {miscounted}"


def test_bucketed_join_has_zero_exchanges(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with NO shuffle exchange — the write-once/amortize-forever
    co-location contract of sources.write_bucketed."""
    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.sources import write_bucketed

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    write_bucketed(orders, "orders_b", str(tmp_path / "orders_b"), ("o_custkey",), 8)
    try:
        a = spark.table("orders_b")
        b = spark.table("orders_b").groupBy("o_custkey").count()
        joined = a.join(b, "o_custkey")
        f = plan_facts(joined)
        assert f.shuffles == 0, f.nodes  # agg AND join ride the buckets
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")


def test_ensure_bucketed_fingerprint_and_cross_session_register(spark, tmp_path):
    """Round-8 ADVICE regressions for the bucketed write-once cache:
    (a) source_fingerprint changes when a source file is regenerated at
    the same path, so a content-fingerprinted tag can never reuse a
    stale bucketed table; (b) ensure_bucketed over an ALREADY-existing
    path registers an external bucketed table (zero rewrite — the
    cross-session case where tableExists() is false but the files are
    live) that still joins with zero shuffle exchanges; (c) no
    partially-written table dir is ever visible at the final path
    (temp + atomic rename)."""
    import os
    import time

    from projektdataengineering_spark.sources import (
        ensure_bucketed,
        source_fingerprint,
    )

    src = tmp_path / "src.parquet"
    spark.range(100).selectExpr("id AS k", "id * 2 AS v").write.parquet(str(src))
    fp1 = source_fingerprint(str(src))
    time.sleep(0.01)
    spark.range(100).selectExpr("id AS k", "id * 3 AS v").write.mode(
        "overwrite"
    ).parquet(str(src))
    fp2 = source_fingerprint(str(src))
    assert fp1 != fp2  # regenerated content → different tag

    df = spark.read.parquet(str(src))
    path = str(tmp_path / "bq" / f"t_{fp2}")
    try:
        ensure_bucketed(spark, df, f"eb_{fp2}", path, ("k",), 4)
        assert os.path.isdir(path)
        assert not any(
            ".tmp." in d for d in os.listdir(tmp_path / "bq")
        )  # atomic rename left no temp dirs
        # simulate a FRESH session: drop only the catalog entry, keep files
        spark.sql(f"DROP TABLE IF EXISTS eb_{fp2}")
        ensure_bucketed(spark, df, f"eb_{fp2}", path, ("k",), 4)  # registers, no rewrite
        t = spark.table(f"eb_{fp2}")
        joined = t.join(t.groupBy("k").count(), "k")
        f = plan_facts(joined)
        assert f.shuffles == 0, f.nodes  # bucket metadata survived re-registration
        assert t.count() == 100
    finally:
        spark.sql(f"DROP TABLE IF EXISTS eb_{fp2}")


def test_partitioned_write_prunes_partitions_on_read(spark, sf_dir, tmp_path):
    """A warehouse written with partitionBy must turn an equality filter
    on the partition column into PartitionFilters (directory pruning —
    the scan never lists the other partitions' files), with the
    remaining predicate still pushed to parquet."""
    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.sources import write_parquet_append

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    path = str(tmp_path / "events_part")
    write_parquet_append(ev, path, partition_by=("event_type",))

    df = spark.read.parquet(path).filter(
        "event_type = 'click' AND value > 10.0"
    )
    f = plan_facts(df)
    assert any("event_type" in p for p in f.partition_filters), f.partition_filters
    assert any("value" in p for p in f.pushed_filters), f.pushed_filters
    # the partition column must NOT appear in the parquet data schema read
    (cols,) = f.read_schemas
    assert "event_type" not in cols, cols


def test_dynamic_partition_pruning_on_dim_filter(spark, sf_dir, tmp_path):
    """Star-schema staple: a filter on the DIM side must prune the
    partitioned FACT side at runtime (dynamicpruningexpression in the
    scan's PartitionFilters) — at 100 TB this is what turns 'scan the
    fact table' into 'scan the partitions the dim filter selects'."""
    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.plans import explain_string
    from projektdataengineering_spark.sources import write_parquet_append

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    path = str(tmp_path / "fact_part")
    write_parquet_append(ev, path, partition_by=("event_type",))
    dim = spark.createDataFrame(
        [("click", 1), ("purchase", 2)], "event_type string, w int"
    )
    fact = spark.read.parquet(path)
    j = fact.join(dim.filter("w = 2"), "event_type").groupBy("event_type").count()
    assert "dynamicpruningexpression" in explain_string(j, "formatted").lower()


def test_split_and_redact_are_map_side_only(facts_of):
    """Deterministic md5 split assignment (split_train_test), regex
    redaction (text_redact_pattern) and overlapping RAG chunking
    (pipeline_chunk_overlap) stream at scan speed: no exchange, no sort,
    no Python in the plan."""
    for name in ("split_train_test", "text_redact_pattern", "pipeline_chunk_overlap"):
        f = facts_of(name)
        assert f.shuffles == 0, (name, f.nodes)
        assert f.count("Sort") == 0, (name, f.nodes)
        assert not _python_nodes(f), (name, f.nodes)


def test_compaction_and_sample_are_single_shuffle_windows(facts_of):
    """Keep-latest compaction and stratified sampling: exactly one
    exchange (the partition key) feeding one window — rank-filter plans
    that re-shuffle per window function would be quadratic waste."""
    for name in ("dedup_keep_latest", "sample_stratified"):
        f = facts_of(name)
        assert f.shuffles == 1, (name, f.nodes)
        assert f.count("Window") >= 1, (name, f.nodes)


def test_histogram_and_profile_aggregate_partial_then_final(facts_of):
    """agg_histogram: the bucket aggregate is partial→final around one
    exchange, so any input size moves only per-bucket states.
    profile_numeric_stats: every per-column scan reads exactly its one
    column (pruning is the whole point of a profiling pass over a
    columnar store)."""
    f = facts_of("agg_histogram")
    assert f.count("HashAggregate") == 2, f.nodes
    assert f.shuffles == 1, f.nodes
    p = facts_of("profile_numeric_stats")
    assert all(len(cols) == 1 for cols in p.read_schemas), p.read_schemas


def test_fuzzy_join_is_hash_or_merge_on_block_key(facts_of):
    """The levenshtein self-join must join on the (noun, size) equi
    block key — never a nested-loop over all part pairs."""
    f = facts_of("join_fuzzy_levenshtein")
    assert f.cartesian_like == 0, f.nodes
    assert f.sort_merge_joins + f.count("ShuffledHashJoin") + f.broadcast_joins >= 1, f.nodes


def test_subquery_decorrelation_joins_on_aggregated_key(facts_of):
    """subquery_avg_yearly (TPC-H Q17 shape): the per-part average is a
    grouped aggregate joined back on the correlation key (decorrelated,
    never a nested loop), and every lineitem scan is pruned to the three
    referenced columns."""
    f = facts_of("subquery_avg_yearly")
    assert f.cartesian_like == 0, f.nodes
    assert f.count("HashAggregate") >= 2, f.nodes
    assert all(
        set(cols) <= {"l_partkey", "l_quantity", "l_extendedprice"}
        for cols in f.read_schemas
    ), f.read_schemas


def test_price_deciles_has_no_global_window(facts_of):
    """pipeline_price_deciles must NOT plan a whole-table
    single-partition window (the round-1 ntile shape). The local-rank
    stage lives behind the operator's localCheckpoint (a Scan
    ExistingRDD in this plan), so the visible signature of the
    distributed rank is: no ntile anywhere, and the partition-offset
    BroadcastHashJoin on the range-partition id. Bounded
    SinglePartition stages (the 1-row total count and the
    <=shuffle-partitions offsets prefix-sum) are allowed; the ranking
    window itself is asserted partitioned in the operator test
    (tests/test_operators.py::test_global_row_number_matches_global_window
    checks rank values; the window runs per __gr_pid by construction,
    operators/rank.py)."""
    f = facts_of("pipeline_price_deciles")
    assert "ntile" not in f.text, f.text
    assert "__gr_pid" in f.text and f.broadcast_joins >= 1, f.text


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Catalyst's runtime bloom-filter injection (on in this engine's
    sessions) must rewrite a selective-dim ⋈ fact join so the FACT side
    is pre-filtered by might_contain(bloom(dim keys)) BEFORE its
    shuffle — the pre-shuffle semi-join reduction that cuts a 100-TB
    fact exchange to the matching fraction. Default thresholds target
    cluster scale (10 GiB application side), so the test lowers them to
    materialize the same plan at fixture scale."""
    from projektdataengineering_spark.catalog import load_table
    from pyspark.sql import functions as F

    with scoped_conf(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            **NO_AUTO_BROADCAST,
        },
    ):
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in opt, opt


def test_min_cost_supplier_semi_filters_before_agg(facts_of):
    """join_min_cost_supplier (TPC-H Q2 shape): lineitem is semi-filtered
    by the part predicate through a LeftSemi BroadcastHashJoin BEFORE the
    first (partkey, suppkey) aggregation, so that shuffle carries
    eligible parts' rows only; the per-part minimum joins back on
    (partkey, min_price); the part and supplier joins broadcast at any
    size (hinted)."""
    f = facts_of("join_min_cost_supplier")
    assert f.count("BroadcastHashJoin") >= 3, f.nodes  # semi + part + supplier
    assert f.count("CartesianProduct") == 0
    assert any(re.search(r"Left keys \[2\]: \[l_partkey#\d+L, .*min_price", j) for j in _joins(f))
    hinted = facts_of("join_min_cost_supplier", NO_AUTO_BROADCAST)
    assert hinted.nodes.index("BroadcastHashJoin") < hinted.nodes.index("HashAggregate")
    assert "LeftSemi" in hinted.details("BroadcastHashJoin")[0], hinted.text
    bhj = hinted.details("BroadcastHashJoin")
    assert any("Right keys [1]: [p_partkey" in j for j in bhj), bhj
    assert any("Right keys [1]: [s_suppkey" in j for j in bhj), bhj


def test_deep_tpch_shapes_broadcast_dims(facts_of):
    """Q7/Q8/Q14: nation/region/supplier/part lookups broadcast; the
    only shuffle exchanges belong to fact-fact joins and the final
    aggregation — no dimension is ever shuffled."""
    for name, min_bcast in (
        ("pipeline_volume_shipping", 3),
        ("pipeline_market_share", 4),
        ("pipeline_promo_revenue", 1),
    ):
        f = facts_of(name)
        assert f.broadcast_joins >= min_bcast, (name, f.nodes)


def test_mode_and_median_window_over_counts_not_rows(facts_of):
    """agg_mode_exact ranks the (type, band) COUNT table: the plan
    must aggregate (partial+final) BEFORE the window sort."""
    f = facts_of("agg_mode_exact")
    nodes = f.nodes
    first_agg = nodes.index("HashAggregate")
    win = nodes.index("Window")
    # formatted explain lists operators leaf-first, so the aggregate
    # (upstream) appears before the window (downstream)
    assert first_agg < win, nodes


def test_bpe_topk_is_take_ordered(facts_of):
    """Global top-50 pairs must plan TakeOrderedAndProject, never a
    single-partition global sort or rank window."""
    f = facts_of("pipeline_bpe_pair_counts")
    assert f.count("TakeOrderedAndProject") == 1, f.nodes
    assert f.count("Window") == 0, f.nodes


def test_exact_cosine_norms_computed_before_self_join(facts_of):
    """sim_cosine_exact_pairs: candidate pairs come out of one per-label
    pandas block kernel (FlatMapGroupsInPandas fed by an exchange on
    label) — no vector self-join, no cartesian; both endpoints' vectors
    then join back by id with their norms already projected below the
    joins, so the cosine — a zip_with fold in the last join's condition,
    not a UDF — divides by nrm_a * nrm_b and recomputes no norm per
    pair."""
    f = facts_of("sim_cosine_exact_pairs")
    assert f.cartesian_like == 0, f.nodes
    assert f.count("FlatMapGroupsInPandas") == 1, f.nodes
    assert "hashpartitioning(label" in f.details("Exchange")[0], f.text
    joins = _joins(f)
    assert [j.split("Left keys [1]: [")[1][:5] for j in joins] == ["vec_a", "vec_b"], f.text
    cond = joins[-1].split("Join condition:")[1]
    assert "zip_with(" in cond and "(nrm_a#" in cond and "SQRT" not in cond, cond
    assert not f.count("ArrowEvalPython"), f.nodes


def test_format_roundtrips_prune_written_columns(facts_of):
    """The ORC read-back aggregates 3 columns; the ORC scan must prune
    to exactly those (ReadSchema discipline holds across formats)."""
    f = facts_of("scan_orc_roundtrip")
    orc_schemas = [set(c) for c in f.read_schemas]
    assert any(
        s == {"l_returnflag", "l_quantity", "l_extendedprice"} for s in orc_schemas
    ), f.read_schemas


def test_debounce_single_exchange(facts_of):
    """Debounce is one lag window over (user, type): exactly one
    shuffle exchange in the whole plan."""
    f = facts_of("pipeline_debounce")
    assert f.shuffles == 1, f.nodes


def test_catalog_seam_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """The 100-TB catalog contract (catalog.py module docstring): the
    fixture-flat-file → partitioned-warehouse swap happens at the ONE
    `spark.read` call site inside load_table, with no query changes.
    Prove it: write events date-partitioned under the same
    `<dir>/events.parquet` layout, load it back THROUGH load_table
    (ts normalization and all), and assert both static partition
    pruning and runtime (dynamic) partition pruning reach the scan."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.plans import explain_string, plan_facts

    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    wh = str(tmp_path / "events.parquet")
    ev.write.partitionBy("event_date").parquet(wh)

    df = load_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"  # seam intact

    # static pruning: an equality filter on the partition column becomes
    # PartitionFilters (directory-level pruning), and the partition
    # column never appears in the parquet data-file ReadSchema
    one_day = df.filter(F.col("event_date") == F.lit("2024-01-10")).select(
        "event_id", "event_date"
    )
    f = plan_facts(one_day)
    assert any("event_date" in p for p in f.partition_filters), (
        f.partition_filters or f.nodes
    )
    assert all("event_date" not in cols for cols in f.read_schemas), f.read_schemas

    # dynamic pruning: a filtered dim joined on the partition column
    # must inject dynamicpruningexpression into the fact scan at runtime
    dim = spark.createDataFrame(
        [("2024-01-10", 1), ("2024-01-11", 2)], "d string, w int"
    ).select(F.col("d").cast("date").alias("event_date"), "w")
    j = (
        df.join(dim.filter("w = 2"), "event_date")
        .groupBy("event_date")
        .agg(F.count("*").alias("n"))
    )
    assert "dynamicpruningexpression" in explain_string(j, "formatted").lower()


def test_registered_bucketed_join_query_is_shuffle_free(facts_of):
    """join_bucketed_colocated: after the bucketed writes, both sides are
    scanned from 8-bucket tables, and the join and the per-key rollup
    plan zero shuffle exchanges — the bucketed write paid its shuffle
    once at ingest."""
    f = facts_of("join_bucketed_colocated")
    assert f.shuffles == 0, f.nodes


def test_substring_spans_shuffles_digests_only(facts_of):
    """dedup_substring_spans: window fingerprints are computed map-side
    (a Generate below the shuffles); the only exchanges the planner
    inserts are the corpus repeat count on fp and the island merge on
    doc_id, and neither carries text — only (doc_id, pos, fp); nothing
    cartesian appears."""
    f = facts_of("dedup_substring_spans")
    assert f.cartesian_like == 0, f.nodes
    assert f.shuffles <= 3, f.nodes
    planned = _planned_shuffles(f)
    assert [re.search(r"hashpartitioning\((\w+)#", d).group(1) for d in planned] == [
        "fp",
        "doc_id",
    ], planned
    assert not any("text#" in d for d in planned), planned


def test_bloom_prefilter_is_mapside_then_broadcast(facts_of):
    """join_bloom_prefiltered: the probe prune runs inside the lineitem
    scan stage (bit tests over plan-literal words — no exchange below the
    join), the join with the hot orders is a BroadcastHashJoin at any
    size (hinted), and the only shuffle is the final aggregate's
    partial→final split."""
    f = facts_of("join_bloom_prefiltered")
    assert f.cartesian_like == 0, f.nodes
    assert f.broadcast_joins >= 1, f.nodes
    assert f.shuffles <= 1, f.nodes
    assert facts_of("join_bloom_prefiltered", NO_AUTO_BROADCAST).broadcast_joins == 1


def test_bm25_topk_is_take_ordered_not_global_sort(facts_of):
    """pipeline_bm25_topk: the final top-50 is a TakeOrderedAndProject
    (per-partition heaps + driver merge) over the partial→final doc
    score aggregate; the one Window runs above it, over the kept rows;
    no exchange range-partitions for a global sort."""
    f = facts_of("pipeline_bm25_topk")
    assert f.count("TakeOrderedAndProject") == 1, f.nodes
    assert not any("rangepartitioning" in d for d in f.details("Exchange")), f.text
    assert f.nodes.index("Window") > f.nodes.index("TakeOrderedAndProject"), f.nodes


def test_ohlc_single_aggregate_exchange(facts_of):
    """pipeline_resample_ohlc: open/close via min_by/max_by make the
    whole bar ONE partial→final hash aggregate — exactly one shuffle,
    no window, no join."""
    f = facts_of("pipeline_resample_ohlc")
    assert f.shuffles == 1, f.nodes
    assert f.count("Window") == 0, f.nodes
    assert f.cartesian_like == 0, f.nodes


def test_ewma_smooth_folds_in_the_jvm_behind_one_exchange(facts_of):
    """pipeline_ewma_smooth: each user's ordered values fold in the JVM
    (collect_list, array_sort, aggregate) behind one hash exchange on
    user_id, with no Python node."""
    f = facts_of("pipeline_ewma_smooth")
    assert not _python_nodes(f), f.nodes
    assert f.shuffles == 1, f.nodes
    assert "hashpartitioning(user_id" in f.details("Exchange")[0], f.details("Exchange")


def test_attribution_single_window_pass(facts_of):
    """pipeline_attribution: both IGNORE-NULLS touch carries come out of
    ONE window pass over one user_id exchange, and the two attribution
    models fan out map-side via one Generate (explode) — not a union that
    re-runs the window pipeline per branch — before the (model, channel)
    partial→final aggregate: two exchanges, exactly one Window node."""
    f = facts_of("pipeline_attribution")
    assert f.shuffles == 2, f.nodes
    assert f.count("Window") == 1, f.nodes
    assert f.count("Generate") == 1, f.nodes


def test_pareto_frontier_never_self_joins(facts_of):
    """filter_pareto_frontier: the dominance test is the sort-scan
    identity — a per-price max aggregate, a running max window over the
    distinct-price frame, and a broadcast join back on price (hinted, so
    at any size) — never the definitional O(n²) self-join the oracle
    runs."""
    f = facts_of("filter_pareto_frontier")
    assert f.cartesian_like == 0, f.nodes
    assert f.broadcast_joins >= 1, f.nodes
    assert f.count("SortMergeJoin") == 0, f.nodes
    hinted = facts_of("filter_pareto_frontier", NO_AUTO_BROADCAST)
    (j,) = _joins(hinted)
    assert "p_retailprice" in j and hinted.broadcast_joins == 1, j


def test_ab_lift_two_aggregate_exchanges_only(facts_of):
    """pipeline_ab_lift: per-user conversion rollup + one global row —
    two partial→final aggregates, no window, no join."""
    f = facts_of("pipeline_ab_lift")
    assert f.shuffles == 2, f.nodes
    assert f.count("Window") == 0, f.nodes
    assert f.cartesian_like == 0, f.nodes


def test_target_encode_single_exchange(facts_of):
    """pipeline_target_encode: both window passes (segment sum, count)
    share one exchange on the segment key."""
    f = facts_of("pipeline_target_encode")
    assert f.shuffles == 1, f.nodes
    assert f.count("Window") == 1, f.nodes


def test_bfs_frontier_joins_are_equi_not_cartesian(facts_of):
    """graph_bfs_hops: each frontier level is cut by a localCheckpoint, so
    the final plan is the one checkpoint scan — no join, exchange or
    cartesian-like node re-runs at read time."""
    f = facts_of("graph_bfs_hops")
    assert f.cartesian_like == 0, f.nodes
    assert f.nodes == ["Scan ExistingRDD"], f.nodes


def test_quantile_sketch_fanout_is_mapside_no_theta_join(facts_of):
    """agg_quantile_sketch: the 3-quantile spec fans out via Generate
    (literal-array explode) on both the estimate and the exact side,
    never a join; the sketch merge is one partial→final aggregate keyed
    on (event_type, bucket); no nested-loop or cartesian join."""
    f = facts_of("agg_quantile_sketch")
    assert f.count("Generate") >= 2, f.nodes  # est side + exact side
    assert f.cartesian_like == 0, f.nodes
    assert f.count("BroadcastNestedLoopJoin") == 0, f.nodes
    assert any(
        re.search(r"Keys \[2\]: \[event_type#\d+, bucket", d) for d in f.details("HashAggregate")
    ), f.text


def test_jaccard_neighbors_is_take_ordered_and_equi_only(facts_of):
    """graph_jaccard_neighbors: the pair self-join is an equi-join on the
    customer key (both sides hashed on it), every join is hash-based, and
    the top-100 is one TakeOrderedAndProject — no global sort."""
    f = facts_of("graph_jaccard_neighbors")
    assert f.count("TakeOrderedAndProject") == 1, f.nodes
    assert f.cartesian_like == 0, f.nodes
    assert f.count_exact("Sort") == f.sort_merge_joins * 2, f.nodes  # SMJ inputs only
    assert re.search(r"Left keys \[1\]: \[c#\d+L\]", _joins(f)[0]), _joins(f)[0]


def test_er_mutual_best_runs_on_name_domain(facts_of):
    """er_mutual_best: the match must run on the distinct-name domain —
    the plan may contain only the two name-level blocking joins (plus
    broadcast verdicts), and both ranking windows; record-level pair
    materialization would show as extra joins after the windows."""
    f = facts_of("er_mutual_best")
    # count_exact: count("Window") is prefix-based and would also
    # count the WindowGroupLimit nodes the rn=1 filters push down
    assert f.count_exact("Window") == 2, f.nodes
    # blocking joins on substr equi-keys: hash joins, nothing nested-loop
    assert f.cartesian_like == 0, f.nodes
    assert f.count("BroadcastNestedLoopJoin") == 0, f.nodes


def test_image_phash_python_runs_once_behind_checkpoint(facts_of):
    """multimodal_image_phash: the decode+hash Python pipeline is
    materialized ONCE by the lazy checkpoint, so the final plan must
    contain ZERO Python nodes — every one of the 9 branches (4 chunk
    joins × 2 sides + join-back) reads the checkpointed hash table
    (Scan ExistingRDD); banding, Hamming, and the join-back are pure
    JVM, and image bytes never shuffle."""
    f = facts_of("multimodal_image_phash")
    assert not _python_nodes(f), f.nodes
    assert f.count("Scan ExistingRDD") >= 2, f.nodes  # checkpoint reuse
    assert f.cartesian_like == 0, f.nodes


def test_semireduced_probes_below_a_shuffle_join(facts_of):
    """join_semireduced: BOTH Bloom probe filters run map-side below
    the join (survivors only reach the exchanges), the join is a
    SortMergeJoin by hint — never a broadcast — and nothing cartesian
    appears. The probes are the xxhash64 fast-lane family (codegen'd, no
    higher-order-function binding), so each shows as an xxhash64 lane
    expression."""
    f = facts_of("join_semireduced")
    assert f.cartesian_like == 0, f.nodes
    assert f.broadcast_joins == 0, f.nodes
    assert f.sort_merge_joins + f.count("ShuffledHashJoin") >= 1, f.nodes
    assert f.text.count("xxhash64") >= 2, "both probe conditions must be planned"


def test_corpus_build_does_not_force_cluster_broadcast(spark, sf_dir):
    """Round-12 verdict task #2 (and the r11 neardup_apply ADVICE): the
    CC cluster table's mass is data-dependent — the near-dup fraction
    of the corpus — so the canonical-docs join must carry NO forced
    broadcast hint; sizing is AQE's call at runtime. A forced hint
    would surface as a ResolvedHint in the logical plan."""
    from projektdataengineering_spark.plans import explain_string

    s = explain_string(
        REGISTRY["pipeline_corpus_build"].fn(spark, sf_dir), "extended"
    )
    logical = s.split("== Physical Plan ==")[0]
    assert "ResolvedHint" not in logical, logical
    assert "UnresolvedHint" not in logical, logical


def test_embedding_incremental_probes_persisted_index(facts_of, sf_dir):
    """dedup_embedding_incremental: the corpus leg must be a PLAIN
    parquet scan of the persisted IVF member lists — no assignment
    kernel, no centroid math above it (the O(corpus) work happened
    once at index build) — and the per-cell BLAS kernel must appear
    exactly ONCE (both verdicts are conditional mins of a single
    aggregate over the pair stream)."""
    from projektdataengineering_spark.catalog import artifact

    f = facts_of("dedup_embedding_incremental")
    assert f.count("FlatMapGroupsInPandas") == 1, f.nodes
    assert f.cartesian_like == 0, f.nodes
    # the persisted member lists are read as a real parquet scan
    assert artifact("embed_ivf_index", sf_dir) in f.text, f.text


def test_quality_classifier_broadcasts_model_single_agg_exchange(facts_of):
    """pipeline_quality_classifier: the weight table must enter as a
    broadcast at any size (hinted: model parameters ship once — never a
    shuffle of the feature stream), the spine must arrive via the
    zero-contribution union (no SMJ back to documents), and the per-doc
    aggregate must ride the two branches' existing doc_id partitioning —
    exactly the two repartition exchanges, none for the aggregate
    itself."""
    f = facts_of("pipeline_quality_classifier")
    assert f.broadcast_joins == 1, f.nodes
    assert f.sort_merge_joins == 0 and f.cartesian_like == 0, f.nodes
    assert f.count("Union") == 1, f.nodes
    assert f.shuffles == 2, f.nodes
    assert f.count("HashAggregate") == 2, f.nodes
    assert facts_of("pipeline_quality_classifier", NO_AUTO_BROADCAST).broadcast_joins == 1


def test_forecast_revenue_pushes_every_predicate(facts_of):
    """agg_forecast_revenue (Q6): all three predicate columns must
    reach the parquet scan, the read schema must hold exactly the four
    touched columns, and the plan must be one partial→final aggregate
    around the single 1-row exchange."""
    f = facts_of("agg_forecast_revenue")
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(frag in p for p in f.pushed_filters), (frag, f.pushed_filters)
    (cols,) = f.read_schemas
    assert sorted(cols) == [
        "l_discount", "l_extendedprice", "l_quantity", "l_shipdate"
    ], cols
    assert f.count("HashAggregate") == 2 and f.shuffles == 1, f.nodes


def test_local_supplier_volume_cycle_closes_broadcast_side(facts_of):
    """join_local_supplier_volume (TPC-H Q5): the cyclic join graph closes
    on broadcast sides at any size (hinted: region→nation→supplier
    collapse and the compound c_nationkey = s_nationkey customer join),
    with the region equality and the order date window pushed to their
    scans."""
    f = facts_of("join_local_supplier_volume")
    assert f.cartesian_like == 0, f.nodes
    assert f.broadcast_joins >= 3, f.nodes
    assert any("r_name" in p for p in f.pushed_filters), f.pushed_filters
    assert any("o_orderdate" in p for p in f.pushed_filters), f.pushed_filters
    hinted = facts_of("join_local_supplier_volume", NO_AUTO_BROADCAST)
    assert hinted.broadcast_joins >= 4, hinted.nodes
    assert any(
        re.search(r"Right keys \[2\]: \[c_custkey#\d+L, c_nationkey", j)
        for j in hinted.details("BroadcastHashJoin")
    ), hinted.text


def test_shipping_priority_top10_is_take_ordered(facts_of):
    """join_shipping_priority (TPC-H Q3 shape): both date cuts and the
    BUILDING segment equality are in PushedFilters; the segment's
    customers reduce orders by a LeftSemi BroadcastHashJoin at any size
    (hinted) before the lineitem join; the global top-10 plans as
    TakeOrderedAndProject, never a range-partitioned total sort."""
    f = facts_of("join_shipping_priority")
    assert f.count("TakeOrderedAndProject") == 1, f.nodes
    assert f.cartesian_like == 0, f.nodes
    assert any("o_orderdate" in p for p in f.pushed_filters), f.pushed_filters
    assert any("l_shipdate" in p for p in f.pushed_filters), f.pushed_filters
    assert any("EqualTo(c_mktsegment,BUILDING)" in p for p in f.pushed_filters)
    hinted = facts_of("join_shipping_priority", NO_AUTO_BROADCAST)
    (semi,) = _joins(hinted, "LeftSemi")
    assert semi in hinted.details("BroadcastHashJoin"), hinted.text


def test_topk_per_group_pushes_rank_filter_below_one_window(facts_of):
    """topk_per_group: one exchange, on the partition key o_custkey,
    feeds one Window; the row_number filter is pushed below it as a
    partial and a final WindowGroupLimit, so each group's rows are cut to
    k on both sides of the shuffle."""
    f = facts_of("topk_per_group")
    (ex,) = f.details("Exchange")
    assert "hashpartitioning(o_custkey" in ex, ex
    assert f.count_exact("Window") == 1, f.nodes
    limits = f.details("WindowGroupLimit")
    assert [b.rstrip().rsplit(", ", 1)[1] for b in limits] == ["Partial", "Final"], limits


def test_band_candidates_come_from_a_groupby_not_a_self_join(facts_of):
    """sim_minhash_lsh and sim_ngram_jaccard: the documents are scanned
    once; candidate pairs come from an aggregate keyed on the band
    (collect the members, then explode the pairs in a Generate) — no join
    node anywhere — and no shuffle the planner inserts carries the
    text (only the explicit input-spreading repartition does)."""
    for name, band_key in (
        ("sim_minhash_lsh", "Keys [2]: [band_idx"),
        ("sim_ngram_jaccard", "Keys [2]: [source"),
    ):
        f = facts_of(name)
        assert f.count("Scan parquet") == 1, (name, f.nodes)
        assert not _joins(f) and f.cartesian_like == 0, (name, f.nodes)
        assert any(band_key in d for d in f.details("ObjectHashAggregate")), (name, f.text)
        assert f.count("Generate") >= 1, (name, f.nodes)
        assert not any("text#" in d for d in _planned_shuffles(f)), (name, f.text)


def test_sessionize_shares_one_window_sort(facts_of):
    """pipeline_sessionize: the lag and the running session counter share
    one (user_id × (ts, event_id)) window ordering — one exchange on
    user_id, one Sort, two Window nodes over it."""
    f = facts_of("pipeline_sessionize")
    (ex,) = f.details("Exchange")
    assert "hashpartitioning(user_id" in ex, ex
    assert f.count("Sort") == 1, f.nodes
    assert f.count_exact("Window") == 2, f.nodes


def test_customer_revenue_pushes_flag_and_takes_top20(facts_of):
    """pipeline_customer_revenue (TPC-H Q10 shape): the returnflag
    equality is in the lineitem scan's PushedFilters; the nation join
    broadcasts at any size (hinted); revenue is summed as decimal(18,2);
    the top 20 is a TakeOrderedAndProject."""
    f = facts_of("pipeline_customer_revenue")
    assert any("EqualTo(l_returnflag,R)" in p for p in f.pushed_filters), f.pushed_filters
    assert any(
        "decimal(18,2)" in d and "sum(" in d for d in f.details("HashAggregate")
    ), f.text
    assert f.count("TakeOrderedAndProject") == 1, f.nodes
    hinted = facts_of("pipeline_customer_revenue", NO_AUTO_BROADCAST)
    assert any(
        "Right keys [1]: [n_nationkey" in j for j in hinted.details("BroadcastHashJoin")
    ), hinted.nodes


def test_contamination_broadcasts_benchmark_grams(facts_of):
    """pipeline_contamination: the distinct benchmark gram set is the
    broadcast side of the one gram join at any size (hinted), and the
    per-doc overlap count is a partial→final aggregate on doc_id that
    rides the corpus side's doc_id partitioning — no exchange of its
    own."""
    f = facts_of("pipeline_contamination", NO_AUTO_BROADCAST)
    (j,) = f.details("BroadcastHashJoin")
    assert "Left keys [1]: [gram" in j and len(_joins(f)) == 1, j
    assert f.nodes[f.nodes.index("BroadcastExchange") - 1] == "HashAggregate", f.nodes
    planned = _planned_shuffles(f)
    assert len(planned) == 1 and "hashpartitioning(gram" in planned[0], planned


def test_exists_decorrelates_to_semi_join(facts_of):
    """join_exists_correlated (TPC-H Q4 shape): the correlated EXISTS
    plans as a LeftSemi join on orderkey, so no order row can multiply;
    the l_quantity filter is in the lineitem scan's PushedFilters; the
    priority count is partial→final around one exchange on
    o_orderpriority."""
    f = facts_of("join_exists_correlated")
    (semi,) = _joins(f, "LeftSemi")
    assert "o_orderkey" in semi, semi
    assert len(_joins(f)) == 1, f.nodes
    assert any("GreaterThan(l_quantity" in p for p in f.pushed_filters), f.pushed_filters
    assert f.count("HashAggregate") == 2, f.nodes
    assert sum("hashpartitioning(o_orderpriority" in d for d in f.details("Exchange")) == 1


def test_winsorize_windows_share_one_exchange(facts_of):
    """pipeline_winsorize: the rank, the partition count and the two cut
    windows all run over ONE exchange on event_type and one Sort."""
    f = facts_of("pipeline_winsorize")
    (ex,) = f.details("Exchange")
    assert "hashpartitioning(event_type" in ex, ex
    assert f.count("Sort") == 1, f.nodes
    assert f.count_exact("Window") == 3, f.nodes


def test_skew_salted_join_keys_on_key_and_salt(facts_of):
    """join_skew_salted: the probe side's salt is pmod(xxhash64(...), 8),
    the build side is exploded over the 8 salt values by one Generate,
    and the join keys are (custkey, salt) — the key a shuffle join needs
    to spread each hot key over 8 reducers. With auto-broadcast off the
    join is a SortMergeJoin on exactly that pair."""
    f = facts_of("join_skew_salted", NO_AUTO_BROADCAST)
    assert "pmod(xxhash64(" in f.text, f.text
    (gen,) = f.details("Generate")
    assert "explode([0,1,2,3,4,5,6,7])" in gen, gen
    (j,) = _joins(f)
    assert f.sort_merge_joins == 1, f.nodes
    assert re.search(r"Left keys \[2\]: \[o_custkey#\d+L, __salt", j), j


def test_only_late_supplier_collapses_then_semi_and_anti_joins(facts_of):
    """join_only_late_supplier (TPC-H Q21 shape): lineitem collapses to
    three distinct key sets (aggregates with no functions, partial and
    final) before any of them joins; EXISTS and NOT EXISTS plan as one
    LeftSemi and one LeftAnti join on l_orderkey with the suppkey
    inequality as the join condition; the supplier join broadcasts at
    any size (hinted)."""
    f = facts_of("join_only_late_supplier", NO_AUTO_BROADCAST)
    for kind in ("LeftSemi", "LeftAnti"):
        (j,) = _joins(f, kind)
        assert "Left keys [1]: [l_orderkey" in j and "NOT (l_suppkey" in j, j
    distinct = [d for d in f.details("HashAggregate") if "Functions: []" in d]
    assert len(distinct) == 6, f.text
    (bhj,) = f.details("BroadcastHashJoin")
    assert "Right keys [1]: [s_suppkey" in bhj, bhj


def test_fuzzy_jaro_scores_names_not_records(facts_of):
    """join_fuzzy_jaro: the Jaro-Winkler pandas UDF (ArrowEvalPython)
    reads only distinct name pairs, never a record key; the record-pair
    join is an equi-join on (brand, type); the scored verdict table is
    probed by a BroadcastHashJoin at any size (hinted)."""
    f = facts_of("join_fuzzy_jaro")
    evals = f.details("ArrowEvalPython")
    assert evals and not any("partkey" in d for d in evals), evals
    assert any(
        re.search(r"Left keys \[2\]: \[brand_a#\d+, type_a", j) for j in _joins(f)
    ), f.text
    hinted = facts_of("join_fuzzy_jaro", NO_AUTO_BROADCAST)
    assert any("name_lo" in j for j in hinted.details("BroadcastHashJoin")), hinted.text


def test_compaction_plan_is_two_chained_aggregates(facts_of):
    """pipeline_compaction_plan: rows → simulated files → partitions is
    two chained partial→final hash aggregates (4 HashAggregate, 2
    exchanges) over one scan — no join, no window, no Python."""
    f = facts_of("pipeline_compaction_plan")
    assert f.count("HashAggregate") == 4 and f.shuffles == 2, f.nodes
    assert f.count("Scan parquet") == 1, f.nodes
    assert not _joins(f) and f.count("Window") == 0 and not _python_nodes(f), f.nodes


def test_heavy_hitters_merge_counters_in_one_groupby(facts_of):
    """agg_heavy_hitters_mg: one MapInPandas folds the Misra-Gries
    counters per partition and ONE groupBy on term merges them; the
    exact top-10 is a TakeOrderedAndProject over a separate partial→final
    count; the corpus total is a 1-row global aggregate (the only
    SinglePartition exchange feeds a HashAggregate) joined by the one
    allowlisted BroadcastNestedLoopJoin."""
    f = facts_of("agg_heavy_hitters_mg")
    assert f.count("MapInPandas") == 1, f.nodes
    assert f.count("TakeOrderedAndProject") == 1, f.nodes
    assert f.count("BroadcastNestedLoopJoin") == 1, f.nodes
    assert _single_partition_edges(f) == [("HashAggregate", "HashAggregate")], f.text
    assert sum("hashpartitioning(term" in d for d in f.details("Exchange")) == 2, f.text


def test_pagerank_lineage_cut_leaves_a_flat_plan(facts_of):
    """graph_pagerank: each unrolled round is cut by a localCheckpoint, so
    the final plan is one checkpoint scan (Scan ExistingRDD) plus the
    output sort — no join of the 8 rounds survives into it."""
    f = facts_of("graph_pagerank")
    assert f.count("Scan ExistingRDD") == 1, f.nodes
    assert not _joins(f) and f.cartesian_like == 0, f.nodes


def test_sketch_overlap_has_no_single_reducer_sort(facts_of):
    """agg_sketch_overlap: the exact min-k sketches are built in two
    levels, so every SinglePartition exchange in the plan feeds a final
    HashAggregate (1-row totals) — none feeds a Sort or a Window; the
    θ* and exact-twin rows join by BroadcastNestedLoopJoin."""
    f = facts_of("agg_sketch_overlap")
    consumers = {c for _, c in _single_partition_edges(f)}
    assert consumers == {"HashAggregate"}, consumers
    assert f.count("BroadcastNestedLoopJoin") >= 1 and f.count("CartesianProduct") == 0, f.nodes


def test_bigram_kn_aggregates_pair_types(facts_of):
    """pipeline_bigram_kn: the bigrams are built behind a checkpoint
    (Scan ExistingRDD), and the plan over them is three partial→final
    aggregates, equi-joins on w1 and w2, one 1-row type-count
    BroadcastNestedLoopJoin and one TakeOrderedAndProject — no
    positional self-join, no range-partitioned global sort."""
    f = facts_of("pipeline_bigram_kn")
    assert f.count("HashAggregate") == 6, f.nodes
    assert f.count("BroadcastNestedLoopJoin") == 1, f.nodes
    assert f.count("TakeOrderedAndProject") == 1, f.nodes
    assert not any("rangepartitioning" in d for d in f.details("Exchange")), f.text
    keys = sorted(re.search(r"Left keys \[1\]: \[(\w+)#", j).group(1) for j in _joins(f))
    assert keys == ["w1", "w2"], keys


def test_bpe_train_is_one_guarded_python_task(facts_of):
    """pipeline_bpe_train: ONE job — the word-type count is partial→final
    on w, then a SinglePartition exchange feeds the single MapInPandas
    that runs the whole merge loop over the vocabulary-bounded type
    table; no other Python node, no join."""
    f = facts_of("pipeline_bpe_train")
    assert f.count("MapInPandas") == 1 and len(_python_nodes(f)) == 1, f.nodes
    assert _single_partition_edges(f) == [("HashAggregate", "MapInPandas")], f.text
    assert any("hashpartitioning(w#" in d for d in f.details("Exchange")), f.text
    assert not _joins(f), f.nodes


def test_incremental_neardup_scans_the_persisted_index(facts_of, sf_dir):
    """dedup_incremental_neardup: the corpus side is a plain parquet scan
    of the persisted signature index; the batch slice's signatures come
    from one checkpoint read by three branches (Scan ExistingRDD × 3); no
    shuffle the planner inserts carries text — only ids and
    signatures."""
    from projektdataengineering_spark.catalog import artifact

    f = facts_of("dedup_incremental_neardup")
    assert artifact("neardup_index", sf_dir) in f.text, f.text
    assert f.count("Scan ExistingRDD") == 3, f.nodes
    assert not any("text#" in d for d in _planned_shuffles(f)), f.text


def test_dsir_select_is_take_ordered_without_python(facts_of):
    """pipeline_dsir_select: the scored pool is a checkpoint scan; the
    top-100 frontier is one TakeOrderedAndProject joined back to the pool
    by one equi-join on doc_id — no range-partitioned global sort, no
    Python node."""
    f = facts_of("pipeline_dsir_select")
    assert f.count("TakeOrderedAndProject") == 1, f.nodes
    assert not any("rangepartitioning" in d for d in f.details("Exchange")), f.text
    (j,) = _joins(f)
    assert "Left keys [1]: [doc_id" in j and not _python_nodes(f), f.text


def test_ivfpq_adc_runs_once_per_cell_on_persisted_codes(facts_of, sf_dir):
    """sim_cosine_ivfpq and sim_cosine_ivfpq_reuse plan identically: the
    member codes are a parquet scan of the persisted cell-partitioned
    code index (vec_id and codes only), hash-partitioned on cell into ONE
    per-cell applyInPandas ADC kernel; the probes fan out to their cells
    through one Generate; the only SinglePartition exchange feeds a
    1-row HashAggregate."""
    from projektdataengineering_spark.catalog import artifact

    base = facts_of("sim_cosine_ivfpq")
    assert sorted(facts_of("sim_cosine_ivfpq_reuse").nodes) == sorted(base.nodes)
    assert artifact("ivfpq_codes", sf_dir) in base.text, base.text
    assert ["vec_id", "codes"] in base.read_schemas, base.read_schemas
    assert base.count("FlatMapGroupsInPandas") == 1 and base.count("Generate") == 1, base.nodes
    assert sum("hashpartitioning(cell" in d for d in base.details("Exchange")) == 1, base.text
    assert [c for _, c in _single_partition_edges(base)] == ["HashAggregate"], base.text


def test_ivfpq_gen_serving_materializes_exact_leg_once(facts_of):
    """sim_ivfpq_gen_serving: the exact all-pairs baseline is a
    checkpoint, so neither certification branch re-runs it: the plan has
    one ArrowEvalPython, one MapInPandas and one per-cell
    FlatMapGroupsInPandas (the ADC kernel, after one exchange on cell);
    the 1-row recall verdict joins by the one BroadcastNestedLoopJoin."""
    f = facts_of("sim_ivfpq_gen_serving")
    for node in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert f.count(node) == 1, (node, f.nodes)
    assert sum("hashpartitioning(cell" in d for d in f.details("Exchange")) == 1, f.text
    assert f.count("BroadcastNestedLoopJoin") == 1, f.nodes
    assert f.count("Scan ExistingRDD") >= 2, f.nodes


def test_stream_embedding_delta_reads_committed_manifests(facts_of):
    """stream_embedding_delta: all verdict work runs inside the stream's
    per-epoch foreachBatch, so the certified read is a single JSON scan
    of the committed epoch manifests — no other node."""
    f = facts_of("stream_embedding_delta")
    assert f.nodes == ["Scan json"], f.nodes


def test_read_back_plans_are_partial_aggregated_scans(facts_of):
    """The read-back side of the maintenance queries: each certified plan
    is one partial→final aggregate per parquet scan (the snapshots,
    generations or index lines), unioned — no join, no Python; the
    rewrite or GC work runs before the plan. pipeline_merge_evolve (3
    snapshots) and pipeline_merge_vacuum (2) backfill the evolved column
    with COALESCE."""
    for name, scans in (
        ("pipeline_merge_evolve", 3),
        ("pipeline_merge_vacuum", 2),
        ("sim_ivfpq_index_append", 2),
        ("pipeline_index_vacuum", 6),
    ):
        f = facts_of(name)
        assert f.count("Scan parquet") == scans, (name, f.nodes)
        assert f.count("HashAggregate") == 2 * scans and f.shuffles == scans, (name, f.nodes)
        assert f.count("Union") == 1, (name, f.nodes)
        assert not _joins(f) and not _python_nodes(f), (name, f.nodes)
        if name.startswith("pipeline_merge"):
            assert "coalesce(" in f.text, (name, f.text)


def test_occupancy_audits_scan_counts_only(facts_of):
    """sim_ivfpq_cell_skew and sim_ivf_member_skew: two scans of the
    cell-partitioned index (one per generation), each counted per cell
    and then to a 1-row verdict (4 HashAggregate per scan, the
    SinglePartition exchanges feed HashAggregates); no scan reads a
    code or vector column — the code audit reads no data column at all
    (cell comes from the partition directory), the member audit reads
    only cell."""
    for name, schema in (("sim_ivfpq_cell_skew", []), ("sim_ivf_member_skew", ["cell"])):
        f = facts_of(name)
        assert f.read_schemas == [schema, schema], (name, f.read_schemas)
        assert f.count("HashAggregate") == 8, (name, f.nodes)
        assert {c for _, c in _single_partition_edges(f)} == {"HashAggregate"}, (name, f.text)


def test_custdist_outer_pushes_not_like_and_keeps_outer_rows(facts_of):
    """agg_custdist_outer (TPC-H Q13 shape): the orders-side NOT LIKE sits
    in the outer join condition and still reaches the orders scan as
    Not(StringContains(o_orderpriority, ...)); the join is a LeftOuter
    from customer, so unmatched customers reach the c_count=0 bucket;
    the per-customer count is keyed on c_custkey."""
    f = facts_of("agg_custdist_outer")
    assert any("Not(StringContains(o_orderpriority" in p for p in f.pushed_filters), f.pushed_filters
    (j,) = _joins(f)
    assert "Join type: LeftOuter" in j and "Left keys [1]: [c_custkey" in j, j
    assert any("Keys [1]: [c_custkey" in d for d in f.details("HashAggregate")), f.text


def test_disjunctive_pushdown_reaches_both_scans(facts_of):
    """join_disjunctive_pushdown (TPC-H Q19 shape), written
    filter-after-join: Catalyst's CNF extraction hands each scan its
    derived disjunction — the lineitem scan's PushedFilters carry the
    linestatus equality and the OR of quantity ranges, the part scan's
    the OR of (brand AND size) branches — and the full cross-attribute OR
    re-applies as the join condition."""
    f = facts_of("join_disjunctive_pushdown")
    (li,) = [p for p in f.pushed_filters if "l_linestatus" in p]
    assert "EqualTo(l_linestatus,O)" in li and "Or(" in li and "l_quantity" in li, li
    (part,) = [p for p in f.pushed_filters if "p_brand" in p]
    assert "Or(" in part and "p_size" in part, part
    (j,) = _joins(f)
    assert " OR " in j.split("Join condition:")[1], j


def test_product_profit_broadcasts_dims_and_sums_decimals(facts_of):
    """agg_product_profit (TPC-H Q9 shape): the LIKE-filtered part slice
    is in PushedFilters; part, supplier and nation join by broadcast at
    any size (hinted), so lineitem is reduced before the orders join; one
    aggregate keyed on (nation, year) carries two decimal(18,2) sums."""
    f = facts_of("agg_product_profit", NO_AUTO_BROADCAST)
    assert any("StringContains(p_name" in p for p in f.pushed_filters), f.pushed_filters
    bhj = f.details("BroadcastHashJoin")
    for key in ("p_partkey", "s_suppkey", "n_nationkey"):
        assert any(f"Right keys [1]: [{key}" in j for j in bhj), (key, bhj)
    final = [d for d in f.details("HashAggregate") if "n_name" in d.split("Keys")[1][:40]]
    assert final and all(d.count("decimal(18,2)") >= 2 for d in final), final


def test_shuffle_shard_prefix_sum_is_bucket_partitioned(facts_of):
    """pipeline_shuffle_shard: the prefix sum is distributed — the local
    rank and running token sum are one Window over one exchange on the
    md5-prefix bucket; the one SinglePartition exchange feeds the Sort
    of the bucket-base window, whose input is the final bucket aggregate
    (256 rows, not the data), and the bases join back by broadcast at any
    size (hinted)."""
    f = facts_of("pipeline_shuffle_shard", NO_AUTO_BROADCAST)
    assert _single_partition_edges(f) == [("HashAggregate", "Sort")], f.text
    assert sum("hashpartitioning(bucket" in d for d in f.details("Exchange")) == 2, f.text
    assert f.count_exact("Window") == 2, f.nodes
    (j,) = _joins(f)
    assert "bucket" in j and f.broadcast_joins == 1, j
