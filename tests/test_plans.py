"""Physical-plan audits — "would this plan survive 100 TB?" as tests.

Each assertion encodes a scale property SURVEY.md §4 demands: filters
reach the parquet scan (row-group pruning), projections prune the read
schema (column-store bandwidth), fixed-cardinality dims broadcast
(no shuffle of the fact side), global sort+limit stays a TakeOrdered
(no range-partitioned total sort), aggregations are partial-then-final
around exactly one exchange. These are static-plan facts — AQE can only
improve on them at runtime, never regress them (see plans/__init__.py).
"""

from __future__ import annotations

import pytest

from projektdataengineering_spark.plans import plan_facts
from projektdataengineering_spark.queries import load_registry

REGISTRY = load_registry()


@pytest.fixture(scope="module")
def facts_of(spark, sf_dir):
    cache = {}

    def get(name):
        if name not in cache:
            cache[name] = plan_facts(REGISTRY[name].fn(spark, sf_dir))
        return cache[name]

    return get


def test_scan_project_prunes_columns_and_avoids_shuffle(facts_of):
    f = facts_of("scan_project_cast")
    assert f.shuffles == 0, f.nodes
    (cols,) = f.read_schemas  # exactly one scan
    # 5 of 11 lineitem columns — casts must not widen the read schema
    assert sorted(cols) == sorted(
        ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"]
    )


def test_highwater_filter_is_pushed_to_scan(facts_of):
    """The O1 incremental predicate must reach parquet despite the ns→µs
    conversion sitting between the scan and the query's ts column."""
    f = facts_of("filter_highwater")
    assert any("GreaterThan(ts" in p for p in f.pushed_filters), f.pushed_filters


def test_compound_filter_is_pushed_to_scan(facts_of):
    f = facts_of("filter_compound")
    assert f.pushed_filters and any(
        "o_totalprice" in p for p in f.pushed_filters
    ), f.pushed_filters
    (cols,) = f.read_schemas
    assert len(cols) == 6, cols  # 5 projected + 1 filter-only column


def test_dim_joins_broadcast_not_shuffle(facts_of):
    """supplier→nation→region chain on lineitem: every dim side must be
    a broadcast hash join; the fact table must never shuffle."""
    f = facts_of("join_broadcast")
    assert f.broadcast_joins == 3, f.nodes
    assert f.sort_merge_joins == 0 and f.shuffles == 0, f.nodes
    assert f.cartesian_like == 0


def test_multiway_join_broadcasts_all_dims(facts_of):
    """5-way chain: the only exchange allowed is the final aggregation's."""
    f = facts_of("join_multiway")
    assert f.broadcast_joins == 4, f.nodes
    assert f.sort_merge_joins == 0, f.nodes
    assert f.shuffles == 1, f.nodes  # partial→final agg exchange only
    assert f.count("HashAggregate") == 2  # map-side partial + final


def test_sort_limit_is_take_ordered_not_global_sort(facts_of):
    """S1/S2 serving shape: orderBy+limit must plan as
    TakeOrderedAndProject (per-partition heap + driver merge), not a
    range-partitioned global sort."""
    for name in ("sort_limit_asc", "sort_limit_desc"):
        f = facts_of(name)
        assert f.count("TakeOrderedAndProject") == 1, (name, f.nodes)
        assert f.count("Sort") == 0 and f.shuffles == 0, (name, f.nodes)


def test_groupby_agg_is_partial_then_final(facts_of):
    f = facts_of("agg_groupby_multi")
    assert f.count("HashAggregate") == 2, f.nodes  # map-side combine on
    assert f.shuffles == 1, f.nodes
    # the date filter must also reach the scan
    assert any("l_shipdate" in p for p in f.pushed_filters), f.pushed_filters


def test_asof_join_is_single_shuffle_window_not_cross_product(facts_of):
    """The as-of union+window plan: one exchange on the key, one sort,
    one window — and never a nested-loop/cartesian fallback."""
    f = facts_of("join_asof")
    assert f.count("Window") >= 1, f.nodes
    assert f.cartesian_like == 0, f.nodes
    assert f.shuffles == 1, f.nodes


def test_no_query_plans_a_cartesian_product(spark, sf_dir):
    """No registered query may fall back to CartesianProduct; the only
    BroadcastNestedLoopJoin allowed is a 1-row scalar-subquery
    broadcast (O(n) by construction — every probe row meets exactly one
    broadcast row): the late-data policy's high-water mark and the
    language-balance min-class-size scalar. Even the theta/range joins
    must plan hash joins on their equi component."""
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
    # Python-stage budget: a plan re-executing its Arrow/pandas stage
    # once per downstream branch is the silent 3-10x regression class
    # (round 10 caught multimodal_image_phash running its decode+hash
    # pipeline 9x before a checkpoint materialized it). Queries whose
    # DESIGN carries several distinct Python kernels are allowlisted
    # with their audited stage count.
    # r18 note on the certification queries' counts: the exact-top3
    # rescore moved from interpreted _dot/_norm fold EXPRESSIONS (0
    # Python nodes) to the Arrow left-fold kernel _cos_fold_col (1
    # ArrowEvalPython), and _recall_certified's two consumers of the
    # exact frame plan that subtree TWICE (executed once — the
    # bit-identical exchanges dedupe via ReusedExchange at runtime;
    # indirectly evidenced in the r18 A/B where a localCheckpoint
    # "dedupe" made the queries 20% SLOWER, and PROVEN at runtime in
    # r19: the executed isFinalPlan=true dumps show "ReusedExchange
    # [Reuses operator id: N]" pointing at the exact-leg exchange, with
    # exactly ONE executed ArrowEvalPython per distinct rescore —
    # plans/r19/sim_cosine_pq_executed_before.txt and
    # sim_ivfpq_gen_serving_executed_before.txt). So
    # each certification query's audited count grew by 2 (both planned
    # copies of the exact rescore) and the IVFADC family by 3 (+ the
    # ADC-shortlist rescore, the biggest fold site). The gate still
    # catches any growth past these audited shapes.
    python_stage_budget = {
        "sim_cosine_ann_lsh": 6,  # LSH probe + exact baseline + recall legs + 2× fold rescore
        "sim_cosine_pq": 6,  # PQ encode + ADC + re-rank + exact baseline + 2× fold rescore
        # AVI pack + fused stride+featurize + src-stats — the separate
        # PNG-decode feature pass left the plan in r19 (fused into the
        # sampling kernel; MapInPandas 4 → 3,
        # plans/r19/multimodal_video_frames_{before,after}.txt)
        "multimodal_video_frames": 3,
        "sim_cosine_ivf": 5,  # IVF probe + exact baseline + recall legs + 2× fold rescore
        "sim_cosine_ivf_reuse": 5,  # same legs on the persisted index
        # coarse probe assign + per-cell ADC + exact baseline — the
        # member ENCODE left the plan in round 15 (codes come from the
        # persisted parquet index); + 2× exact fold rescore + ADC
        # shortlist fold rescore (r18)
        "sim_cosine_ivfpq": 6,
        "sim_cosine_ivfpq_reuse": 6,  # same legs on the persisted code index
        "sim_ivfpq_gen_serving": 3,  # same legs on the gen-1 cutover line (checkpointed exact leg)
        "er_mutual_best": 3,  # JW verdict re-read across union branches (name-domain sized)
    }
    for name, qd in REGISTRY.items():
        f = plan_facts(qd.fn(spark, sf_dir))
        assert f.count("CartesianProduct") == 0, (name, f.nodes)
        if name not in allowed_bnlj:
            assert f.count("BroadcastNestedLoopJoin") == 0, (name, f.nodes)
        n_python = sum(
            1
            for n in f.nodes
            if "Python" in n or "ArrowEval" in n or "MapInPandas" in n
            or "FlatMapGroupsInPandas" in n
        )
        assert n_python <= python_stage_budget.get(name, 2), (
            name,
            n_python,
            f.nodes,
        )


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
    """Deterministic split assignment and regex redaction must stream at
    scan speed: no exchange, no sort, no Python in the plan."""
    for name in ("split_train_test", "text_redact_pattern"):
        f = facts_of(name)
        assert f.shuffles == 0, (name, f.nodes)
        assert f.count("Sort") == 0, (name, f.nodes)
        assert f.count("BatchEvalPython") == 0 and f.count("ArrowEvalPython") == 0, (
            name,
            f.nodes,
        )


def test_compaction_and_sample_are_single_shuffle_windows(facts_of):
    """Keep-latest compaction and stratified sampling: exactly one
    exchange (the partition key) feeding one window — rank-filter plans
    that re-shuffle per window function would be quadratic waste."""
    for name in ("dedup_keep_latest", "sample_stratified"):
        f = facts_of(name)
        assert f.shuffles == 1, (name, f.nodes)
        assert f.count("Window") >= 1, (name, f.nodes)


def test_histogram_and_profile_aggregate_partial_then_final(facts_of):
    """Histogram: map-side combine around one exchange. Profile: every
    per-column scan reads exactly its one column (pruning is the whole
    point of a profiling pass over a columnar store)."""
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
    """Q17 shape: the per-part average must appear as a grouped
    aggregate joined back on the key (decorrelated), with lineitem's
    scans pruned to the three referenced columns."""
    f = facts_of("subquery_avg_yearly")
    assert f.cartesian_like == 0, f.nodes
    assert f.count("HashAggregate") >= 2, f.nodes
    assert all(
        set(cols) <= {"l_partkey", "l_quantity", "l_extendedprice"}
        for cols in f.read_schemas
    ), f.read_schemas


def test_price_deciles_has_no_global_window(spark, sf_dir):
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
    plan = (
        REGISTRY["pipeline_price_deciles"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ntile" not in plan, plan
    assert "__gr_pid" in plan and "BroadcastHashJoin" in plan, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Catalyst's runtime bloom-filter injection (on in this engine's
    sessions) must rewrite a selective-dim ⋈ fact join so the FACT side
    is pre-filtered by might_contain(bloom(dim keys)) BEFORE its
    shuffle — the pre-shuffle semi-join reduction that cuts a 100-TB
    fact exchange to the matching fraction. Default thresholds target
    cluster scale (10 GiB application side), so the test lowers them to
    materialize the same plan at fixture scale, then restores."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        from projektdataengineering_spark.catalog import load_table
        from pyspark.sql import functions as F

        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_min_cost_supplier_semi_filters_before_agg(facts_of):
    """The Q2 shape must semi-filter lineitem by the part predicate
    BEFORE the (partkey, suppkey) aggregation — a broadcast semi join
    under the first HashAggregate — so the shuffle only carries
    eligible parts' rows."""
    f = facts_of("join_min_cost_supplier")
    assert f.count("BroadcastHashJoin") >= 3, f.nodes  # semi + part + supplier
    assert f.count("CartesianProduct") == 0


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
    """sim_cosine_exact_pairs joins on the label block with norms in
    the projection below the join — no per-pair norm recomputation
    (the join carries nrm_a/nrm_b as join inputs) and no cartesian."""
    f = facts_of("sim_cosine_exact_pairs")
    assert f.cartesian_like == 0, f.nodes


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


def test_registered_bucketed_join_query_is_shuffle_free(spark, sf_dir):
    """join_bucketed_colocated's read-side plan (after the bucketed
    writes) must carry the join AND the rollup on the bucket
    partitioning with zero exchanges."""
    from projektdataengineering_spark.queries.joins import join_bucketed_colocated

    df = join_bucketed_colocated(spark, sf_dir)
    f = plan_facts(df)
    assert f.shuffles == 0, f.nodes


def test_substring_spans_shuffles_digests_only(facts_of):
    """dedup_substring_spans: the two windows (corpus repeat count on
    fp, island merge on doc_id) plus the final span aggregate are the
    ONLY exchanges — window fingerprinting stays inside the scan
    stage's projection, and nothing cartesian appears."""
    f = facts_of("dedup_substring_spans")
    assert f.cartesian_like == 0, f.nodes
    assert f.shuffles <= 3, f.nodes


def test_bloom_prefilter_is_mapside_then_broadcast(facts_of):
    """join_bloom_prefiltered: the probe prune runs inside the
    lineitem scan stage (bit tests over plan-literal words — no
    exchange below the join), the join is a BroadcastHashJoin, and the
    only shuffle is the final aggregate's partial→final split."""
    f = facts_of("join_bloom_prefiltered")
    assert f.cartesian_like == 0, f.nodes
    assert f.broadcast_joins >= 1, f.nodes
    assert f.shuffles <= 1, f.nodes


def test_bm25_topk_is_take_ordered_not_global_sort(facts_of):
    """pipeline_bm25_topk's final ranking must be a distributed
    TakeOrdered (per-partition heaps + driver merge), never a
    whole-corpus Sort feeding a Limit."""
    f = facts_of("pipeline_bm25_topk")
    assert any(n.startswith("TakeOrderedAndProject") for n in f.nodes), f.nodes


def test_ohlc_single_aggregate_exchange(facts_of):
    """pipeline_resample_ohlc: open/close via min_by/max_by make the
    whole bar ONE partial→final hash aggregate — exactly one shuffle,
    no window, no join."""
    f = facts_of("pipeline_resample_ohlc")
    assert f.shuffles == 1, f.nodes
    assert f.count("Window") == 0, f.nodes
    assert f.cartesian_like == 0, f.nodes


def test_attribution_single_window_pass(facts_of):
    """pipeline_attribution: both touch models must come out of ONE
    window pass (explode fan-out, not a union that re-evaluates the
    window pipeline per branch) — one user_id exchange + the final
    aggregate's, and exactly one Window node."""
    f = facts_of("pipeline_attribution")
    assert f.shuffles == 2, f.nodes
    assert f.count("Window") == 1, f.nodes
    assert f.count("Generate") == 1, f.nodes


def test_pareto_frontier_never_self_joins(facts_of):
    """filter_pareto_frontier: the dominance test must be the sort-scan
    identity (aggregate + tiny window + broadcast join-back), never the
    definitional O(n²) self-join the oracle runs."""
    f = facts_of("filter_pareto_frontier")
    assert f.cartesian_like == 0, f.nodes
    assert f.broadcast_joins >= 1, f.nodes
    assert f.count("SortMergeJoin") == 0, f.nodes


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
    """graph_bfs_hops: every frontier expansion must plan as an
    equi-join (hash/broadcast on node id) — no cartesian-like node
    anywhere in the unrolled 3-level plan."""
    f = facts_of("graph_bfs_hops")
    assert f.cartesian_like == 0, f.nodes


def test_quantile_sketch_fanout_is_mapside_no_theta_join(facts_of):
    """agg_quantile_sketch: the 3-quantile spec must fan out via
    Generate (literal-array explode), never a join; the sketch itself
    is one partial→final aggregate plus the certification-side window
    exchanges."""
    f = facts_of("agg_quantile_sketch")
    assert f.count("Generate") >= 2, f.nodes  # est side + exact side
    assert f.cartesian_like == 0, f.nodes
    assert f.count("BroadcastNestedLoopJoin") == 0, f.nodes


def test_jaccard_neighbors_is_take_ordered_and_equi_only(facts_of):
    """graph_jaccard_neighbors: top-100 must plan as TakeOrdered (no
    global sort materialization) and every join must be hash-based —
    the pair explosion is bounded by the degree cap, not by plan
    accident."""
    f = facts_of("graph_jaccard_neighbors")
    assert f.count("TakeOrderedAndProject") == 1, f.nodes
    assert f.cartesian_like == 0, f.nodes


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
    n_python = sum(
        1 for n in f.nodes if "Python" in n or "ArrowEval" in n or "MapInPandas" in n
    )
    assert n_python == 0, f.nodes
    assert f.count("Scan ExistingRDD") >= 2, f.nodes  # checkpoint reuse
    assert f.cartesian_like == 0, f.nodes


def test_semireduced_probes_below_a_shuffle_join(facts_of, spark, sf_dir):
    """join_semireduced: BOTH Bloom probe filters run map-side below
    the join (the whole point — survivors only reach the exchanges),
    the join is a shuffle join (sort-merge via hint, never broadcast),
    and nothing cartesian appears. r18: the probes are the xxhash64
    fast-lane family (codegen'd, no HOF binding), so the plan marker
    is the xxhash64 lane expression, not the md5 '#bloom' salt."""
    f = facts_of("join_semireduced")
    assert f.cartesian_like == 0, f.nodes
    assert f.broadcast_joins == 0, f.nodes
    assert f.sort_merge_joins + f.count("ShuffledHashJoin") >= 1, f.nodes
    from projektdataengineering_spark.plans import explain_string

    s = explain_string(REGISTRY["join_semireduced"].fn(spark, sf_dir), "formatted")
    assert s.count("xxhash64") >= 2, "both probe conditions must be planned"


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


def test_embedding_incremental_probes_persisted_index(spark, sf_dir):
    """dedup_embedding_incremental: the corpus leg must be a PLAIN
    parquet scan of the persisted IVF member lists — no assignment
    kernel, no centroid math above it (the O(corpus) work happened
    once at index build) — and the per-cell BLAS kernel must appear
    exactly ONCE (both verdicts are conditional mins of a single
    aggregate over the pair stream)."""
    from projektdataengineering_spark.catalog import artifact

    df = REGISTRY["dedup_embedding_incremental"].fn(spark, sf_dir)
    f = plan_facts(df)
    assert f.count("FlatMapGroupsInPandas") == 1, f.nodes
    assert f.cartesian_like == 0, f.nodes
    # the persisted member lists are read as a real parquet scan
    idx = artifact("embed_ivf_index", sf_dir)
    assert any(idx in fl for fl in df.inputFiles()), (idx, df.inputFiles())


def test_quality_classifier_broadcasts_model_single_agg_exchange(facts_of):
    """pipeline_quality_classifier: the weight table must enter as a
    broadcast (model parameters ship once — never a shuffle of the
    feature stream), the spine must arrive via the zero-contribution
    union (no SMJ back to documents), and the per-doc aggregate must
    ride the two branches' existing doc_id partitioning — exactly the
    two repartition exchanges, none for the aggregate itself."""
    f = facts_of("pipeline_quality_classifier")
    assert f.broadcast_joins == 1, f.nodes
    assert f.sort_merge_joins == 0 and f.cartesian_like == 0, f.nodes
    assert f.count("Union") == 1, f.nodes
    assert f.shuffles == 2, f.nodes
    assert f.count("HashAggregate") == 2, f.nodes


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
    """join_local_supplier_volume (Q5): the cyclic join graph must
    close entirely on broadcast sides (region→nation→supplier collapse
    + the compound-condition customer join — the fact side never
    shuffles for a dimension), with the region equality and the order
    date window pushed to their scans."""
    f = facts_of("join_local_supplier_volume")
    assert f.cartesian_like == 0, f.nodes
    assert f.broadcast_joins >= 3, f.nodes
    assert any("r_name" in p for p in f.pushed_filters), f.pushed_filters
    assert any("o_orderdate" in p for p in f.pushed_filters), f.pushed_filters


def test_shipping_priority_top10_is_take_ordered(facts_of):
    """join_shipping_priority (Q3): both date cuts must be pushed and
    the global top-10 must plan as TakeOrderedAndProject, never a
    range-partitioned total sort."""
    f = facts_of("join_shipping_priority")
    assert f.count("TakeOrderedAndProject") == 1, f.nodes
    assert f.cartesian_like == 0, f.nodes
    assert any("o_orderdate" in p for p in f.pushed_filters), f.pushed_filters
    assert any("l_shipdate" in p for p in f.pushed_filters), f.pushed_filters
