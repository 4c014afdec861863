"""Property/calibration tests for the approximate & non-SQL operators
(SURVEY.md §5.2 items 4-5): HLL error bound, cosine-vs-numpy ground
truth, ANN recall, MinHash-vs-exact-Jaccard calibration.
"""

from __future__ import annotations

import numpy as np
import pytest

from projektdataengineering_spark.catalog import BUILDS, KINDS, artifact
from projektdataengineering_spark.queries import load_registry

REGISTRY = load_registry()


def _tree_digest(root):
    """{relpath: sha256} of every file under root — ONE definition of
    the byte-identity snapshot the executed-layout/index tests pin
    (previously seven per-test copies; r16 review)."""
    import hashlib
    import os

    out = {}
    for dirpath, _, files in sorted(os.walk(root)):
        for fn in sorted(files):
            fp = os.path.join(dirpath, fn)
            with open(fp, "rb") as fh:
                out[os.path.relpath(fp, root)] = hashlib.sha256(
                    fh.read()
                ).hexdigest()
    return out



def test_approx_distinct_within_bound(spark, sf_dir):
    """HLL++ at rsd=2% must land within 5% of the exact distinct count."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    # raw sketch estimate (the registered query emits exact counts + the
    # certification boolean; the estimate itself is pinned here)
    approx = {
        r["event_type"]: r["approx_users"]
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .collect()
    }
    for k, exact_n in exact.items():
        assert abs(approx[k] - exact_n) <= max(1, 0.05 * exact_n), (k, exact_n, approx[k])
    # and the hash-certified form must claim the bound holds
    for r in REGISTRY["agg_approx_distinct"].fn(spark, sf_dir).collect():
        assert r["approx_ok"], r
        assert r["exact_users"] == exact[r["event_type"]]


@pytest.fixture(scope="module")
def emb_matrix(sf_dir):
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    m = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, m


def _numpy_cosine_matrix(m: np.ndarray) -> np.ndarray:
    n = m / np.linalg.norm(m, axis=1, keepdims=True)
    return n @ n.T


def test_cosine_topk_matches_numpy(spark, sf_dir, emb_matrix):
    ids, m = emb_matrix
    cos = _numpy_cosine_matrix(m)
    iu = np.triu_indices(len(ids), k=1)
    flat = sorted(
        zip(cos[iu], ids[iu[0]], ids[iu[1]]), key=lambda t: (-t[0], t[1], t[2])
    )[:50]
    expected = {(int(a), int(b)) for _, a, b in flat}

    got_rows = REGISTRY["sim_cosine_topk"].fn(spark, sf_dir).collect()
    got = {(r["id_a"], r["id_b"]) for r in got_rows}
    assert got == expected
    # values agree to float tolerance
    exp_by_pair = {(int(a), int(b)): c for c, a, b in flat}
    for r in got_rows:
        assert abs(r["cos_sim"] - exp_by_pair[(r["id_a"], r["id_b"])]) < 1e-9


def test_cosine_topk_broadcast_guard_fails_loudly(spark, sf_dir):
    """The exact-topk precondition (one side fits a broadcast) must be
    ENFORCED, not assumed: past the cell limit the collect refuses with
    an error naming the ANN alternatives instead of OOMing the driver."""
    import pytest

    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.queries.similarity import _collect_broadcast_matrix

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    with pytest.raises(ValueError, match="sim_cosine_ann_lsh"):
        _collect_broadcast_matrix(emb, 64, max_cells=1)


def test_pq_code_matrix_guard_fails_loudly(spark, sf_dir):
    """sim_cosine_pq collects the N×M code matrix driver-side (the PQ
    index itself).  That collect must honor the same fail-fast contract
    as every other collect site (r13 verdict's one weak mark): past the
    cell ceiling it refuses with an error naming the distributed-ADC
    scale path instead of OOMing the driver."""
    import pytest

    from projektdataengineering_spark.queries import similarity as S

    orig = S.PQ_CODES_MAX_CELLS
    try:
        S.PQ_CODES_MAX_CELLS = 1
        with pytest.raises(ValueError, match="ADC-join probe batches"):
            S.pq_top3(spark, sf_dir)
    finally:
        S.PQ_CODES_MAX_CELLS = orig


def test_ann_recall_vs_exact(spark, sf_dir, emb_matrix):
    """LSH-bucketed ANN: every reported neighbor must be a real vector,
    ranked correctly within its bucket; overall recall@3 against the
    exact top-3 should beat random-bucketing noise by a wide margin."""
    ids, m = emb_matrix
    cos = _numpy_cosine_matrix(m)
    np.fill_diagonal(cos, -np.inf)
    exact_top3 = {
        int(ids[i]): {int(ids[j]) for j in np.argsort(-cos[i], kind="stable")[:3]}
        for i in range(len(ids))
    }
    from projektdataengineering_spark.queries.similarity import ann_lsh_top3

    got = ann_lsh_top3(spark, sf_dir).collect()
    by_q: dict[int, set[int]] = {}
    for r in got:
        by_q.setdefault(r["id_q"], set()).add(r["id_n"])
    hits = sum(len(by_q.get(q, set()) & exact) for q, exact in exact_top3.items())
    recall = hits / (3 * len(exact_top3))
    # 8 hyperplanes / 256 buckets over 500 random vectors: random chance
    # would be <2%; the LSH structure must do far better.
    assert recall > 0.10, f"ANN recall@3 suspiciously low: {recall:.3f}"


def test_embedding_dedup_is_threshold_complete(spark):
    """The dedup sweep must see EVERY candidate pair ≥ τ, not the ANN
    query's top-3 — plant a cluster where the minimal-id near-dup is
    only the 4th-closest neighbor: a top-3-capped composition would
    canonicalize to a non-minimal id; the uncapped stage must find id 0.
    """
    from projektdataengineering_spark.queries.similarity import (
        _lsh_candidate_pairs,
        _pair_cosine,
    )
    from pyspark.sql import functions as F

    v = np.zeros(64); v[0] = 1.0
    def tilted(cos, seed):
        d = np.random.RandomState(seed).normal(size=64)
        d -= d @ v * v
        d /= np.linalg.norm(d)
        return cos * v + np.sqrt(1 - cos * cos) * d
    rows = [
        (0, tilted(0.96, 1)),   # the MINIMAL id, ranked 4th by cosine
        (1, tilted(0.995, 2)),
        (2, tilted(0.994, 3)),
        (3, tilted(0.993, 4)),
        (10, v),                # the query vector
        (20, -v),               # far-away filler
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in vec]) for i, vec in rows],
        "vec_id long, vec array<double>",
    )
    e = df.select(
        "vec_id", "vec",
        F.sqrt(F.aggregate(F.transform("vec", lambda x: x * x), F.lit(0.0),
                           lambda a, x: a + x)).alias("norm"),
    )
    pairs = _lsh_candidate_pairs(e).filter(F.col("id_n") < F.col("id_q"))
    scored = _pair_cosine(e, pairs)
    dups = (
        scored.filter(F.col("cos_sim") >= 0.9)
        .groupBy(F.col("id_q").alias("vec_id"))
        .agg(F.min("id_n").alias("dup_of"))
    )
    got = {r["vec_id"]: r["dup_of"] for r in dups.collect()}
    # the LSH tables must surface the (10, 0) pair for this to be a real
    # test — all five planted vectors are within 16° of each other
    assert got.get(10) == 0, f"expected canonical id 0 for vec 10, got {got}"


def test_minhash_estimates_track_exact_jaccard(spark, sf_dir):
    """For candidate pairs the band-LSH surfaces, the minhash estimate
    must track exact shingle Jaccard within the sketch's resolution."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.functions import token_ngrams

    cands = REGISTRY["sim_minhash_lsh"].fn(spark, sf_dir)
    # exact Jaccard over the distinct string trigram sets — the same
    # shingles the md5 lanes of _portable_mh_bands sign
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.array_distinct(token_ngrams("toks", 3)).alias("gs"))
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("gs").alias("gs_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("gs").alias("gs_b"))
    joined = cands.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("gs_a", "gs_b")).cast("double")
    union = (F.size("gs_a") + F.size("gs_b") - F.size(F.array_intersect("gs_a", "gs_b"))).cast(
        "double"
    )
    rows = joined.select("est_jaccard", (inter / union).alias("exact_j")).collect()
    assert rows, "band-LSH produced no candidate pairs at all"
    # 16-hash sketch → standard error ~ sqrt(j(1-j)/16) ≤ 0.125; allow 3σ.
    for r in rows:
        assert abs(r["est_jaccard"] - r["exact_j"]) <= 0.40, r


def test_simhash_hamming_symmetry(spark, sf_dir):
    """SimHash candidates: uncapped pairs are within the declared
    Hamming threshold, capped (hot-bucket star) pairs may exceed it but
    never the signature width, and every pair is reported once (a<b)."""
    rows = REGISTRY["sim_simhash"].fn(spark, sf_dir).collect()
    seen = set()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        if r["capped"]:
            assert 0 <= r["hamming"] <= 60
        else:
            assert 0 <= r["hamming"] <= 15
        assert (r["doc_a"], r["doc_b"]) not in seen
        seen.add((r["doc_a"], r["doc_b"]))


def test_bucket_pairs_mark_capped_and_project(spark):
    """_bucket_pairs: over-cap buckets emit min-member star edges
    flagged capped=True; a pair also surfaced by an under-cap bucket of
    another band dedups to capped=False; project computes pair values
    before the dedup and min-agg keeps them."""
    from projektdataengineering_spark.queries.similarity import _bucket_pairs

    rows = [(1, 10), (1, 20), (1, 30), (1, 40), (2, 30), (2, 10)]
    bands = spark.createDataFrame(rows, "k int, doc_id long")
    got = _bucket_pairs(
        bands,
        ["k"],
        ["doc_id"],
        star_cap=3,
        mark_capped=True,
        project=lambda a, b: (
            [a["doc_id"].alias("da"), b["doc_id"].alias("db")],
            [(b["doc_id"] - a["doc_id"]).alias("delta")],
        ),
    )
    out = {(r["da"], r["db"]): (r["delta"], r["capped"]) for r in got.collect()}
    assert out == {
        (10, 20): (10, True),
        (10, 30): (20, False),  # star edge in hot k=1, clique edge in cold k=2
        (10, 40): (30, True),
    }


def test_salted_join_equals_plain_join(spark, sf_dir):
    """salted_join must be result-identical to the plain equi-join —
    on a genuinely skewed probe side (orders keyed to one hot custkey)."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.operators.skew import salted_join

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # manufacture skew: fold 90% of orders onto one key
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    hot = cust.agg(F.min("c_custkey")).first()[0]
    skewed = orders.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 10 < 9, F.lit(hot)).otherwise(F.col("o_custkey")),
    ).withColumnRenamed("o_custkey", "c_custkey")

    plain = skewed.join(cust, "c_custkey").select("o_orderkey", "c_custkey", "c_name")
    salted = salted_join(skewed, cust, "c_custkey", n_salts=4).select(
        "o_orderkey", "c_custkey", "c_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    # left-join form: unmatched probe rows must survive exactly once
    orphan = skewed.withColumn("c_custkey", F.col("c_custkey") + 10_000_000)
    plain_l = orphan.join(cust, "c_custkey", "left").select(
        "o_orderkey", "c_custkey", "c_name"
    )
    salted_l = salted_join(orphan, cust, "c_custkey", n_salts=4, how="left").select(
        "o_orderkey", "c_custkey", "c_name"
    )
    assert sorted(map(tuple, plain_l.collect())) == sorted(map(tuple, salted_l.collect()))


def test_ivf_recall_vs_exact(spark, sf_dir, emb_matrix):
    """IVF ANN: every reported neighbor is a real vector with a correct
    cosine; recall@3 against the exact top-3 must beat the fraction of
    the corpus a query scans (nprobe/K = 12.5% — random probing would
    land recall near that)."""
    ids, m = emb_matrix
    cos = _numpy_cosine_matrix(m)
    np.fill_diagonal(cos, -np.inf)
    exact_top3 = {
        int(ids[i]): {int(ids[j]) for j in np.argsort(-cos[i], kind="stable")[:3]}
        for i in range(len(ids))
    }
    idx = {int(v): i for i, v in enumerate(ids)}
    from projektdataengineering_spark.queries.similarity import ivf_top3

    got = ivf_top3(spark, sf_dir).collect()
    by_q: dict[int, set[int]] = {}
    for r in got:
        assert r["id_q"] != r["id_n"]
        assert abs(r["cos_sim"] - cos[idx[r["id_q"]], idx[r["id_n"]]]) < 1e-9
        by_q.setdefault(r["id_q"], set()).add(r["id_n"])
    assert all(len(v) <= 3 for v in by_q.values())
    hits = sum(len(by_q.get(q, set()) & exact) for q, exact in exact_top3.items())
    recall = hits / (3 * len(exact_top3))
    assert recall > 0.15, f"IVF recall@3 suspiciously low: {recall:.3f}"


def _union_find_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(spark, sf_dir):
    """dedup_cluster_cc must assign exactly the labels a serial
    union-find derives from the same MinHash pair set — including
    transitive merges the pair list never states directly."""
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in REGISTRY["sim_minhash_lsh"].fn(spark, sf_dir).collect()
    ]
    expected = _union_find_components(pairs)
    got = {
        r["doc_id"]: r["component"]
        for r in REGISTRY["dedup_cluster_cc"].fn(spark, sf_dir).collect()
    }
    assert got == expected


def test_connected_components_synthetic_chain(spark):
    """A path graph is the worst case for min-label propagation (label
    must travel the full diameter); a disjoint triangle must stay its
    own component."""
    from projektdataengineering_spark.operators.graph import connected_components

    edges = [(2, 3), (3, 4), (4, 5), (5, 6), (1, 2), (10, 11), (11, 12), (12, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["comp"] for r in connected_components(df, "src", "dst").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10, 12: 10}


def test_min_label_cc_raises_on_a_path_longer_than_its_rounds(spark):
    """A 200-node path has diameter 199: min-label propagation cannot
    finish in 10 rounds, so it raises instead of returning a wrong
    labelling."""
    import pytest as _pytest

    from projektdataengineering_spark.operators.graph import connected_components

    df = spark.createDataFrame([(i, i + 1) for i in range(199)], "src long, dst long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, "src", "dst", max_iter=10)


def test_approx_quantiles_within_rank_error(spark, sf_dir):
    """percentile_approx(accuracy=10000): each reported quantile must
    sit within the ±1/accuracy rank window of the exact order
    statistics per group."""
    import duckdb

    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_table

    # raw GK estimates (the registered query emits exact discrete
    # quantiles + the rank-window certification boolean; the estimate
    # itself is pinned here)
    qs = F.expr(
        "percentile_approx(o_totalprice, array(0.25, 0.5, 0.75, 0.99), 10000)"
    )
    got = {
        r["o_orderstatus"]: r
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            qs.getItem(0).alias("p25"),
            qs.getItem(1).alias("p50"),
            qs.getItem(2).alias("p75"),
            qs.getItem(3).alias("p99"),
        )
        .collect()
    }
    rows = duckdb.sql(
        f"SELECT o_orderstatus, list(o_totalprice ORDER BY o_totalprice) "
        f"FROM '{sf_dir}/orders.parquet' GROUP BY 1"
    ).fetchall()
    for status, vals in rows:
        n = len(vals)
        for p, col in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75"), (0.99, "p99")):
            est = got[status][col]
            eps = 1.0 / 10000
            lo = vals[max(0, int((p - eps) * n) - 1)]
            hi = vals[min(n - 1, int((p + eps) * n) + 1)]
            assert lo <= est <= hi, (status, col, est, lo, hi)
    # the hash-certified form must claim the rank-window bound holds and
    # its exact discrete quantiles must equal the order statistics
    for r in REGISTRY["agg_approx_quantile"].fn(spark, sf_dir).collect():
        assert r["approx_ok"], r
        vals = dict(rows)[r["o_orderstatus"]]
        n = len(vals)
        for p in (0.25, 0.5, 0.75, 0.99):
            import math

            assert r[f"p{int(p * 100)}_exact"] == vals[math.ceil(p * n) - 1], (
                r,
                p,
            )


def test_global_row_number_matches_global_window(spark, sf_dir):
    """The distributed two-phase rank (operators/rank.py) must agree
    row-for-row with the single-partition global window it replaces,
    and exact_ntile must agree with SQL NTILE for several bucket
    counts (including k > n rows)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.operators.rank import exact_ntile, global_row_number

    orders = load_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    got = global_row_number(orders, ["o_totalprice", "o_orderkey"], rank_col="r")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    want = orders.select(
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("r"),
        F.ntile(7).over(w).cast("long").alias("n7"),
    )
    joined = (
        got.crossJoin(F.broadcast(got.agg(F.count(F.lit(1)).alias("tot"))))
        .select(
            "o_orderkey",
            F.col("r").alias("got_r"),
            exact_ntile(F.col("r"), F.col("tot"), 7).alias("got_n7"),
        )
        .join(want, "o_orderkey")
    )
    bad = joined.filter(
        (F.col("got_r") != F.col("r")) | (F.col("got_n7") != F.col("n7"))
    ).count()
    assert bad == 0

    # k larger than the row count: each row gets its own bucket.
    tiny = orders.orderBy("o_orderkey").limit(3)
    tr = global_row_number(tiny, ["o_totalprice", "o_orderkey"], rank_col="r")
    rows = (
        tr.crossJoin(F.broadcast(tr.agg(F.count(F.lit(1)).alias("tot"))))
        .select("r", exact_ntile(F.col("r"), F.col("tot"), 10).alias("b"))
        .collect()
    )
    assert sorted((r["r"], r["b"]) for r in rows) == [(1, 1), (2, 2), (3, 3)]


def test_agg_state_merge_is_batching_independent(spark, sf_dir):
    """Incremental aggregate state: folding the events table in as 1,
    2, or 3 arbitrary time-sliced batches must finalize to the
    identical rollup (exact decimal state ⇒ merge ≡ recompute,
    bit-stable) — and the merged state schema must equal the single-
    pass state schema (closed under merge)."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.operators.incremental import (
        agg_state,
        finalize_agg_state,
        merge_agg_states,
    )

    ev = load_table(spark, sf_dir, "events")
    keys = ["event_type"]
    full = agg_state(ev, keys, "value")

    t1, t2 = "2024-01-10 00:00:00", "2024-01-20 00:00:00"
    s1 = agg_state(ev.filter(F.col("ts") <= t1), keys, "value")
    s2 = agg_state(ev.filter((F.col("ts") > t1) & (F.col("ts") <= t2)), keys, "value")
    s3 = agg_state(ev.filter(F.col("ts") > t2), keys, "value")
    merged = merge_agg_states(merge_agg_states(s1, s2, keys), s3, keys)

    assert [(f.name, f.dataType) for f in merged.schema] == [
        (f.name, f.dataType) for f in full.schema
    ]
    a = sorted(map(tuple, finalize_agg_state(full).collect()))
    b = sorted(map(tuple, finalize_agg_state(merged).collect()))
    assert a == b


def test_lsh_bits_adapt_to_row_count():
    """Hyperplane-LSH bits-per-table must hold bucket occupancy ~flat:
    fixture SFs stay on the round-1 matrix (6 bits), each decade adds
    ~3.3 bits, and the int32-bucket cap holds at any N."""
    import numpy as np

    from projektdataengineering_spark.queries.similarity import (
        _MAX_BITS_PER_TABLE,
        _MIN_BITS_PER_TABLE,
        _TARGET_BUCKET_OCC,
        _bits_for,
        _planes_for,
    )

    assert _bits_for(0) == _MIN_BITS_PER_TABLE
    assert _bits_for(200) == _MIN_BITS_PER_TABLE  # sf0.01
    assert _bits_for(2_000) == _MIN_BITS_PER_TABLE  # sf0.1 — round-1 planes
    assert _bits_for(20_000) == 10  # sf1
    assert _bits_for(10**9) == _MAX_BITS_PER_TABLE
    # occupancy stays within a factor ~2 of target across decades
    for n in (10**5, 10**6, 10**7):
        bits = _bits_for(n)
        if bits < _MAX_BITS_PER_TABLE:
            occ = n / (1 << bits)
            assert _TARGET_BUCKET_OCC / 2 <= occ <= _TARGET_BUCKET_OCC * 2, (n, bits, occ)
    # deterministic per bits-value, and 6 bits = the round-1 matrix
    assert np.array_equal(_planes_for(6), _planes_for(6))
    assert _planes_for(6).shape == (24, 64)
    assert _planes_for(10).shape == (40, 64)


def test_bucket_pairs_star_cap(spark):
    """_bucket_pairs star_cap semantics: buckets at or under the cap
    emit the complete pair clique; a bucket past it emits min-member
    star edges — same connectivity, |B|-1 rows instead of |B|(|B|-1)/2."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.queries.similarity import _bucket_pairs

    rows = [("big", i) for i in range(5)] + [("small", 10), ("small", 11)]
    bands = spark.createDataFrame(rows, "bkt string, doc_id long")

    full = _bucket_pairs(bands, ["bkt"], ["doc_id"])
    assert full.count() == 10 + 1  # C(5,2) + C(2,2)

    capped = _bucket_pairs(bands, ["bkt"], ["doc_id"], star_cap=4)
    got = sorted(
        (r["a"]["doc_id"], r["b"]["doc_id"]) for r in capped.collect()
    )
    # big bucket (5 > 4) → star from min member 0; small bucket intact
    assert got == [(0, 1), (0, 2), (0, 3), (0, 4), (10, 11)]


def test_embedding_dedup_production_threshold_planted_twins(spark, sf_dir):
    """dedup_embedding_cosine at the 0.95 production threshold: the
    planted twin of every _TWIN_EVERY-th vector must canonicalize to
    exactly its original (LSH recall + exact rescore), and no random
    fixture pair may cross the threshold."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.queries.dedup import (
        _TWIN_EVERY,
        _TWIN_OFFSET,
    )

    ids = [
        r["vec_id"]
        for r in load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _TWIN_EVERY == 0)
        .select("vec_id")
        .collect()
    ]
    got = {
        r["vec_id"]: r["dup_of"]
        for r in REGISTRY["dedup_embedding_cosine"].fn(spark, sf_dir).collect()
    }
    assert got == {k + _TWIN_OFFSET: k for k in ids}


def test_exact_pairs_bound_knobs_consistent_with_default(spark, sf_dir):
    """sim_cosine_exact_pairs' scale knobs: per_vector_topk keeps each
    vec_a's highest-cosine partners from the DEFAULT result set, and
    count_only returns exactly the default row count — so the bounded
    modes are projections of the oracle-checked answer, never a
    different answer."""
    from projektdataengineering_spark.queries.similarity import (
        sim_cosine_exact_pairs,
    )

    full = sim_cosine_exact_pairs(spark, sf_dir).collect()
    by_a: dict[int, list] = {}
    for r in full:
        by_a.setdefault(r["vec_a"], []).append(r)

    top1 = sim_cosine_exact_pairs(spark, sf_dir, per_vector_topk=1).collect()
    assert len(top1) == len(by_a)
    for r in top1:
        best = max(by_a[r["vec_a"]], key=lambda x: (x["cos_sim"], -x["vec_b"]))
        assert (r["vec_b"], r["cos_sim"]) == (best["vec_b"], best["cos_sim"])

    cnt = sim_cosine_exact_pairs(spark, sf_dir, count_only=True).collect()
    assert [(r["n_pairs"],) for r in cnt] == [(len(full),)]


def test_portable_clusters_match_union_find(spark, sf_dir):
    """pipeline_dedup_clusters_portable must label exactly as a serial
    union-find over the portable pair set — the recursive-CTE oracle
    and the distributed min-label propagation agree on this as the
    ground truth."""
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in REGISTRY["pipeline_minhash_pairs_portable"]
        .fn(spark, sf_dir)
        .collect()
    ]
    expected = _union_find_components(pairs)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["pipeline_dedup_clusters_portable"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == expected


def test_canonical_docs_invariants(spark, sf_dir):
    """pipeline_canonical_docs: total assignment (every doc exactly
    once), is_canonical ⇔ doc_id == cluster_id, exactly one canonical
    per cluster, cluster_id = min member id, and cluster_size counts
    the members (singletons included)."""
    from projektdataengineering_spark.catalog import load_table

    rows = REGISTRY["pipeline_canonical_docs"].fn(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs

    by_cluster: dict[int, list] = {}
    for r in rows:
        assert r["is_canonical"] == (r["doc_id"] == r["cluster_id"])
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m["doc_id"] for m in members)
        assert sum(m["is_canonical"] for m in members) == 1
        assert all(m["cluster_size"] == len(members) for m in members)


def test_jaro_winkler_matches_duckdb_bit_exact(duck):
    """functions/strdist.py claims bit-exactness with DuckDB's
    jaro_winkler_similarity (incl. the 0.7 boost-threshold variant) —
    prove it on classic vectors + fixture name pairs."""
    from projektdataengineering_spark.functions.strdist import jaro_winkler

    vectors = [
        ("martha", "marhta"), ("DIXON", "DICKSONX"), ("CRATE", "TRACE"),
        ("", "x"), ("x", ""), ("ab", "ba"), ("aaaa", "aaaa"),
        ("abcd", "abcde"), ("blue gizmo", "blue plate"),
        ("apple inc", "apple incorporated"),
    ]
    names = [r[0] for r in duck.execute(
        "SELECT p_name FROM part LIMIT 60").fetchall()]
    vectors += [(a, b) for a in names[:30] for b in names[30:60]]
    for a, b in vectors:
        theirs = duck.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
        assert jaro_winkler(a, b) == theirs, (a, b)


def test_priority_sampling_properties(spark, sf_dir):
    """DLT priority sampling (queries/mlprep.py:sample_priority):
    exactly k rows, ranking consistent, estimator = max(weight, tau)
    with tau above every sampled-out priority, and the certainty
    property — every order whose WEIGHT exceeds tau must be in the
    sample (priority = w/u >= w, so w > tau implies top-k)."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.queries.mlprep import (
        _PRIORITY_K,
        sample_priority,
    )

    rows = sample_priority(spark, sf_dir).orderBy("rk").collect()
    assert len(rows) == _PRIORITY_K
    pris = [r["priority"] for r in rows]
    assert pris == sorted(pris, reverse=True)
    # est_weight = max(weight, tau) for one consistent tau
    taus = {r["est_weight"] for r in rows if r["est_weight"] > r["weight"]}
    assert len(taus) <= 1
    tau = taus.pop() if taus else 0.0
    assert all(r["est_weight"] == max(r["weight"], tau) for r in rows)
    assert tau <= min(pris)  # tau is the (k+1)-th priority
    # certainty property over the full table
    sampled = {r["o_orderkey"] for r in rows}
    heavy = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > tau
    )
    for r in heavy.collect():
        assert r["o_orderkey"] in sampled, r["o_orderkey"]


def test_misra_gries_guarantees(spark, sf_dir):
    """Misra-Gries merged summary (operators/sketches.py): for EVERY
    vocabulary term (not just the certified top-10) the estimate must
    be an underestimate within n/(k+1), every term above the threshold
    must be present, and the guarantees must hold again under a
    different partitioning (counter values may move; the theorems may
    not)."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.operators.sketches import misra_gries_summary

    k = 50  # tight k so the reduce step actually fires on the fixture
    docs = load_table(spark, sf_dir, "documents").select("text")
    words = docs.select(
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.col("term") != "")
    exact = {
        r["term"]: r["c"]
        for r in words.groupBy("term").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n = sum(exact.values())
    bound = n / (k + 1)
    for shuffled in (words, words.repartition(7, "term")):
        est = {
            r["term"]: r["est"]
            for r in misra_gries_summary(shuffled, "term", k=k).collect()
        }
        assert est, "summary empty"
        for t, e in est.items():
            assert e <= exact[t], (t, e, exact[t])
        for t, c in exact.items():
            assert c - est.get(t, 0) <= bound, (t, c, est.get(t, 0), bound)
            if c > bound:
                assert t in est, (t, c, bound)
    # the certified query's margin claim: top-10 counts >= 10x the
    # production threshold n/(401), so completeness never rides the edge
    top10 = sorted(exact.values(), reverse=True)[:10]
    assert min(top10) >= 10 * (n / 401), (min(top10), n / 401)


def test_compaction_plan_semantics(spark, sf_dir):
    """pipeline_compaction_plan invariants the oracle hash alone can't
    state: the manifest must actually find compactable partitions on
    the fixture (not be vacuously all-compact), every flagged partition
    must save files, target counts must respect the size target, and
    the file accounting must reconcile with the raw row count."""
    import math

    from projektdataengineering_spark.queries.layout import (
        _COMPACT_TARGET_BYTES,
        _COMPACT_WRITERS,
        pipeline_compaction_plan,
    )

    rows = pipeline_compaction_plan(spark, sf_dir).collect()
    assert rows
    assert any(r["needs_compaction"] for r in rows), "fixture found nothing to compact"
    total_rows = 0
    for r in rows:
        assert 1 <= r["n_files"] <= _COMPACT_WRITERS, r
        assert r["target_files"] == max(
            1, math.ceil(r["part_bytes"] / _COMPACT_TARGET_BYTES)
        ), r
        assert r["needs_compaction"] == (r["n_files"] > r["target_files"]), r
        assert r["files_saved"] == max(0, r["n_files"] - r["target_files"]), r
        total_rows += r["n_rows"]
    from projektdataengineering_spark.catalog import load_table

    assert total_rows == load_table(spark, sf_dir, "events").count()


def test_zorder_layout_beats_single_dim_sort(spark, sf_dir):
    """The point of the Morton layout: every file's envelope is tight
    in BOTH dimensions, so pruning works for filters on either. A
    value-sorted layout leaves the user_id envelope ~the full range
    per file. Metric: mean over files of max(user_frac, value_frac)."""
    import pandas as pd
    from projektdataengineering_spark.queries.layout import (
        pipeline_zorder_layout, _N_FILES)
    from projektdataengineering_spark.catalog import load_table
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    z = pipeline_zorder_layout(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events")
    sorted_files = (
        e.withColumn("file_id", F.ntile(_N_FILES).over(
            Window.orderBy("value", "event_id")))
        .groupBy("file_id")
        .agg(F.min("user_id").alias("min_user"), F.max("user_id").alias("max_user"),
             F.min("value").alias("min_value"), F.max("value").alias("max_value"))
        .toPandas()
    )

    def mean_max_frac(pdf: pd.DataFrame) -> float:
        uspan = float(pdf.max_user.max() - pdf.min_user.min()) or 1.0
        vspan = float(pdf.max_value.max() - pdf.min_value.min()) or 1.0
        ufrac = (pdf.max_user - pdf.min_user) / uspan
        vfrac = (pdf.max_value - pdf.min_value) / vspan
        return float(pd.concat([ufrac, vfrac], axis=1).max(axis=1).mean())

    m_z, m_sorted = mean_max_frac(z), mean_max_frac(sorted_files)
    # z-order: 64 files on a 2^16 x 2^16 Morton grid -> each file spans
    # at most ~2 of the 8x8 aligned tiles per dim; single-dim sort
    # leaves the trailing dim's envelope ~ full range
    assert m_sorted > 0.85, m_sorted
    assert m_z < 0.5 * m_sorted, (m_z, m_sorted)


def test_bpe_vocab_guards_refuse_oversized_type_tables():
    """The single-task BPE merge loop must refuse loudly BEFORE
    exploding an oversized type table into per-char lists: both the
    row-count cap and the round-13 sum-of-word-lengths cap (the real
    memory bound — r12 ADVICE) fire as ValueError, and the char cap
    fires before the offending batch is exploded."""
    import pandas as pd
    import pytest
    from projektdataengineering_spark.queries import corpus_ops as C

    ok = pd.DataFrame({"w": ["ab", "cde"], "freq": [2, 1]})
    vocab = C._bpe_vocab_from_batches([ok])
    assert vocab["ab"] == [["a", "b", C._END_TOK], 2]

    # row-count cap
    big = pd.DataFrame({"w": ["x"], "freq": [1]})
    orig_types = C._BPE_MAX_TYPES
    try:
        C._BPE_MAX_TYPES = 0
        with pytest.raises(ValueError, match="word types"):
            C._bpe_vocab_from_batches([big])
    finally:
        C._BPE_MAX_TYPES = orig_types

    # char cap: first batch fits, second overflows and must NOT land
    orig_chars = C._BPE_MAX_CHARS
    try:
        C._BPE_MAX_CHARS = 4
        with pytest.raises(ValueError, match="total type chars"):
            C._bpe_vocab_from_batches(
                [pd.DataFrame({"w": ["abcd"], "freq": [1]}),
                 pd.DataFrame({"w": ["efgh"], "freq": [1]})]
            )
    finally:
        C._BPE_MAX_CHARS = orig_chars


def test_bpe_train_matches_python_reference(spark, sf_dir, duck):
    """The distributed BPE loop must learn EXACTLY the merge table a
    textbook single-process BPE learns on the same corpus (same
    word-type weighting, same count-desc/lexicographic tie-break,
    same left-to-right non-overlapping apply)."""
    import re
    from collections import Counter
    from projektdataengineering_spark.queries.corpus_ops import (
        pipeline_bpe_train, _BPE_MERGES, _END_TOK)

    texts = [r[0] for r in duck.execute("SELECT text FROM documents").fetchall()]
    wfreq = Counter(
        w for t in texts for w in re.split(r"[^a-z]+", t.lower()) if w)
    vocab = {tuple(list(w) + [_END_TOK]): f for w, f in wfreq.items()}
    expected = []
    for rank in range(_BPE_MERGES):
        counts = Counter()
        for toks, f in vocab.items():
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((rank, l, r, l + r, c))
        new_vocab = {}
        for toks, f in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                    out.append(l + r); i += 2
                else:
                    out.append(toks[i]); i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab

    got = [tuple(r) for r in
           pipeline_bpe_train(spark, sf_dir).orderBy("rank").collect()]
    assert got == expected


def test_python_datasource_partition_contract(spark):
    """The custom DataSource's partitions() contract must shard the
    scan into the requested number of independent tasks, cover every
    row exactly once, and produce the deterministic payload."""
    import hashlib
    from projektdataengineering_spark.sources.pydatasource import (
        register_synthetic_source)

    register_synthetic_source(spark)
    df = (spark.read.format("synthdocs")
          .option("rows", 1000).option("partitions", 7).load())
    assert df.rdd.getNumPartitions() == 7
    rows = df.collect()
    assert len(rows) == 1000
    assert sorted(r["row_id"] for r in rows) == list(range(1000))
    probe = next(r for r in rows if r["row_id"] == 123)
    assert probe["payload"] == hashlib.md5(b"123").hexdigest()


def _assert_drains_once(spark, tmp_path, fmt, **options):
    """Drain a 500-row synthetic stream source ``fmt`` in 300-row batches
    through the scan_python_stream drain: every row arrives exactly once,
    over at least two committed micro-batches."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.queries.formats import _drain_pystream
    from projektdataengineering_spark.streaming import scoped_conf

    sink = f"{fmt}_test_sink"
    with scoped_conf(spark, {"spark.sql.streaming.checkpointLocation": str(tmp_path)}):
        got = _drain_pystream(spark, fmt, sink, rows=500, batchrows=300, **options)
    assert tuple(got.agg(F.sum("n_rows"), F.sum("id_checksum")).first()) == (500, sum(range(500)))
    commits = [f for f in (tmp_path / sink / "commits").iterdir() if f.name.isdigit()]
    assert len(commits) >= 2  # genuinely micro-batched


def test_python_stream_reader_offset_progression(spark, tmp_path):
    """The streaming reader's offset contract, driven directly (the
    unit of the scan_python_stream query) and through a real two-batch
    streaming run: [start, end) ranges tile the table with no overlap,
    the exhausted source reports no progress, and readBetweenOffsets
    replays a committed range byte-identically (the crash-replay
    contract)."""
    import hashlib
    from projektdataengineering_spark.sources.pydatasource import SyntheticDocsStreamReader

    r = SyntheticDocsStreamReader({"rows": "500", "batchrows": "300"})
    o0 = r.initialOffset()
    assert o0 == {"offset": 0}
    it1, o1 = r.read(o0)
    assert o1 == {"offset": 300} and len(list(it1)) == 300
    it2, o2 = r.read(o1)
    rows2 = list(it2)
    assert o2 == {"offset": 500} and len(rows2) == 200  # tail batch
    assert rows2[0][0] == 300  # second batch starts where the first ended
    it3, o3 = r.read(o2)
    assert o3 == o2 and list(it3) == []  # exhausted: no progress
    # replay of batch 2 is identical, including payload bytes
    replay = list(r.readBetweenOffsets(o1, o2))
    assert replay == rows2
    assert replay[0][2] == hashlib.md5(b"300").hexdigest()

    # end-to-end: two micro-batches through the real streaming engine
    _assert_drains_once(spark, tmp_path, "synthdocs")


def test_python_pushdown_reader_contract(spark):
    """The pushFilters contract, driven directly: the bucket equality
    is CONSUMED (not yielded back), every other filter comes back BY
    REFERENCE, and read() stride-generates ONLY matching rows —
    pushdown means fewer rows materialized, not a post-filter. The
    end-to-end run (conf-gated) must agree with the plain source plus
    a Spark-side filter."""
    import hashlib
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo, GreaterThan, InputPartition
    from projektdataengineering_spark.sources.pydatasource import (
        SyntheticDocsPushdownReader, register_synthetic_source)

    r = SyntheticDocsPushdownReader({"rows": "1000", "partitions": "8"})
    eq = EqualTo(("bucket",), 3)
    gt = GreaterThan(("row_id",), 500)
    residual = list(r.pushFilters([eq, gt]))
    assert residual == [gt] and residual[0] is gt  # by reference
    assert r.bucket_eq == 3

    rows = [row for p in r.partitions() for row in r.read(p)]
    ids = [x[0] for x in rows]
    assert ids == [i for i in range(1000) if i % 10 == 3]  # only matches
    assert all(x[1] == 3 for x in rows)
    assert rows[0][2] == hashlib.md5(b"3").hexdigest()

    # unsupported-only pushdown leaves the reader unfiltered
    r2 = SyntheticDocsPushdownReader({"rows": "100", "partitions": "2"})
    assert list(r2.pushFilters([gt])) == [gt] and r2.bucket_eq is None
    assert len([x for p in r2.partitions() for x in r2.read(p)]) == 100

    # end-to-end under the scoped conf ≡ plain source + Spark filter
    register_synthetic_source(spark)
    key = "spark.sql.python.filterPushdown.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        pushed = (spark.read.format("synthdocspushdown")
                  .option("rows", 1000).option("partitions", 8).load()
                  .filter("bucket = 3 AND row_id > 500").collect())
    finally:
        spark.conf.unset(key) if old is None else spark.conf.set(key, old)
    plain = (spark.read.format("synthdocs")
             .option("rows", 1000).option("partitions", 8).load()
             .filter("bucket = 3 AND row_id > 500").collect())
    assert sorted(map(tuple, pushed)) == sorted(map(tuple, plain))
    assert len(pushed) == 50


def test_python_stream_parallel_partition_contract(spark, tmp_path):
    """The partition-parallel streaming reader (the firehose twin):
    latestOffset advances the HWM batch by batch and stops at the row
    cap; partitions() tiles each planned [start, end) range exactly
    (no gap, no overlap, no empty task); read(partition) regenerates
    its slice deterministically; and the end-to-end run delivers every
    row exactly once across batches AND tasks."""
    import hashlib
    from projektdataengineering_spark.sources.pydatasource import SyntheticDocsFeedStreamReader

    r = SyntheticDocsFeedStreamReader(
        {"rows": "500", "batchrows": "300", "partitions": "4"})
    assert r.initialOffset() == {"offset": 0}
    o1 = r.latestOffset()
    assert o1 == {"offset": 300}
    parts = r.partitions({"offset": 0}, o1)
    bounds = [(p.lo, p.hi) for p in parts]
    assert bounds == [(0, 75), (75, 150), (150, 225), (225, 300)]
    rows = [row for p in parts for row in r.read(p)]
    assert [x[0] for x in rows] == list(range(300))
    assert rows[123][2] == hashlib.md5(b"123").hexdigest()
    o2 = r.latestOffset()
    assert o2 == {"offset": 500}  # clamped at the row cap
    assert r.latestOffset() == o2  # exhausted: no further progress
    tail = r.partitions(o1, o2)
    assert [(p.lo, p.hi) for p in tail] == [
        (300, 350), (350, 400), (400, 450), (450, 500)]

    _assert_drains_once(spark, tmp_path, "synthdocsfeed", partitions=4)


def test_hll_sketch_union_is_batching_independent(spark, sf_dir):
    """The HLL partial state must union to the SAME estimate no matter
    how the data was batched (the mergeable-state contract), and land
    within the 2^13-register error bound of the exact count."""
    from pyspark.sql import functions as F
    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.operators.sketches import (
        hll_estimate, hll_partial, hll_union)

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    exact = ev.select("user_id").distinct().count()

    # one-shot sketch
    one = ev.agg(hll_estimate(hll_partial("user_id")).alias("e")).collect()[0]["e"]
    # partials per event_id % 7 batch, then union
    batched = (
        ev.groupBy((F.col("event_id") % 7).alias("b"))
        .agg(hll_partial("user_id").alias("sk"))
        .agg(hll_estimate(hll_union("sk")).alias("e"))
        .collect()[0]["e"]
    )
    assert one == batched  # union of partials == one-shot, exactly
    assert abs(one - exact) <= max(2, 0.05 * exact), (one, exact)


def test_pagerank_matches_python_power_iteration(spark):
    """operators.graph.pagerank must reproduce a plain-python power
    iteration with the same update rule (same damping, same dangling
    semantics) on a fixed directed graph, to float tolerance."""
    from projektdataengineering_spark.operators.graph import pagerank

    E = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 1)]
    edges = spark.createDataFrame(E, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=10).collect()}

    nodes = sorted({x for e in E for x in e})
    n, d = len(nodes), 0.85
    out = {u: [v for a, v in E if a == u] for u in nodes}
    rank = {u: 1.0 / n for u in nodes}
    for _ in range(10):
        contrib = {u: 0.0 for u in nodes}
        for u in nodes:
            for v in out[u]:
                contrib[v] += rank[u] / len(out[u])
        rank = {u: (1 - d) / n + d * contrib[u] for u in nodes}
    assert set(got) == set(rank)
    for u in nodes:
        assert abs(got[u] - rank[u]) < 1e-12, (u, got[u], rank[u])
    # structural sanity: node 1 (most cited) outranks the dangling-fed 5
    assert got[1] > got[5]


def test_pagerank_on_neardup_graph_conserves_mass(spark, sf_dir):
    """On the SYMMETRIC near-dup pair graph there are no dangling
    nodes, so total rank mass is conserved at exactly 1 (within float
    tolerance) and every node keeps positive rank. (Near-dup
    components are mostly cliques/2-cycles — regular graphs — where
    all ranks equal 1/n, so ordering assertions are vacuous here; the
    conservation law is the meaningful invariant.)"""
    from pyspark.sql import functions as F
    from projektdataengineering_spark.operators.graph import pagerank
    from projektdataengineering_spark.queries.pipeline_ops import _portable_pairs

    pairs = _portable_pairs(spark, sf_dir)
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    pr = pagerank(sym, n_iter=5)
    stats = pr.agg(F.sum("rank").alias("s"), F.min("rank").alias("lo")).collect()[0]
    assert abs(stats["s"] - 1.0) < 1e-9, stats
    assert stats["lo"] > 0.0


def test_triangle_counts_known_graphs(spark):
    """triangle_counts (operators/graph.py) on pinned toy graphs:
    K4 (every node in 3 of the 4 triangles), a triangle-free path,
    and two triangles sharing an edge — plus a hub star whose
    degree-ordered orientation must not explode or miscount."""
    from projektdataengineering_spark.operators.graph import triangle_counts

    def run(edges):
        df = spark.createDataFrame(edges, ["a", "b"])
        return {
            r["node"]: (r["degree"], r["triangles"])
            for r in triangle_counts(df, "a", "b").collect()
        }

    # K4: 4 triangles, each node in C(3,2)=3 of them, degree 3.
    k4 = run([("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")])
    assert k4 == {n: (3, 3) for n in "abcd"}

    # Path a-b-c-d: no triangles.
    path = run([("a", "b"), ("b", "c"), ("c", "d")])
    assert path == {"a": (1, 0), "b": (2, 0), "c": (2, 0), "d": (1, 0)}

    # Two triangles sharing edge b-c: abc and bcd.
    bowtie = run([("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d")])
    assert bowtie == {"a": (2, 1), "b": (3, 2), "c": (3, 2), "d": (2, 1)}

    # Star hub h-x0..x9 plus one closing edge x0-x1: exactly 1 triangle;
    # the hub's high degree must route wedge work to the leaves.
    star_edges = [("h", f"x{i}") if "h" < f"x{i}" else (f"x{i}", "h") for i in range(10)]
    star = run(star_edges + [("x0", "x1")])
    assert star["h"] == (10, 1)
    assert star["x0"] == (2, 1) and star["x1"] == (2, 1)
    assert all(star[f"x{i}"] == (1, 0) for i in range(2, 10))


def test_triangle_query_star_cap_parity(spark, tmp_path):
    """The star-cap branch never triggers at fixture scale (max band
    bucket = 4), so pin the oracle's cap replay against the Spark edge
    builder on a synthetic over-cap bucket: a 70-member bucket must
    emit 69 star edges (not C(70,2) pairs) on BOTH sides."""
    import duckdb

    from pyspark.sql import functions as F
    from projektdataengineering_spark.queries.graphs import _TRI_STAR_CAP
    from projektdataengineering_spark.queries.similarity import _bucket_pairs

    n = _TRI_STAR_CAP + 6
    rows = [(0, "k", f"d{i:03d}") for i in range(n)] + [
        (1, "small", "d000"), (1, "small", "d001"), (1, "small", "d002")
    ]
    bands = spark.createDataFrame(rows, ["band_idx", "band_key", "doc_id"])
    got = (
        _bucket_pairs(
            bands, ["band_idx", "band_key"], ["doc_id"],
            star_cap=_TRI_STAR_CAP,
            project=lambda a, b: (
                [a["doc_id"].alias("doc_a"), b["doc_id"].alias("doc_b")], []
            ),
        )
        .orderBy("doc_a", "doc_b")
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE bands (band_idx INT, band_key VARCHAR, doc_id VARCHAR)")
    con.executemany("INSERT INTO bands VALUES (?, ?, ?)", rows)
    oracle = con.execute(f"""
        WITH mem AS (
          SELECT band_idx, band_key, doc_id,
                 COUNT(*) OVER (PARTITION BY band_idx, band_key) AS bsz,
                 MIN(doc_id) OVER (PARTITION BY band_idx, band_key) AS mn
          FROM bands
        )
        SELECT DISTINCT doc_a, doc_b FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM mem a JOIN mem b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
          WHERE a.bsz <= {_TRI_STAR_CAP}
          UNION ALL
          SELECT mn, doc_id FROM mem
          WHERE bsz > {_TRI_STAR_CAP} AND doc_id <> mn
        ) raw ORDER BY doc_a, doc_b
    """).fetchall()
    got_pairs = [(r["doc_a"], r["doc_b"]) for r in got]
    assert got_pairs == oracle
    # n-1 star edges from d000; the small bucket's (d000,d001)/(d000,d002)
    # dedup into them, and its one novel pair is (d001,d002).
    assert len([p for p in got_pairs if p[0] == "d000"]) == n - 1
    assert ("d001", "d002") in got_pairs
    assert len(got_pairs) == n - 1 + 1


def test_sample_priority_survives_tiny_table(spark, tmp_path):
    """Priority sampling on a table SMALLER than k+1 rows: tau is NULL
    (no (k+1)-th priority exists) and every row must still be returned
    with est_weight = weight — matching the oracle's NULL-ignoring
    GREATEST(weight, scalar-subquery). Pins the round-8 advice bug
    where an empty tau frame crossJoined away the whole sample."""
    from projektdataengineering_spark.queries.mlprep import sample_priority

    tiny = spark.createDataFrame(
        [(i, float(100 + i)) for i in range(5)],
        "o_orderkey long, o_totalprice double",
    )
    d = str(tmp_path / "sfx")
    tiny.write.parquet(f"{d}/orders.parquet")
    out = sample_priority(spark, d).orderBy("o_orderkey").collect()
    assert len(out) == 5
    for r in out:
        assert r.est_weight == r.weight


def test_ivf_index_persists_and_skips_retraining(spark, sf_dir):
    """The IVF coarse quantizer is train-once/reuse-forever: the first
    _ivf_centroids call runs Lloyd and persists a .npy keyed by the
    embeddings fingerprint; a later call in a FRESH process (simulated
    by clearing the in-memory cache) loads the file and must NOT
    retrain — and the loaded centroids are bit-identical."""
    import os
    import shutil

    import numpy as np

    from projektdataengineering_spark.queries import similarity as S

    e = S._embeddings(spark, sf_dir).localCheckpoint()
    path = artifact("ivf", sf_dir)
    S._IVF_CENTROID_CACHE.pop(path, None)
    if os.path.exists(path):
        shutil.rmtree(path)

    runs0 = BUILDS["ivf"]
    c1 = S._ivf_centroids(spark, sf_dir, e)
    assert BUILDS["ivf"] == runs0 + 1, "first call must train"
    assert os.path.exists(path), "index file must be persisted"

    S._IVF_CENTROID_CACHE.pop(path, None)  # simulate a new session
    c2 = S._ivf_centroids(spark, sf_dir, e)
    assert BUILDS["ivf"] == runs0 + 1, "second call must NOT retrain"
    np.testing.assert_array_equal(c1, c2)

    # third call: warm in-process path, still no retrain
    c3 = S._ivf_centroids(spark, sf_dir, e)
    assert BUILDS["ivf"] == runs0 + 1
    np.testing.assert_array_equal(c1, c3)


def test_compaction_apply_executes_and_reuses(spark, sf_dir):
    """pipeline_compaction_apply must (a) materialize the small-file
    table and its compacted rewrite for REAL (leaf parquet files on
    disk matching the manifest's counts), (b) hold row parity per
    partition, and (c) be content-addressed: a second invocation
    serves the frozen manifest without touching the tables."""
    import glob
    import os

    from projektdataengineering_spark.queries.layout import (
        pipeline_compaction_apply,
    )

    rows = pipeline_compaction_apply(spark, sf_dir).collect()
    assert rows
    for sub in ("before", "after", "manifest"):
        assert os.path.isdir(artifact("compaction", sf_dir, part=sub)), sub
    total_before = total_after = 0
    for r in rows:
        assert r["row_parity"] and r["rows_before"] == r["rows_after"]
        assert 1 <= r["files_after"]
        # manifest file counts == actual leaf parquet files on disk
        for side, n in (("before", r["files_before"]), ("after", r["files_after"])):
            leaf = glob.glob(
                os.path.join(
                    artifact("compaction", sf_dir, part=side),
                    f"event_type={r['event_type']}",
                    f"event_date={r['event_date']}",
                    "*", "*.parquet",
                )
            )
            assert len(leaf) == n, (side, r)
        total_before += r["files_before"]
        total_after += r["files_after"]
    assert total_after < total_before, "compaction must reduce total file count"

    manifest = artifact("compaction", sf_dir, part="manifest")
    mtime = os.path.getmtime(manifest)
    again = pipeline_compaction_apply(spark, sf_dir).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
    assert os.path.getmtime(manifest) == mtime


def test_substring_spans_semantics(spark, tmp_path):
    """dedup_substring_spans on a planted corpus: a shared 10-token
    block between two docs yields one maximal span in each (bounds
    [pos, pos+10)); a doc that repeats its own block is caught too;
    unique text yields nothing."""
    from projektdataengineering_spark.queries.dedup import (
        _SUBSTR_W,
        dedup_substring_spans,
    )

    assert _SUBSTR_W == 8
    block = "q w e r t y u i o p"          # 10 tokens, planted twice
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    rows = [
        (1, f"{uniq('a', 5)} {block} {uniq('b', 5)}"),   # block at pos 5
        (2, f"{block} {uniq('c', 12)}"),                  # block at pos 0
        (3, f"{uniq('d', 4)} {block} {uniq('e', 2)} {block}"),  # self-repeat
        (4, uniq("f", 30)),                               # all unique
    ]
    d = str(tmp_path / "sfx")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    got = {
        (r.doc_id, r.span_start, r.span_end): r.n_windows
        for r in dedup_substring_spans(spark, d).collect()
    }
    # 10-token block → windows at 3 consecutive starts (10 - 8 + 1)
    assert got[(1, 5, 15)] == 3
    assert got[(2, 0, 10)] == 3
    # doc 3: block at pos 4 and pos 16 (4 + 10 + 2), separate spans
    assert got[(3, 4, 14)] == 3
    assert got[(3, 16, 26)] == 3
    assert not any(k[0] == 4 for k in got), got
    assert len(got) == 4


def test_bm25_semantics_planted(spark, tmp_path):
    """pipeline_bm25_topk on a planted corpus: docs containing the rare
    informative term outrank docs with only common terms; among docs
    with the rare term, more occurrences rank higher (tf saturation is
    monotone); score is integer ppm and ranks are dense from 1."""
    from projektdataengineering_spark.queries.retrieval import pipeline_bm25_topk

    filler = "the a of and to in is it on at"        # 10 common tokens
    rows = [(i, filler) for i in range(20)]          # background docs
    rows += [
        (100, f"zebra {filler}"),                    # rare term once
        (101, f"zebra zebra zebra {filler}"),        # rare term thrice
        (102, f"zebra zebra {filler}"),
    ]
    d = str(tmp_path / "sfx")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    out = pipeline_bm25_topk(spark, d).collect()
    by_rank = sorted(out, key=lambda r: r.rank)
    assert [r.rank for r in by_rank] == list(range(1, len(out) + 1))
    # zebra docs first, ordered by tf descending (101 > 102 > 100)
    assert [r.doc_id for r in by_rank[:3]] == [101, 102, 100]
    assert by_rank[0].score_ppm > by_rank[1].score_ppm > by_rank[2].score_ppm > 0
    # background docs: zero score (all their terms are in >half the corpus)
    assert all(r.score_ppm == 0 for r in by_rank[3:])


def test_hybrid_retrieval_rrf_invariants(spark, sf_dir):
    """pipeline_hybrid_retrieval: rrf_num must equal the integer RRF
    recomputed from the emitted ranks (missing list membership = 0
    contribution), fused ranks dense from 1, and the PRF seed docs
    (lexical top-5) must appear in the fused output with both ranks
    populated unless they fell out of the dense pool."""
    from projektdataengineering_spark.queries.retrieval import (
        _HYBRID_RRF_K,
        _HYBRID_RRF_SCALE,
        pipeline_hybrid_retrieval,
    )

    rows = sorted(
        pipeline_hybrid_retrieval(spark, sf_dir).collect(),
        key=lambda r: r.fused_rank,
    )
    assert [r.fused_rank for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        want = 0
        if r.rank_lex is not None:
            want += _HYBRID_RRF_SCALE // (_HYBRID_RRF_K + r.rank_lex)
        if r.rank_dense is not None:
            want += _HYBRID_RRF_SCALE // (_HYBRID_RRF_K + r.rank_dense)
        assert r.rrf_num == want, r
    assert any(r.rank_lex is not None and r.rank_dense is not None for r in rows)


def test_substring_cut_preserves_canonical(spark, tmp_path):
    """pipeline_substring_cut on a planted corpus: the corpus-first
    occurrence of a duplicated block survives, later copies are cut,
    and the cleaned text is the doc minus exactly those spans."""
    import hashlib

    from projektdataengineering_spark.queries.dedup import pipeline_substring_cut

    block = "q w e r t y u i o p"  # 10 tokens
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    rows = [
        (1, f"{uniq('a', 5)} {block} {uniq('b', 5)}"),  # canonical (first by doc_id,pos)
        (2, f"{block} {uniq('c', 12)}"),                # later copy → cut
        (3, uniq("d", 30)),                              # untouched
    ]
    d = str(tmp_path / "sfx")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    got = {r.doc_id: r for r in pipeline_substring_cut(spark, d).collect()}
    sha = lambda t: hashlib.sha256(t.encode()).hexdigest()
    # doc 1 holds the canonical occurrence → nothing cut
    assert got[1].cut_spans == 0 and got[1].kept_tokens == 20
    assert got[1].cleaned_sha256 == sha(rows[0][1])
    # doc 2's copy is cut: tokens [0, 10) removed
    assert got[2].cut_spans == 1 and got[2].cut_tokens == 10
    assert got[2].cleaned_sha256 == sha(uniq("c", 12))
    assert got[3].cut_spans == 0
    assert got[3].cleaned_sha256 == sha(rows[2][1])


def test_perplexity_qbits_match_float_log(spark, sf_dir):
    """The integer quarter-bit surprisal must equal floor(4*log2(a/b))
    computed with float math for every (a, b) pair the corpus LM
    produces — the integer path is the portable replacement, not an
    approximation. Also: keep == (mean <= threshold) on scored docs."""
    import math

    from projektdataengineering_spark.queries.corpus_ops import (
        _PPL_KEEP_QBITS,
        pipeline_perplexity_filter,
    )

    rows = pipeline_perplexity_filter(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.n_bigrams == 0:
            assert r.mean_qbits is None and r.keep is False
        else:
            assert r.mean_qbits == r.surprisal_qbits // r.n_bigrams
            assert r.keep == (r.mean_qbits <= _PPL_KEEP_QBITS)

    # direct kernel check over a wide (a, b) grid
    for a in [1, 2, 3, 7, 100, 12345, 999983]:
        for b in [1, 2, 3, 7, 99, 12344]:
            if b > a:
                continue
            w = (a // b).bit_length() - 1
            y = b << w
            frac = 3 if a**4 >= 8 * y**4 else 2 if a**4 >= 4 * y**4 else (
                1 if a**4 >= 2 * y**4 else 0)
            got = 4 * w + frac
            want = math.floor(4 * math.log2(a / b) + 1e-12)
            assert got == want, (a, b, got, want)


def test_bloom_prefilter_prunes_probe_side(spark, sf_dir):
    """join_bloom_prefiltered: the map-side Bloom test must actually
    prune (probe survivors well under the full lineitem scan) while
    keeping every true match — the full-result parity is the oracle's
    job; here we pin the REDUCTION property that justifies the
    operator, plus zero-false-negative containment of true keys."""
    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.operators.sketches import bloom_filter_words
    from projektdataengineering_spark.queries.joins import (
        _BLOOM_JOIN_K,
        _BLOOM_JOIN_M,
        _BLOOM_JOIN_THRESH,
    )
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    hot = orders.filter(F.col("o_totalprice") > _BLOOM_JOIN_THRESH)
    words = {
        r["w"]: r["bits"]
        for r in bloom_filter_words(
            hot, "o_orderkey", m_bits=_BLOOM_JOIN_M, k_hashes=_BLOOM_JOIN_K
        ).collect()
    }
    bitmap = 0
    for w, bits in words.items():
        bitmap |= bits << (63 * w)

    import hashlib

    def contains(key: int) -> bool:
        h = hashlib.md5(f"{key}#bloom".encode()).hexdigest()
        h1, h2 = int(h[:8], 16), int(h[8:16], 16)
        for j in range(_BLOOM_JOIN_K):
            pos = ((h1 + j * h2) % (1 << 32)) % _BLOOM_JOIN_M
            if not (bitmap >> pos) & 1:
                return False
        return True

    li_keys = [r["l_orderkey"] for r in
               load_table(spark, sf_dir, "lineitem").select("l_orderkey").collect()]
    hot_keys = {r["o_orderkey"] for r in hot.collect()}
    survivors = [k for k in li_keys if contains(k)]
    # zero false negatives: every lineitem row of a hot order survives
    assert all(contains(k) for k in li_keys if k in hot_keys)
    # and the filter genuinely prunes (hot side is ~5-20% of orders)
    assert len(survivors) < 0.6 * len(li_keys), (len(survivors), len(li_keys))


def test_pq_recall_and_codebook_persistence(spark, sf_dir):
    """sim_cosine_pq: the certification boolean holds with wide margin
    (measured recall 0.93/0.75 at sf0.01/sf0.1 vs the 0.20 bound), the
    trained codebooks persist and a fresh-cache call must NOT retrain,
    and on tiny fixtures K clamps to the corpus size."""
    import os
    import shutil

    import numpy as np

    from projektdataengineering_spark.queries import similarity as S

    e = S._embeddings(spark, sf_dir).localCheckpoint()
    n = e.count()
    # force one training
    path = artifact("pq_books", sf_dir)
    S._PQ_BOOK_CACHE.pop(path, None)
    if os.path.exists(path):
        shutil.rmtree(path)
    runs0 = BUILDS["pq_books"]
    b1 = S._pq_codebooks(spark, sf_dir, e)
    assert BUILDS["pq_books"] == runs0 + 1
    assert b1.shape == (S._PQ_M, min(S._PQ_K, n), S._IVF_DIM // S._PQ_M)
    S._PQ_BOOK_CACHE.pop(path, None)  # fresh session simulation
    b2 = S._pq_codebooks(spark, sf_dir, e)
    assert BUILDS["pq_books"] == runs0 + 1, "disk hit must not retrain"
    np.testing.assert_array_equal(b1, b2)

    rows = S.sim_cosine_pq(spark, sf_dir).collect()
    assert rows and all(r["recall_ok"] for r in rows)


def test_adc_shortlist_matches_brute_force():
    """similarity._adc_shortlist, the one ADC scorer of pq_top3 and the
    IVFADC cells, against a brute-force reference: a corpus row's score
    is the sum over subspaces of the unit query subvector's dot with the
    row's coded centroid; self is excluded, and the shortlist is the top
    ``width`` rows, or every other row when ``width`` >= N. 600 queries
    span two 512-query chunks; 40 of them are corpus members."""
    from projektdataengineering_spark.queries.similarity import _adc_shortlist

    rng = np.random.RandomState(7)
    m_sub, k, sub, n = 4, 8, 3, 40
    books = rng.normal(size=(m_sub, k, sub))
    codes = rng.randint(0, k, size=(n, m_sub))
    ids_n = np.arange(100, 100 + n, dtype=np.int64)
    ids_q = np.concatenate([ids_n, np.arange(1000, 1560, dtype=np.int64)])
    q = rng.normal(size=(len(ids_q), m_sub * sub))

    unit = q / np.linalg.norm(q, axis=1, keepdims=True)
    ranked = {}
    for i, qid in enumerate(ids_q):
        scores = {
            int(ids_n[j]): sum(
                unit[i, m * sub : (m + 1) * sub] @ books[m, codes[j, m]] for m in range(m_sub)
            )
            for j in range(n)
            if ids_n[j] != qid
        }
        ranked[int(qid)] = sorted(scores, key=lambda j: -scores[j])

    for width in (5, n - 1, n, n + 10):
        got_q, got_n = _adc_shortlist(q, ids_q, codes, ids_n, books, width)
        got: dict[int, set[int]] = {}
        for a, b in zip(got_q.tolist(), got_n.tolist()):
            got.setdefault(a, set()).add(b)
        assert len(got_q) == sum(len(v) for v in got.values()), width  # no pair twice
        assert got == {qid: set(r[:width]) for qid, r in ranked.items()}, width


def test_bfs_hops_known_graphs(spark):
    """bfs_hops (operators/graph.py) on pinned toy graphs: a path (hops
    count up to the max and stop), a cycle (both directions race, each
    node keeps its shortest side), a disconnected component (never
    appears), and a multi-seed frontier (distance = min over seeds)."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.operators.graph import bfs_hops

    def run(edges, seeds, max_hops=3):
        e = spark.createDataFrame(edges, ["s", "d"])
        und = e.unionAll(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        sdf = spark.createDataFrame([(x,) for x in seeds], ["node"])
        return {
            r["node"]: r["hop"]
            for r in bfs_hops(und, "s", "d", sdf, max_hops=max_hops).collect()
        }

    # Path 1-2-3-4-5-6 from node 1, 3 hops: node 5 unreached at hop 3? no —
    # hops 0..3 reach 1,2,3,4; 5 and 6 stay absent.
    path = run([(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], [1])
    assert path == {1: 0, 2: 1, 3: 2, 4: 3}

    # 6-cycle from one node: two directions meet; farthest node is hop 3.
    cyc = run([(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1)], [1])
    assert cyc == {1: 0, 2: 1, 6: 1, 3: 2, 5: 2, 4: 3}

    # Disconnected island 10-11 never appears when seeding the triangle.
    disc = run([(1, 2), (2, 3), (1, 3), (10, 11)], [1])
    assert disc == {1: 0, 2: 1, 3: 1}

    # Two seeds: each node takes its min distance over the seed set.
    multi = run([(1, 2), (2, 3), (3, 4), (4, 5)], [1, 5])
    assert multi == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_hops_matches_python_reference(spark, sf_dir):
    """The registered purchase-graph BFS against a driver-side python
    BFS over the same (collected) edge list — pins the operator's
    frontier algebra, not just the toy cases."""
    import collections

    from projektdataengineering_spark.queries import load_registry

    reg = load_registry()
    got = {
        r["node"]: r["hop"]
        for r in reg["graph_bfs_hops"].fn(spark, sf_dir).collect()
    }

    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    bip = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        .collect()
    )
    adj = collections.defaultdict(set)
    deg = collections.Counter()
    for r in bip:
        adj[r["src"]].add(r["dst"])
        adj[r["dst"]].add(r["src"])
    for n, ns in adj.items():
        deg[n] = len(ns)
    seed = max(sorted(deg), key=lambda n: deg[n])
    want, frontier = {seed: 0}, [seed]
    for hop in (1, 2, 3):
        nxt = sorted(
            {m for n in frontier for m in adj[n] if m not in want}
        )
        for m in nxt:
            want[m] = hop
        frontier = nxt
    assert got == want


def test_quantile_sketch_bucket_matches_float_log2(spark):
    """The quarter-bit bucket expression used by agg_quantile_sketch
    (bin-length whole bits + exact fourth-power fractional comparison)
    must equal floor(4*log2(v)) — checked against Python's float log2,
    which is safe as a reference because non-power-of-two integers
    never land exactly on a quarter-bit boundary and exact powers of
    two are exact in IEEE log2."""
    import math

    # domain: cents < 2^31 (fourth powers must fit DECIMAL(38,0)/HUGEINT;
    # the query documents the same bound)
    vals = (
        list(range(1, 2050))
        + [2**k for k in range(1, 31)]
        + [2**k - 1 for k in range(2, 32)]
        + [2**k + 1 for k in range(2, 31)]
        + [56021, 10**6, 10**9]
    )
    df = spark.createDataFrame([(v,) for v in vals], "cents long")
    import pyspark.sql.functions as F

    whole = F.expr("length(bin(cents)) - 1")
    y = F.expr("shiftleft(CAST(1 AS BIGINT), length(bin(cents)) - 1)")
    c_dec = F.col("cents").cast("decimal(19,0)")
    x4 = c_dec * c_dec * c_dec * c_dec
    y_dec = y.cast("decimal(19,0)")
    y4 = y_dec * y_dec * y_dec * y_dec
    frac = (
        F.when(x4 >= 8 * y4, 3)
        .when(x4 >= 4 * y4, 2)
        .when(x4 >= 2 * y4, 1)
        .otherwise(0)
    )
    got = {
        r["cents"]: r["bucket"]
        for r in df.select(
            "cents", (4 * whole + frac).cast("long").alias("bucket")
        ).collect()
    }
    for v in vals:
        assert got[v] == math.floor(4 * math.log2(v)), v


def test_boilerplate_removal_is_idempotent(spark):
    """pipeline_boilerplate_blocks' core invariant: applying the
    block-frequency filter to an already-cleaned corpus removes
    nothing further when the clean pass used the same threshold —
    i.e. removal is a projection (f∘f = f) under a corpus where every
    over-threshold block is gone. Checked on a synthetic corpus with a
    planted boilerplate block, block width 2, threshold 2 docs."""
    import pyspark.sql.functions as F

    W, T = 2, 2
    # 5 docs share the planted "cookie banner ok" prefix (as 2-word
    # blocks: "cookie banner", then doc-specific tails)
    rows = [(i, f"cookie banner unique{i} tail{i} extra{i} pad{i}") for i in range(5)]
    rows += [(10, "totally unrelated words here once only")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def clean(df):
        words = df.select("doc_id", F.split("text", " ").alias("ws"))
        nb = F.ceil(F.size("ws") / F.lit(float(W))).cast("int")
        blocks = words.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), nb),
                    lambda i: F.concat_ws(" ", F.slice(F.col("ws"), (i - 1) * W + 1, W)),
                )
            ).alias("pos", "block"),
        )
        dfreq = blocks.groupBy("block").agg(F.countDistinct("doc_id").alias("df"))
        kept = (
            blocks.join(dfreq, "block")
            .filter(F.col("df") <= T)
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "block"))).alias("k"))
            .select(
                "doc_id",
                F.concat_ws(" ", F.transform("k", lambda s: s["block"])).alias("text"),
            )
        )
        return kept

    once = {r["doc_id"]: r["text"] for r in clean(docs).collect()}
    assert all("cookie banner" not in t for t in once.values())
    assert once[10] == "totally unrelated words here once only"
    twice_df = spark.createDataFrame(list(once.items()), "doc_id long, text string")
    twice = {r["doc_id"]: r["text"] for r in clean(twice_df).collect()}
    assert twice == once


def test_feature_hash_and_kfold_match_pure_python_md5(spark, sf_dir):
    """The hex-alphabet-position trick used by pipeline_feature_hash /
    pipeline_kfold_assign must agree with a direct Python md5
    recompute — an implementation-independent check of the
    engine-portable 'md5 mod k without hex parsing' discipline."""
    import hashlib

    from projektdataengineering_spark.queries import load_registry

    reg = load_registry()
    # kfold: every customer's fold == int(md5(key)[:2], 16) % 5
    from projektdataengineering_spark.catalog import load_table
    import pyspark.sql.functions as F

    cust = load_table(spark, sf_dir, "customer").select("c_custkey").limit(50)
    alphabet = "0123456789abcdef"
    pos1 = F.expr(f"locate(substr(md5(cast(c_custkey as string)), 1, 1), '{alphabet}') - 1")
    pos2 = F.expr(f"locate(substr(md5(cast(c_custkey as string)), 2, 1), '{alphabet}') - 1")
    got = {
        r["c_custkey"]: r["fold"]
        for r in cust.select(
            "c_custkey", ((pos1 * 16 + pos2) % 5).cast("long").alias("fold")
        ).collect()
    }
    for k, fold in got.items():
        want = int(hashlib.md5(str(k).encode()).hexdigest()[:2], 16) % 5
        assert fold == want, (k, fold, want)

    # feature_hash: bucket/sign of a word == python md5 nibbles
    words = ["table", "spark", "query", "a", "émoji"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    hx = F.md5(F.col("word"))
    p1 = F.expr(f"locate(substr(md5(word), 1, 1), '{alphabet}') - 1")
    p2 = F.expr(f"locate(substr(md5(word), 2, 1), '{alphabet}') - 1")
    out = {
        r["word"]: (r["bucket"], r["sign"])
        for r in df.select(
            "word",
            ((p1 * 16 + p2) % 64).cast("long").alias("bucket"),
            F.when(F.substring(hx, 3, 1) < "8", 1).otherwise(-1).alias("sign"),
        ).collect()
    }
    for w in words:
        d = hashlib.md5(w.encode("utf-8")).hexdigest()
        assert out[w][0] == int(d[:2], 16) % 64, w
        assert out[w][1] == (1 if d[2] < "8" else -1), w


def test_merge_apply_cow_copy_and_idempotence(spark, tmp_path):
    """pipeline_merge_apply on a planted changelog: every merge action
    lands in its own bucket so the copy-on-write contract is physically
    checkable — the untouched bucket's files carry over BYTE-IDENTICAL
    (same names, same bytes; rewritten=False), the deleted key's bucket
    vanishes from the merged table, tombstone churn on an absent key
    touches nothing, and a re-invocation reuses the frozen manifest."""
    import datetime
    import filecmp
    import os

    from projektdataengineering_spark.queries.layout import (
        _MERGE_BUCKETS,
        _merge_versions,
        pipeline_merge_apply,
    )

    assert _MERGE_BUCKETS == 8
    T = datetime.datetime
    pre, post = T(2024, 1, 10, 12, 0, 0), T(2024, 1, 15, 6, 0, 0)
    rows = [
        # user 1 / bucket 1: base only -> unchanged (bucket COPIED)
        (101, pre, 1, "view", 10.0, None),
        # user 2 / bucket 2: base + upsert -> update
        (102, pre, 2, "click", 20.0, None),
        (202, post, 2, "view", 5.0, None),
        # user 3 / bucket 3: base + tombstone -> delete (bucket emptied)
        (103, pre, 3, "view", 30.0, None),
        (203, post, 3, "error", None, None),
        # user 12 / bucket 4: changelog only, non-tombstone -> insert
        (204, post, 12, "purchase", 7.5, None),
        # user 13 / bucket 5: changelog only, tombstone -> noop
        (205, post, 13, "error", None, None),
    ]
    d = str(tmp_path / "sfx")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{d}/events.parquet")

    got = {
        (r.bucket, r.action): (r.n_keys, r.sum_events, r.sum_cents, r.rewritten)
        for r in pipeline_merge_apply(spark, d).collect()
    }
    assert got == {
        (1, "unchanged"): (1, 1, 1000, False),
        (2, "update"): (1, 2, 2500, True),
        (3, "delete"): (1, 1, 3000, True),
        (4, "insert"): (1, 1, 750, True),
    }, got

    base, merged = _merge_versions(spark, d)
    base_b1 = os.path.join(base, "bucket=1")
    merged_b1 = os.path.join(merged, "bucket=1")
    same = filecmp.cmpfiles(
        base_b1, merged_b1, os.listdir(base_b1), shallow=False
    )
    assert same[1] == [] and same[2] == [] and same[0], same
    assert not os.path.isdir(os.path.join(merged, "bucket=3"))
    assert not os.path.isdir(os.path.join(merged, "bucket=5"))
    assert not os.path.isdir(os.path.join(base, "bucket=5"))

    manifest = artifact("merge", d, part="manifest", inputs=(base, merged))
    mtime = os.path.getmtime(manifest)
    again = {
        (r.bucket, r.action): (r.n_keys, r.sum_events, r.sum_cents, r.rewritten)
        for r in pipeline_merge_apply(spark, d).collect()
    }
    assert again == got
    assert os.path.getmtime(manifest) == mtime


def test_semireduced_prunes_both_exchange_inputs(spark, sf_dir):
    """join_semireduced: each side's Bloom (built from the OTHER side's
    filtered keys, r18: the xxhash64 fast-lane family the query
    actually plants) must strictly shrink what reaches that side's
    exchange, must pass EVERY build-side key (zero false negatives —
    the subset property, asserted directly), and the pruned join must
    return exactly the plain join's aggregate."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.operators.sketches import (
        bloom_fast_probe_condition,
        bloom_fast_words,
    )
    from projektdataengineering_spark.queries.joins import (
        _SEMIRED_K,
        _SEMIRED_M,
        join_semireduced,
    )

    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    o_words = bloom_fast_words(urgent, "o_orderkey", _SEMIRED_M, _SEMIRED_K)
    l_words = bloom_fast_words(
        returned.distinct(), "l_orderkey", _SEMIRED_M, _SEMIRED_K
    )

    def pruned_count(df, key, words):
        return (
            df.withColumn("bw", F.lit(words).cast("array<bigint>"))
            .filter(
                F.expr(
                    bloom_fast_probe_condition(key, "bw", _SEMIRED_M, _SEMIRED_K)
                )
            )
            .count()
        )

    li_in, li_kept = returned.count(), pruned_count(returned, "l_orderkey", o_words)
    o_in, o_kept = urgent.count(), pruned_count(urgent, "o_orderkey", l_words)
    assert li_kept < li_in, (li_kept, li_in)
    assert o_kept < o_in, (o_kept, o_in)

    # subset property: a filter passes every key it was built from
    # (probing urgent's own keys against urgent's own filter keeps all)
    n_urgent = urgent.count()
    assert pruned_count(urgent, "o_orderkey", o_words) == n_urgent
    n_ret = returned.distinct().count()
    assert (
        pruned_count(returned.distinct(), "l_orderkey", l_words) == n_ret
    )

    # zero false negatives: the reduced join aggregates to exactly the
    # plain join's totals
    got = {r["month_start"]: (r["n_orders"], r["n_items"], r["revenue"])
           for r in join_semireduced(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    plain = {
        r["month_start"]: (r["n_orders"], r["n_items"], r["revenue"])
        for r in o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").cast("string")
            .alias("month_start")
        )
        .agg(
            F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .collect()
    }
    assert got == plain


def test_embedding_incremental_index_reuse_and_verdict(spark, sf_dir):
    """dedup_embedding_incremental (round 13): (a) the corpus IVF
    member index is built at most ONCE per embeddings fingerprint and
    every later call probes the persisted parquet instead of
    re-assigning the corpus — and the quantizer itself is NOT
    retrained for the second call either (the _ivf_centroids
    train-once contract composes); (b) the verdict partitions the
    batch with all three classes exercised by the planted twins:
    a corpus-vector twin → dup_of_corpus = its original, a
    batch-vector twin → dup_of_batch = its original, random rest →
    keep."""
    import os
    import shutil

    from projektdataengineering_spark.queries import similarity as S
    from projektdataengineering_spark.queries.dedup import (
        _TWIN_EVERY, _TWIN_OFFSET)

    path = artifact("embed_ivf_index", sf_dir)
    if os.path.isdir(path):
        shutil.rmtree(path)

    builds0 = BUILDS["embed_ivf_index"]
    r1 = S.dedup_embedding_incremental(spark, sf_dir)
    rows1 = sorted(map(tuple, r1.collect()))
    assert BUILDS["embed_ivf_index"] == builds0 + 1, "first call must build"
    assert os.path.isdir(path), "member index must be persisted"

    trains0 = BUILDS["ivf"]
    r2 = S.dedup_embedding_incremental(spark, sf_dir)
    rows2 = sorted(map(tuple, r2.collect()))
    assert BUILDS["embed_ivf_index"] == builds0 + 1, "second call must NOT rebuild"
    assert BUILDS["ivf"] == trains0, "second call must NOT retrain"
    assert rows1 == rows2

    # the probe plan reads the CORPUS side from the index parquet
    assert any(path in f for f in r2.inputFiles()), (path, r2.inputFiles())

    # verdict partition + planted-twin ground truth
    by_id = {r[0]: r for r in rows1}
    n_corpus_dup = n_batch_dup = n_keep = 0
    for vec_id, dup_c, dup_b, keep in rows1:
        assert keep == (dup_c is None and dup_b is None), by_id[vec_id]
        if vec_id >= _TWIN_OFFSET:  # a planted twin: must point at its orig
            orig = vec_id - _TWIN_OFFSET
            assert dup_c == orig or dup_b == orig, by_id[vec_id]
        n_corpus_dup += dup_c is not None
        n_batch_dup += dup_b is not None
        n_keep += bool(keep)
    assert n_corpus_dup and n_batch_dup and n_keep, (
        n_corpus_dup, n_batch_dup, n_keep)
    # every twin of a batch-side original is a batch dup, not corpus
    for vec_id, dup_c, dup_b, keep in rows1:
        if vec_id >= _TWIN_OFFSET and (vec_id - _TWIN_OFFSET) in by_id:
            assert dup_b == vec_id - _TWIN_OFFSET and dup_c is None, (
                by_id[vec_id])


def test_ivfpq_distributed_adc_recall_and_shared_encoder(spark, sf_dir, emb_matrix):
    """sim_cosine_ivfpq (round 14): (a) the distributed IVFADC path's
    recall@3 against the exact numpy baseline clears the certification
    bound with real margin; (b) the cell kernels score against EXACTLY
    the codes _pq_encode_np produces (shared-encoder contract: every
    reported neighbor must be a member of a cell the query probes
    under the shared quantizer geometry)."""
    import numpy as np

    from projektdataengineering_spark.queries import similarity as S

    ids, m = emb_matrix
    cos = _numpy_cosine_matrix(m)
    np.fill_diagonal(cos, -np.inf)
    exact_top3 = {
        int(ids[i]): {int(ids[j]) for j in np.argsort(-cos[i], kind="stable")[:3]}
        for i in range(len(ids))
    }
    got = S.ivfpq_top3(spark, sf_dir).collect()
    by_q: dict[int, set[int]] = {}
    for r in got:
        by_q.setdefault(r["id_q"], set()).add(r["id_n"])
    hits = sum(len(by_q.get(q, set()) & exact) for q, exact in exact_top3.items())
    recall = hits / (3 * len(exact_top3))
    assert recall >= S._PQ_RECALL_BOUND + 0.1, recall  # margin, not knife edge

    # probe-geometry containment: every reported neighbor's rank-1 cell
    # is probed by its query under the shared assignment
    unit = m / np.linalg.norm(m, axis=1, keepdims=True)
    cents = S._ivf_centroids(
        spark, sf_dir,
        S._embeddings(spark, sf_dir),
    )
    dots = unit @ cents.T
    order = np.argsort(-dots, kind="stable", axis=1)
    pos = {int(i): k for k, i in enumerate(ids)}
    for r in got:
        member_cell = order[pos[r["id_n"]], 0]
        probed = set(order[pos[r["id_q"]], : S._IVF_NPROBE])
        assert member_cell in probed, (r["id_q"], r["id_n"])

    # shared-encoder determinism: same matrix → same codes, in range
    books = S._pq_codebooks(
        spark, sf_dir,
        S._embeddings(spark, sf_dir),
    )
    c1 = S._pq_encode_np(m.astype(np.float64), books)
    c2 = S._pq_encode_np(m.astype(np.float64), books)
    assert (c1 == c2).all()
    assert c1.min() >= 0 and c1.max() < books.shape[1]


def test_ivfpq_code_index_persists_and_skips_reencode(spark, sf_dir):
    """The IVFADC code table is encode-once/probe-forever (r14 verdict
    task #3): the first ivfpq_top3 call encodes the corpus map-side and
    installs the cell-partitioned parquet index; a second call — with
    every in-process cache dropped (force_disk_reload) — must re-encode
    NOTHING (no code build, no Lloyd, no PQ training), read members
    from the index parquet, and produce identical rows."""
    import os
    import shutil

    from projektdataengineering_spark.queries import similarity as S

    path = artifact("ivfpq_codes", sf_dir)
    for p in (path, artifact("ivfpq_codes", sf_dir, gen="v2")):
        if os.path.isdir(p):
            shutil.rmtree(p)

    builds0 = BUILDS["ivfpq_codes"]
    r1 = S.ivfpq_top3(spark, sf_dir)
    rows1 = sorted(map(tuple, r1.collect()))
    assert BUILDS["ivfpq_codes"] == builds0 + 1, "first call must encode"
    assert os.path.isdir(path), "code index must be persisted"
    # physically cell-partitioned: one directory per inverted list
    cells = [d for d in os.listdir(path) if d.startswith("cell=")]
    assert len(cells) > 1, cells

    trains0, pq0 = BUILDS["ivf"], BUILDS["pq_books"]
    r2 = S.ivfpq_top3(spark, sf_dir, force_disk_reload=True)
    rows2 = sorted(map(tuple, r2.collect()))
    assert BUILDS["ivfpq_codes"] == builds0 + 1, "second call must NOT re-encode"
    assert BUILDS["ivf"] == trains0, "second call must NOT retrain IVF"
    assert BUILDS["pq_books"] == pq0, "second call must NOT retrain PQ"
    assert rows1 == rows2
    # the ADC plan reads the member codes FROM the index parquet
    assert any(path in f for f in r2.inputFiles()), (path, r2.inputFiles()[:3])


def test_ivfpq_index_append_codes_and_replay(spark, sf_dir):
    """sim_ivfpq_index_append: v2 − v1 must be EXACTLY the twin batch,
    carrying codes byte-identical to a fresh pass of the shared encoder
    on the twin vectors (the code content the SQL oracle deliberately
    leaves to this test), with v1 undisturbed and the audit replay-
    idempotent."""
    import os
    import shutil

    import numpy as np

    from projektdataengineering_spark.queries import similarity as S
    from projektdataengineering_spark.queries.dedup import _TWIN_OFFSET

    v1_path = artifact("ivfpq_codes", sf_dir)
    v2_path = artifact("ivfpq_codes", sf_dir, gen="v2")
    if os.path.isdir(v2_path):
        shutil.rmtree(v2_path)

    a1 = sorted(map(tuple, S.sim_ivfpq_index_append(spark, sf_dir).collect()))
    a2 = sorted(map(tuple, S.sim_ivfpq_index_append(spark, sf_dir).collect()))
    assert a1 == a2, "audit must be replay-idempotent"

    v1 = {
        r["vec_id"]: (r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(v1_path).collect()
    }
    v2 = {
        r["vec_id"]: (r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(v2_path).collect()
    }
    # v1 rows pass through untouched
    assert all(v2[k] == v for k, v in v1.items()), "v1 disturbed in v2"
    appended = {k: v for k, v in v2.items() if k not in v1}
    assert appended and all(k >= _TWIN_OFFSET for k in appended)

    # appended codes ≡ fresh shared-encoder pass over the twin vectors
    e = S._embeddings(spark, sf_dir)
    twins = (
        S._einc_arrival_frame(e)
        .filter(f"vec_id >= {_TWIN_OFFSET}")
        .orderBy("vec_id")
        .collect()
    )
    assert {r["vec_id"] for r in twins} == set(appended)
    books = S._pq_codebooks(spark, sf_dir, e)
    cents = S._ivf_centroids(spark, sf_dir, e)
    mat = np.stack([np.asarray(r["vec"], dtype=np.float64) for r in twins])
    fresh_codes = S._pq_encode_np(mat, books)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    fresh_cells = np.argsort(-(unit @ cents.T), kind="stable", axis=1)[:, 0]
    for i, r in enumerate(twins):
        cell, codes = appended[r["vec_id"]]
        assert cell == fresh_cells[i], (r["vec_id"], cell, fresh_cells[i])
        assert codes == tuple(int(c) for c in fresh_codes[i]), r["vec_id"]


def test_atomic_installers_concurrent_writer_race(spark, sf_dir, tmp_path):
    """Two writers racing the staged-write installers leave EXACTLY one
    valid generation and both readers agree (r14 verdict task #6 — the
    one multi-writer discipline the executed-layout family hadn't
    pinned). Directory installer (catalog.install): the loser's
    os.rename onto the winner's directory fails, its staging is
    cleaned, the winner's content survives byte-identical. File
    installer (the .npy centroid/codebook recipe): both writers are
    bit-identical by trainer determinism, so either rename order leaves
    one valid loadable artifact — losing the race just means loading
    the winner's file."""
    import os

    import numpy as np

    from projektdataengineering_spark.catalog import install

    final = str(tmp_path / "idx")

    def writer(tag):
        def write(p):
            os.makedirs(p)
            with open(os.path.join(p, "part-0.txt"), "w") as fh:
                fh.write(tag)
        return write

    def racing_writer(p):
        writer("A")(p)
        # B completes its ENTIRE install while A sits between staging
        # and rename — the worst-case interleaving
        install(final, writer("B"))

    install(final, racing_writer)  # A stages, B wins, A loses
    assert sorted(os.listdir(tmp_path)) == ["idx"], "loser staging must be GCed"
    with open(os.path.join(final, "part-0.txt")) as fh:
        assert fh.read() == "B", "winner's generation must survive intact"
    # idempotent re-install over an existing generation: untouched
    install(final, writer("C"))
    with open(os.path.join(final, "part-0.txt")) as fh:
        assert fh.read() == "B"

    # .npy file installer: stage both, rename in either order — content
    # is bit-identical by determinism, so last-rename-wins is benign
    arr = np.arange(8, dtype=np.float64)
    path = str(tmp_path / "cents.npy")
    t1, t2 = f"{path}.1.tmp.npy", f"{path}.2.tmp.npy"
    np.save(t1, arr)
    np.save(t2, arr)
    os.rename(t1, path)      # writer 1 wins
    os.rename(t2, path)      # writer 2 'loses': atomic replace, same bytes
    np.testing.assert_array_equal(np.load(path), arr)
    assert not os.path.exists(t1) and not os.path.exists(t2)


def test_ivfpq_sqrtk_regime_recall_floor(spark, sf_dir, emb_matrix):
    """The √N-K regime probe (ivfpq_top3_sqrtk) must stay a USEFUL
    index at its measured speed: recall@3 against the exact numpy
    baseline over the probed query budget clears the IVFADC
    certification bound. Guards the SCALING.md §1c row — a sub-linear
    slope from a recall-collapsed geometry would be a sham
    measurement."""
    import numpy as np

    from projektdataengineering_spark.queries import similarity as S

    ids, m = emb_matrix
    cos = _numpy_cosine_matrix(m)
    np.fill_diagonal(cos, -np.inf)
    exact_top3 = {
        int(ids[i]): {int(ids[j]) for j in np.argsort(-cos[i], kind="stable")[:3]}
        for i in range(len(ids))
    }
    got = S.ivfpq_top3_sqrtk(spark, sf_dir).collect()
    by_q: dict[int, set[int]] = {}
    for r in got:
        by_q.setdefault(r["id_q"], set()).add(r["id_n"])
    assert by_q, "probe budget must select queries at this SF"
    hits = sum(len(neigh & exact_top3[q]) for q, neigh in by_q.items())
    recall = hits / (3 * len(by_q))
    # √N-K probes a SMALLER corpus fraction than the fixture geometry
    # by design; the floor is the registered certification bound
    assert recall >= S._PQ_RECALL_BOUND, recall


def test_merge_vacuum_gc_precision_and_byte_identity(spark, sf_dir):
    """pipeline_merge_vacuum: the snapshot-expiry GC deletes EXACTLY
    the pool files only the expired v0 references; every retained pool
    file is byte-identical to its counterpart in the published
    generation dirs (which the vacuum must never touch); the v0
    manifest is gone; a re-vacuum is a no-op."""
    import filecmp
    import json
    import os
    import shutil

    from projektdataengineering_spark.queries import layout as L

    gens = L._merge_generations(spark, sf_dir)
    root = artifact("merge", sf_dir, part="vtable", inputs=gens)
    if os.path.isdir(root):
        shutil.rmtree(root)

    # build WITHOUT vacuuming to capture the pre-expiry reference sets
    L._build_vtable(spark, sf_dir)
    refs = {}
    for v in (0, 1, 2):
        with open(L._vtable_manifest(root, v)) as fh:
            refs[v] = set(json.load(fh))
    only_v0 = refs[0] - refs[1] - refs[2]
    retained = refs[1] | refs[2]
    assert only_v0, "fixture must give v0 some private files to GC"
    # gen 2 is a partial rollout (user_id % 4 < 2), so copy-on-write
    # GUARANTEES shared files between the retained generations at every
    # SF; v0<->v1 sharing exists only where gen 1's changelog leaves a
    # bucket untouched (true at larger SFs, not pinned here)
    assert refs[1] & refs[2], "copy-on-write must share files v1<->v2"

    stats = L._vacuum_expired_versions(root)
    assert stats["expired_manifests"] == 1
    assert stats["n_files_deleted"] == len(only_v0)
    assert stats["n_files_retained"] == len(retained)
    assert not os.path.exists(L._vtable_manifest(root, 0))

    # pool == retained reference set, exactly
    pool = os.path.join(root, "files")
    on_disk = {
        f"{b}/{f}"
        for b in os.listdir(pool)
        for f in os.listdir(os.path.join(pool, b))
    }
    assert on_disk == retained

    # every retained pool file byte-identical to its published source
    gens = gens[::-1]  # merged2, merged, base
    for rel in sorted(retained):
        src = next(
            os.path.join(g, rel) for g in gens
            if os.path.exists(os.path.join(g, rel))
        )
        assert filecmp.cmp(os.path.join(pool, rel), src, shallow=False), rel

    # published generation dirs untouched: base still holds v0's
    # private files even though the pool GC'd them
    for rel in sorted(only_v0):
        assert os.path.exists(os.path.join(gens[2], rel)), rel

    # re-vacuum: idempotent no-op
    stats2 = L._vacuum_expired_versions(root)
    assert stats2["expired_manifests"] == 0
    assert stats2["n_files_deleted"] == 0

    # the registered query over the vacuumed root replays byte-stable
    r1 = sorted(map(tuple, L.pipeline_merge_vacuum(spark, sf_dir).collect()))
    r2 = sorted(map(tuple, L.pipeline_merge_vacuum(spark, sf_dir).collect()))
    assert r1 == r2 and len(r1) > 0


def test_einc_probe_covers_every_exact_threshold_pair(spark, sf_dir):
    """Zero probe-vs-exact disagreements at the CANDIDATE level (r13
    ADVICE): dedup_embedding_incremental certifies an approximate IVF
    probe (nprobe cells; batch members visible only via their rank-1
    cell) against an exact all-pairs oracle. The driver hash only
    checks the min-id VERDICTS, so a missed near-threshold pair could
    hide until fixture drift flips a verdict. This test recomputes the
    exact ≥-τ pair set in numpy and asserts every such pair is inside
    the probed candidate geometry — fixture or hyperparameter drift
    that opens a recall gap fails HERE, before the driver round."""
    import numpy as np

    from projektdataengineering_spark.queries import similarity as S
    from projektdataengineering_spark.queries.dedup import (
        EMBEDDING_DUP_THRESHOLD,
    )

    batch_df, _ = S._einc_probe_frames(spark, sf_dir)
    bp = batch_df.toPandas()  # vec_id, vec, cell, probes
    corpus = spark.read.parquet(artifact("embed_ivf_index", sf_dir)).toPandas()

    def unit(col):
        m = np.stack([np.asarray(v, dtype=np.float64) for v in col])
        return m / np.linalg.norm(m, axis=1, keepdims=True)

    bq, cm = unit(bp["vec"]), unit(corpus["vec"])
    ids_b = bp["vec_id"].to_numpy()
    ids_c = corpus["vec_id"].to_numpy()
    probes = [set(p) for p in bp["probes"]]
    cell_b = bp["cell"].to_numpy()
    cell_c = corpus["cell"].to_numpy()
    tau = EMBEDDING_DUP_THRESHOLD

    # exact batch↔corpus pairs: candidate iff the member's cell is probed
    qi, mi = np.nonzero(bq @ cm.T >= tau)
    n_exact_c = len(qi)
    for q, m in zip(qi, mi):
        assert cell_c[m] in probes[q], (
            f"probe missed corpus pair ({ids_b[q]}, {ids_c[m]}): "
            f"member cell {cell_c[m]} not in probes {probes[q]}"
        )
    # exact batch↔batch pairs, in the direction the verdict consumes
    # them (first-wins: the LATER id is the query, the earlier one the
    # member — visible only through its rank-1 cell)
    bb = bq @ bq.T
    np.fill_diagonal(bb, -np.inf)
    qi, mi = np.nonzero(bb >= tau)
    n_exact_b = 0
    for q, m in zip(qi, mi):
        if ids_b[m] >= ids_b[q]:
            continue
        n_exact_b += 1
        assert cell_b[m] in probes[q], (
            f"probe missed batch pair ({ids_b[q]}, {ids_b[m]}): "
            f"member cell {cell_b[m]} not in probes {probes[q]}"
        )
    # the fixture must actually exercise the property (planted twins)
    assert n_exact_c > 0 and n_exact_b > 0, (n_exact_c, n_exact_b)


def test_incremental_neardup_index_reuse_and_partition(spark, sf_dir):
    """dedup_incremental_neardup (round 12): (a) the corpus signature
    index is built at most ONCE per corpus fingerprint and every later
    call probes the persisted parquet instead of re-signing the corpus
    (counter + inputFiles proof — the sim_cosine_ivf_reuse contract
    applied to dedup); (b) the verdict table partitions the batch:
    keep XOR (a dup_of_* points at a strictly earlier/corpus doc),
    and corpus matches take precedence over batch-internal ones."""
    import os
    import shutil

    from projektdataengineering_spark.queries import pipeline_ops as P

    path = artifact("neardup_index", sf_dir)
    if os.path.isdir(path):
        shutil.rmtree(path)

    builds0 = BUILDS["neardup_index"]
    r1 = P.dedup_incremental_neardup(spark, sf_dir)
    rows1 = sorted(map(tuple, r1.collect()))
    assert BUILDS["neardup_index"] == builds0 + 1, "first call must build"
    assert os.path.isdir(path), "index must be persisted"

    r2 = P.dedup_incremental_neardup(spark, sf_dir)
    rows2 = sorted(map(tuple, r2.collect()))
    assert BUILDS["neardup_index"] == builds0 + 1, "second call must NOT rebuild"
    assert rows1 == rows2

    # the probe plan reads the CORPUS side from the index parquet
    assert any(path in f for f in r2.inputFiles()), (path, r2.inputFiles())

    # verdict partition: keep ⟺ no dup pointer; pointers precede the doc
    n_keep = 0
    for doc_id, dup_c, dup_b, keep in rows1:
        assert keep == (dup_c is None and dup_b is None), (doc_id, dup_c, dup_b, keep)
        if dup_b is not None:
            assert dup_c is None and dup_b < doc_id, (doc_id, dup_c, dup_b)
        n_keep += bool(keep)
    assert 0 < n_keep <= len(rows1)
    # the fixture's near-dup mass guarantees at least one corpus hit
    assert any(r[1] is not None for r in rows1), "no corpus dup found"


def test_merge_replay_is_byte_identical_and_timetravel_consistent(spark, sf_dir):
    """O4 retry semantics certified FROM DISK (round 12): re-invoking
    the executed MERGE with the same changelog must leave every byte
    of both table versions untouched (content-addressed reuse — a
    retry never rewrites), and the version-pinned time-travel read
    must see v1 − v0 deltas that match the merge audit's actions
    (inserts grow a bucket's key count, deletes shrink it)."""
    import hashlib

    from projektdataengineering_spark.queries import layout as L

    # first apply (or reuse of a prior run — either way installs all)
    audit1 = {tuple(r[:2]): tuple(r[2:]) for r in L.pipeline_merge_apply(
        spark, sf_dir).collect()}
    base_path, merged_path = L._merge_versions(spark, sf_dir)
    snap_base = _tree_digest(base_path)
    snap_merged = _tree_digest(merged_path)
    assert snap_base and snap_merged

    # replay: same changelog, same invocation
    audit2 = {tuple(r[:2]): tuple(r[2:]) for r in L.pipeline_merge_apply(
        spark, sf_dir).collect()}
    assert audit1 == audit2
    assert _tree_digest(base_path) == snap_base
    assert _tree_digest(merged_path) == snap_merged

    # time-travel consistency: per bucket, v1 keys = v0 keys
    # + inserts − deletes per the audit
    tt = L.pipeline_merge_timetravel(spark, sf_dir).collect()
    v0 = {r["bucket"]: r["n_keys"] for r in tt if r["version"] == 0}
    v1 = {r["bucket"]: r["n_keys"] for r in tt if r["version"] == 1}
    for b in set(v0) | set(v1):
        ins = audit1.get((b, "insert"), (0,))[0]
        dels = audit1.get((b, "delete"), (0,))[0]
        assert v1.get(b, 0) == v0.get(b, 0) + ins - dels, (b, v0, v1, audit1)


def test_merge_evolve_schema_on_disk_and_replay(spark, sf_dir):
    """pipeline_merge_evolve: the v2 table must be a GENUINELY evolved
    table on disk — at least one rewritten bucket's files carry the new
    d2_events column and at least one copied bucket's files do NOT
    (byte-identical to their v1 originals) — and a replay must leave
    every v2 byte unchanged (the merge_apply content-addressed
    discipline). Read-side: the backfilled column is exactly 0 on every
    copied-bucket row."""
    import hashlib
    import os

    import pyarrow.parquet as pqt

    from projektdataengineering_spark.queries import layout as L

    rows1 = sorted(map(tuple, L.pipeline_merge_evolve(spark, sf_dir).collect()))
    _, v1_path, v2_path = L._merge_generations(spark, sf_dir)

    def bucket_schemas(root):
        out = {}
        for name in sorted(os.listdir(root)):
            if not name.startswith("bucket="):
                continue
            for fn in sorted(os.listdir(os.path.join(root, name))):
                if fn.endswith(".parquet"):
                    sch = pqt.ParquetFile(
                        os.path.join(root, name, fn)
                    ).schema_arrow
                    out[name] = "d2_events" in sch.names
                    break
        return out

    schemas = bucket_schemas(v2_path)
    evolved = {b for b, has in schemas.items() if has}
    legacy = {b for b, has in schemas.items() if not has}
    assert evolved and legacy, schemas  # both generations coexist

    # copied buckets are byte-identical to their v1 originals
    def digest_dir(p):
        out = {}
        for fn in sorted(os.listdir(p)):
            full = os.path.join(p, fn)
            if os.path.isfile(full):
                with open(full, "rb") as fh:
                    out[fn] = hashlib.sha256(fh.read()).hexdigest()
        return out

    for b in legacy:
        assert digest_dir(os.path.join(v2_path, b)) == digest_dir(
            os.path.join(v1_path, b)
        ), b

    # replay: byte-identical v2, identical certified rows
    snap = {
        os.path.join(dp, fn): os.path.getmtime(os.path.join(dp, fn))
        for dp, _, fns in os.walk(v2_path) for fn in fns
    }
    rows2 = sorted(map(tuple, L.pipeline_merge_evolve(spark, sf_dir).collect()))
    assert rows2 == rows1
    snap2 = {
        os.path.join(dp, fn): os.path.getmtime(os.path.join(dp, fn))
        for dp, _, fns in os.walk(v2_path) for fn in fns
    }
    assert snap2 == snap  # retry never rewrites

    # read-side backfill: copied-bucket rows surface d2_events = 0
    from pyspark.sql import functions as F

    legacy_buckets = [int(b.split("=", 1)[1]) for b in legacy]
    v2 = spark.read.option("mergeSchema", "true").parquet(v2_path)
    assert (
        v2.filter(F.col("bucket").isin(legacy_buckets))
        .filter(F.coalesce(F.col("d2_events"), F.lit(0)) != 0)
        .count()
        == 0
    )
    # and v2 rows in evolved buckets carry real provenance mass
    assert (
        v2.filter(F.col("d2_events") > 0).count() > 0
    )


def test_kanon_apply_release_is_k_anonymous_from_disk(spark, sf_dir):
    """pipeline_kanon_apply: the physically released table must hold
    NO suppressed rows, every published (lang, source, level,
    band_label) class must reach k, the release+suppression must
    partition the corpus exactly, and a replay must leave every
    released byte unchanged (content-addressed, the merge_apply
    discipline)."""
    import hashlib

    from projektdataengineering_spark.queries import pipeline_ops as P

    manifest1 = sorted(map(tuple, P.pipeline_kanon_apply(spark, sf_dir).collect()))
    released_path = artifact("kanon", sf_dir, part="released")

    snap = _tree_digest(released_path)
    assert snap, "release must be physically installed"

    rel = spark.read.parquet(released_path)
    assert rel.filter("level >= 3 OR band_label = 'suppressed'").count() == 0
    classes = rel.groupBy("lang", "source", "level", "band_label").count()
    assert classes.filter(f"count < {P._KANON_K}").count() == 0, (
        "a published class is under k")

    # release + suppression partition the corpus
    from projektdataengineering_spark.catalog import load_table
    total = load_table(spark, sf_dir, "documents").count()
    n_rel = sum(r[2] for r in manifest1)
    n_sup = sum(r[3] for r in manifest1)
    assert n_rel == rel.count() and n_rel + n_sup == total

    # replay: identical manifest, identical bytes on disk
    manifest2 = sorted(map(tuple, P.pipeline_kanon_apply(spark, sf_dir).collect()))
    assert manifest1 == manifest2
    assert _tree_digest(released_path) == snap


def test_embedding_index_append_is_exact_and_idempotent(spark, sf_dir):
    """dedup_embedding_index_append: the installed v2 must equal
    v1 ∪ (exactly the keep=true batch vectors, carrying the rank-1
    cells the shared _ivf_assign geometry dictates) — verified
    row-for-row against the verdict query and a recomputed assignment
    — and re-invoking the append must leave every v2 byte unchanged
    (content-addressed replay, the merge_apply discipline)."""
    import hashlib
    import os

    from pyspark.sql import functions as F
    from projektdataengineering_spark.queries import similarity as S

    audit1 = {r["version"]: tuple(r[1:]) for r in
              S.dedup_embedding_index_append(spark, sf_dir).collect()}
    v1_path = artifact("embed_ivf_index", sf_dir)
    v2_path = artifact("embed_ivf_index", sf_dir, gen="v2")

    key = lambda r: (r["vec_id"], r["cell"], tuple(r["vec"]))
    v1_rows = {key(r) for r in spark.read.parquet(v1_path).collect()}
    v2_rows = {key(r) for r in spark.read.parquet(v2_path).collect()}
    verdict = S.dedup_embedding_incremental(spark, sf_dir)
    kept_ids = {r["vec_id"] for r in verdict.filter("keep").collect()}

    added = v2_rows - v1_rows
    assert v1_rows <= v2_rows, "append must not disturb v1 entries"
    assert {r[0] for r in added} == kept_ids, "v2 − v1 must be the keepers"
    assert audit1[2][0] - audit1[1][0] == len(kept_ids)

    # the installed cells match a fresh assignment of the same vectors
    batch, _ = S._einc_probe_frames(spark, sf_dir)
    expected = {key(r) for r in
                batch.filter(F.col("vec_id").isin(list(kept_ids)))
                .select("vec_id", "cell", "vec").collect()}
    assert added == expected

    snap = _tree_digest(v2_path)
    audit2 = {r["version"]: tuple(r[1:]) for r in
              S.dedup_embedding_index_append(spark, sf_dir).collect()}
    assert audit1 == audit2
    assert _tree_digest(v2_path) == snap


def test_corpus_delta_funnel_partitions_and_replays(spark, sf_dir):
    """pipeline_corpus_delta: the attrition funnel must PARTITION the
    batch exactly (n_batch = dup_corpus + dup_batch + quality_fail +
    admitted per cell), the on-disk delta must hold exactly the
    keep∧quality docs, and a replay must leave every delta byte
    unchanged (content-addressed, the merge_apply discipline)."""
    import hashlib

    from projektdataengineering_spark.queries import pipeline_ops as P

    m1 = sorted(map(tuple, P.pipeline_corpus_delta(spark, sf_dir).collect()))
    for lang, source, n_batch, dc, db, qf, adm, toks in m1:
        assert n_batch == dc + db + qf + adm, (lang, source, m1)

    delta_path = artifact("corpus_delta", sf_dir, part="delta")
    delta_ids = {r["doc_id"] for r in spark.read.parquet(delta_path).collect()}
    verdict = P.dedup_incremental_neardup(spark, sf_dir)
    kept = {r["doc_id"] for r in verdict.filter("keep").collect()}
    assert delta_ids <= kept, "a published doc was not a keeper"
    assert sum(r[6] for r in m1) == len(delta_ids)

    snap = _tree_digest(delta_path)
    m2 = sorted(map(tuple, P.pipeline_corpus_delta(spark, sf_dir).collect()))
    assert m1 == m2
    assert _tree_digest(delta_path) == snap


def test_neardup_index_append_is_exact_and_idempotent(spark, sf_dir):
    """dedup_neardup_index_append: the installed v2 must equal
    v1 ∪ (signatures of exactly the keep=true SIGNED batch docs) —
    verified row-for-row against the verdict query — and re-invoking
    the append must leave every v2 byte unchanged (content-addressed
    replay, the merge_apply discipline)."""
    import hashlib
    import os

    from projektdataengineering_spark.queries import pipeline_ops as P

    audit1 = {r["version"]: tuple(r[1:]) for r in
              P.dedup_neardup_index_append(spark, sf_dir).collect()}
    v1_path = artifact("neardup_index", sf_dir)
    v2_path = artifact("neardup_index", sf_dir, gen="v2")

    v1_rows = {tuple(r) for r in spark.read.parquet(v1_path).collect()}
    v2_rows = {tuple(r) for r in spark.read.parquet(v2_path).collect()}
    verdict = P.dedup_incremental_neardup(spark, sf_dir)
    kept_ids = {r["doc_id"] for r in verdict.filter("keep").collect()}

    added = v2_rows - v1_rows
    assert v1_rows <= v2_rows, "append must not disturb v1 entries"
    assert {r[0] for r in added} <= kept_ids, "only kept docs may enter v2"
    # every kept SIGNED doc is present; kept unsigned docs add nothing
    batch_signed = {
        r[0] for r in spark.read.parquet(v2_path).collect()
    } - {r[0] for r in v1_rows}
    n_kept_signed = len(added)
    assert audit1[2][0] - audit1[1][0] == n_kept_signed
    assert batch_signed <= kept_ids

    snap = _tree_digest(v2_path)
    audit2 = {r["version"]: tuple(r[1:]) for r in
              P.dedup_neardup_index_append(spark, sf_dir).collect()}
    assert audit1 == audit2
    assert _tree_digest(v2_path) == snap


def test_index_vacuum_removes_exactly_orphans(spark, sf_dir):
    """pipeline_index_vacuum: the generation GC deletes EXACTLY the
    orphans of each index line (stale-geometry v2s, legacy v2s,
    crashed staged-write temps), never a retained generation's bytes,
    never a sibling line (a different tag is another LIVE
    configuration); the audit is deterministic across re-runs."""
    import hashlib
    import os
    import shutil

    from projektdataengineering_spark.queries import maintenance as M

    audit1 = sorted(
        map(tuple, M.pipeline_index_vacuum(spark, sf_dir).collect())
    )
    assert all(row[4] == 1 for row in audit1), audit1  # planted orphan only

    v1 = artifact("embed_ivf_index", sf_dir)
    v2 = artifact("embed_ivf_index", sf_dir, gen="v2")
    before = {p: _tree_digest(p) for p in (v1, v2)}

    # plant three orphan shapes in the embedding line (a stale-geometry
    # v2 from a retune, a crashed staged write of v1 in
    # catalog.install's real `{path}.tmp.<pid>.<hex>` shape, and a
    # crashed CUTOVER stage of a retrain generation) + one DECOY
    # sibling line and one COMPLETED retrain generation (both live
    # configurations that must survive)
    stale_geom = f"{v1}_v2-e99-o123-a0.5"
    crashed_tmp = f"{v1}.tmp.777.deadbeef"
    gen_tmp = f"{v1}_g1-e99-o123-a0.5.tmp.777.deadbeef"
    gen_live = f"{v1}_g7-e99-o123-a0.5"
    decoy = os.path.join(os.path.dirname(v1), "cells_decoytag_k16")
    for p in (stale_geom, crashed_tmp, gen_tmp, gen_live, decoy):
        shutil.copytree(v1, p)
    try:
        audit2 = sorted(
            map(tuple, M.pipeline_index_vacuum(spark, sf_dir).collect())
        )
        # deterministic by construction: pre-clean sweeps the planted
        # orphans, then exactly one re-planted orphan is expired
        assert audit2 == audit1
        assert not os.path.exists(stale_geom), "stale-geometry v2 must be GC'd"
        assert not os.path.exists(crashed_tmp), "crashed temp must be GC'd"
        assert not os.path.exists(gen_tmp), "crashed cutover stage must be GC'd"
        assert os.path.isdir(gen_live), "completed retrain gen must SURVIVE"
        assert os.path.isdir(decoy), "sibling line must SURVIVE the vacuum"
        # retained generations byte-identical through the vacuum
        assert {p: _tree_digest(p) for p in (v1, v2)} == before
    finally:
        for p in (decoy, gen_live):
            if os.path.isdir(p):
                shutil.rmtree(p)


def test_commit_generation_cutover_expires_superseded(spark, sf_dir):
    """commit_generation_cutover: the host's cutover commit must expire
    EXACTLY the superseded retrain generations (1..live-1) of both
    consumer lines AND the matching gen-keyed centroids — never the
    live generation, never the gen-0 line (v1/v2 — corpus-version
    retirement is a different decision), never crashed .tmp. stages
    (the vacuum's orphans), never sibling lines — and a second commit
    must find nothing (idempotence)."""
    import os
    import shutil

    from projektdataengineering_spark.queries import maintenance as M
    from projektdataengineering_spark.queries import similarity as S

    # materialize the gen-0 lines so the parents exist
    S.sim_ivfpq_index_append(spark, sf_dir)
    S.dedup_embedding_index_append(spark, sf_dir)

    pq_v1 = artifact("ivfpq_codes", sf_dir)
    pq_v2 = artifact("ivfpq_codes", sf_dir, gen="v2")
    em_v1 = artifact("embed_ivf_index", sf_dir)
    em_v2 = artifact("embed_ivf_index", sf_dir, gen="v2")

    # plant generation artifacts by copy (the commit verb's contract is
    # path arithmetic — training real gen-2 lines would test the same
    # rmtree): superseded g1, live g2, a crashed g1 stage, a decoy line
    plants = {
        "pq_g1": artifact("ivfpq_codes", sf_dir, gen=1),
        "pq_g2": artifact("ivfpq_codes", sf_dir, gen=2),
        "em_g1": artifact("embed_ivf_index", sf_dir, gen=1),
        "em_g2": artifact("embed_ivf_index", sf_dir, gen=2),
        "pq_g1_tmp": artifact("ivfpq_codes", sf_dir, gen=1) + ".tmp.777.feedface",
        "decoy": os.path.join(os.path.dirname(pq_v1), "codes_decoytag_g1-e9-o9-a9"),
    }
    cents_g1 = artifact("ivf", sf_dir, gen=1)
    cents_g2 = artifact("ivf", sf_dir, gen=2)
    for p in plants.values():
        if os.path.isdir(p):
            shutil.rmtree(p)
        shutil.copytree(pq_v1, p)
    for c in (cents_g1, cents_g2):
        if os.path.isdir(c):
            shutil.rmtree(c)
        with open(c, "w") as fh:
            fh.write("stub centroids\n")
    before = {p: _tree_digest(p) for p in (pq_v1, pq_v2, em_v1, em_v2)}

    try:
        n = M.commit_generation_cutover(sf_dir, live_gen=2)
        # expired: pq g1, em g1, cents g1 — exactly three
        assert n == 3, n
        assert not os.path.exists(plants["pq_g1"]), "superseded code gen"
        assert not os.path.exists(plants["em_g1"]), "superseded member gen"
        assert not os.path.exists(cents_g1), "superseded centroids"
        assert os.path.isdir(plants["pq_g2"]), "live code gen must survive"
        assert os.path.isdir(plants["em_g2"]), "live member gen must survive"
        assert os.path.exists(cents_g2), "live centroids must survive"
        assert os.path.isdir(plants["pq_g1_tmp"]), "crashed stage is the vacuum's"
        assert os.path.isdir(plants["decoy"]), "sibling line must survive"
        assert {p: _tree_digest(p) for p in (pq_v1, pq_v2, em_v1, em_v2)} == before, (
            "gen-0 lines must be byte-untouched by the commit"
        )
        assert M.commit_generation_cutover(sf_dir, live_gen=2) == 0, "idempotent"
    finally:
        for p in plants.values():
            if os.path.isdir(p):
                shutil.rmtree(p)
        for c in (cents_g1, cents_g2):
            if os.path.exists(c):
                os.unlink(c)


def test_v2_keys_fold_each_family_batch_definition(sf_dir, monkeypatch):
    """Every append-family v2 key must fold that family's COMPLETE
    arrival-batch definition (r16 ADVICE + verdict task): retuning the
    neardup split constant or the embedding fresh-quarter split must
    land a NEW v2 key (rebuild), never reuse a v2 built for a
    different batch — while staying inside the line-membership pattern
    the vacuum's _line_members GC recognizes."""
    import os

    from projektdataengineering_spark.queries import pipeline_ops as P
    from projektdataengineering_spark.queries import similarity as S

    # neardup: the split position is the batch definition
    nd = artifact("neardup_index", sf_dir, gen="v2")
    monkeypatch.setattr(P, "_INCR_BATCH_POS", P._INCR_BATCH_POS + 3)
    nd_retuned = artifact("neardup_index", sf_dir, gen="v2")
    assert nd != nd_retuned, "neardup retune must change the v2 key"
    assert f"-p{P._INCR_BATCH_POS}" in os.path.basename(nd_retuned)

    # embedding: twins + the fresh-quarter split — the v2 key itself
    # must fold the split (not merely inherit it from the v1 tag)
    def v2_batch(kind):  # the batch definition a kind's v2 suffix folds
        return KINDS[kind][1]()[1]["v2"]

    em_tag = v2_batch("embed_ivf_index")
    assert em_tag["p"] == S._EINC_BATCH_POS
    em = artifact("embed_ivf_index", sf_dir, gen="v2")
    monkeypatch.setattr(S, "_EINC_BATCH_POS", S._EINC_BATCH_POS + 3)
    assert v2_batch("embed_ivf_index") != em_tag, "einc retune must change the tag"
    assert artifact("embed_ivf_index", sf_dir, gen="v2") != em
    assert os.path.basename(artifact("embed_ivf_index", sf_dir, gen="v2")).endswith(
        f"-p{S._EINC_BATCH_POS}"
    ), "the v2 key itself must fold the split"
    # the twin-only shared tag is deliberately split-free (the IVFADC
    # family's arrivals carry no split)
    assert "p" not in v2_batch("ivfpq_codes")

    # both retuned keys still match the vacuum's v2 line pattern
    for v1p, v2p in (
        (artifact("neardup_index", sf_dir), nd_retuned),
        (artifact("embed_ivf_index", sf_dir), artifact("embed_ivf_index", sf_dir, gen="v2")),
    ):
        assert os.path.basename(v2p).startswith(
            f"{os.path.basename(v1p)}_v2"
        ), "retuned v2 must stay inside its line's GC pattern"


def test_member_skew_audit_matches_member_line(spark, sf_dir):
    """sim_ivf_member_skew must measure the member parquet itself:
    v2 − v1 entry growth equals the kept-arrival count from the
    verdict query, both generations clear the declared bound on the
    fixture, and the audit is replay-stable."""
    from projektdataengineering_spark.queries import similarity as S

    rows = {
        r["version"]: r
        for r in S.sim_ivf_member_skew(spark, sf_dir).collect()
    }
    assert set(rows) == {1, 2}
    verdict = S.dedup_embedding_incremental(spark, sf_dir)
    n_kept = verdict.filter("keep").count()
    assert rows[2]["n_entries"] - rows[1]["n_entries"] == n_kept
    assert not rows[1]["needs_retrain"] and not rows[2]["needs_retrain"]
    assert rows[2]["skew_ratio"] < S._IVF_SKEW_BOUND
    replay = {
        r["version"]: r
        for r in S.sim_ivf_member_skew(spark, sf_dir).collect()
    }
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in replay.items()
    }


def test_ivfpq_cell_skew_flip_and_retrain_generation(spark, sf_dir):
    """The append-forever retrain loop: the fixture's twin append
    preserves the trained distribution (needs_retrain False on both
    generations, fixture skew well under the bound), a hot-spot
    arrival batch concentrating in one cell FLIPS the verdict, and the
    retrain path trains under the BUMPED generation key — never
    touching the gen-0 centroids the live code tables were encoded
    against — with read-or-build reuse on the bumped key too."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from projektdataengineering_spark.queries import similarity as S

    rows = {
        r["version"]: r for r in S.sim_ivfpq_cell_skew(spark, sf_dir).collect()
    }
    assert not rows[1]["needs_retrain"] and not rows[2]["needs_retrain"]
    assert rows[2]["n_entries"] > rows[1]["n_entries"]
    assert rows[2]["skew_ratio"] < S._IVF_SKEW_BOUND
    assert S.ivfpq_retrain_if_skewed(spark, sf_dir) == (False, 0)

    # hot-spot append: the arrivals all land in the fullest cell;
    # doubling the corpus into one list forces max/(N/K) ≥ K/2 > bound
    v1 = spark.read.parquet(artifact("ivfpq_codes", sf_dir))
    n = v1.count()
    m1 = v1.groupBy("cell").agg(F.count(F.lit(1)).alias("mass"))
    hot_cell = m1.orderBy(F.desc("mass"), "cell").first()["cell"]
    skewed = m1.withColumn(
        "mass",
        F.when(F.col("cell") == hot_cell, F.col("mass") + F.lit(n)).otherwise(
            F.col("mass")
        ),
    )
    flipped = S._occupancy_audit(2, skewed).collect()[0]
    assert flipped["needs_retrain"], flipped
    assert flipped["skew_ratio"] > S._IVF_SKEW_BOUND

    # retrain wiring: bumped key, gen-0 untouched, reuse on re-call
    p0 = artifact("ivf", sf_dir)
    p1 = artifact("ivf", sf_dir, gen=1)
    assert p1 != p0
    if os.path.exists(p1):
        shutil.rmtree(p1)
    S._IVF_CENTROID_CACHE.pop(p1, None)
    mtime0 = os.path.getmtime(p0)
    trains0 = BUILDS["ivf"]
    try:
        cents = S.ivf_retrain_generation(spark, sf_dir, gen=1)
        assert BUILDS["ivf"] == trains0 + 1, "bumped key must train"
        assert os.path.exists(p1), "retrained centroids under the new key"
        assert os.path.getmtime(p0) == mtime0, "gen-0 centroids untouched"
        assert cents.shape == (S._IVF_K, S._IVF_DIM)
        S.ivf_retrain_generation(spark, sf_dir, gen=1)
        assert BUILDS["ivf"] == trains0 + 1, "bumped key must reuse too"
    finally:
        if os.path.exists(p1):
            shutil.rmtree(p1)
        S._IVF_CENTROID_CACHE.pop(p1, None)


def test_ivfpq_skew_cutover_builds_generation_line(spark, sf_dir, monkeypatch):
    """Tightening the declared bound below the fixture's natural v2
    skew forces the REAL trigger down the full cutover path, which
    must serve BOTH consumers of the shared quantizer under ONE
    generation key (r17): gen-1 centroids, a gen-1 code-table line
    re-encoding the v2 membership, AND a gen-1 MEMBER line
    re-assigning the member index's holdings all appear at bumped
    keys carrying the same _g1 tag; the gen-0 lines of both families
    stay byte-untouched; pipeline_index_vacuum treats both retrain
    generations as live configurations (not orphans); a second
    trigger call reuses all three artifacts without retraining,
    re-encoding or re-assigning; and the host loop is expressible:
    auditing the cut-over generation (current_gen=1) under the
    restored bound clears it, while auditing a generation that was
    never installed raises."""
    import hashlib
    import os
    import shutil

    import pytest as _pytest

    from projektdataengineering_spark.queries import maintenance as M
    from projektdataengineering_spark.queries import similarity as S

    v1 = artifact("ivfpq_codes", sf_dir)
    v2 = artifact("ivfpq_codes", sf_dir, gen="v2")
    g1 = artifact("ivfpq_codes", sf_dir, gen=1)
    em_v1 = artifact("embed_ivf_index", sf_dir)
    em_v2 = artifact("embed_ivf_index", sf_dir, gen="v2")
    mg1 = artifact("embed_ivf_index", sf_dir, gen=1)
    cpath1 = artifact("ivf", sf_dir, gen=1)
    for d in (g1, mg1):
        if os.path.isdir(d):
            shutil.rmtree(d)
    if os.path.exists(cpath1):
        shutil.rmtree(cpath1)
    S._IVF_CENTROID_CACHE.pop(cpath1, None)

    S.sim_ivfpq_index_append(spark, sf_dir)  # ensure v1+v2 on disk
    S.dedup_embedding_index_append(spark, sf_dir)  # ensure member v1+v2

    before = {p: _tree_digest(p) for p in (v1, v2, em_v1, em_v2)}
    bound0 = S._IVF_SKEW_BOUND
    monkeypatch.setattr(S, "_IVF_SKEW_BOUND", 1.0)  # fixture skew ~1.3
    trains0, enc0 = BUILDS["ivf"], BUILDS["ivfpq_codes"]
    mb0 = BUILDS["embed_ivf_index"]
    try:
        assert S.ivfpq_retrain_if_skewed(spark, sf_dir) == (True, 1)
        assert BUILDS["ivf"] == trains0 + 1, "cutover must retrain"
        assert BUILDS["ivfpq_codes"] == enc0 + 1, "cutover must re-encode"
        assert BUILDS["embed_ivf_index"] == mb0 + 1, "cutover must re-assign members"
        assert os.path.exists(cpath1), "gen-1 centroids at the bumped key"
        assert os.path.isdir(g1), "gen-1 code line at the bumped key"
        assert os.path.isdir(mg1), "gen-1 MEMBER line at the bumped key"
        # one generation key, two consumers: same _g1 tag fragment
        gen_frag = g1[len(v1):]
        assert gen_frag.startswith("_g1-") and mg1 == em_v1 + gen_frag
        cells = [d for d in os.listdir(g1) if d.startswith("cell=")]
        assert len(cells) > 1, "cutover line must stay cell-partitioned"
        g1_ids = {
            r["vec_id"]
            for r in spark.read.parquet(g1).select("vec_id").collect()
        }
        v2_ids = {
            r["vec_id"]
            for r in spark.read.parquet(v2).select("vec_id").collect()
        }
        assert g1_ids == v2_ids, "gen-1 must hold exactly the v2 membership"
        # the member cutover re-assigns exactly the member line's
        # holdings, with the cells the gen-1 quantizer dictates
        mg1_rows = {
            r["vec_id"]: r["cell"]
            for r in spark.read.parquet(mg1).select("vec_id", "cell").collect()
        }
        em_v2_ids = {
            r["vec_id"]
            for r in spark.read.parquet(em_v2).select("vec_id").collect()
        }
        assert set(mg1_rows) == em_v2_ids, (
            "gen-1 member line must hold exactly the member v2 holdings"
        )
        cents1 = S._ivf_centroids(spark, sf_dir, None, gen=1)  # cache hit
        holdings = spark.read.parquet(em_v2).select("vec_id", "vec")
        fresh_cells = {
            r["vec_id"]: r["cell"]
            for r in S._ivf_assign(
                holdings, spark.sparkContext.broadcast(cents1)
            ).select("vec_id", "cell").collect()
        }
        assert mg1_rows == fresh_cells, (
            "member cutover cells must match the gen-1 quantizer"
        )
        assert {p: _tree_digest(p) for p in (v1, v2, em_v1, em_v2)} == before, (
            "gen-0 lines of BOTH families must be byte-untouched"
        )
        # second trigger call: read-or-build reuse on ALL artifacts
        assert S.ivfpq_retrain_if_skewed(spark, sf_dir) == (True, 1)
        assert BUILDS["ivf"] == trains0 + 1
        assert BUILDS["ivfpq_codes"] == enc0 + 1
        assert BUILDS["embed_ivf_index"] == mb0 + 1
        # the host loop (r16 ADVICE): audit the cut-over generation
        # under the RESTORED bound — gen-1's natural skew clears it,
        # so the loop parks at (False, 1) instead of being stuck
        # re-answering (True, 1) forever
        monkeypatch.setattr(S, "_IVF_SKEW_BOUND", bound0)
        assert S.ivfpq_retrain_if_skewed(spark, sf_dir, current_gen=1) == (
            False,
            1,
        )
        # auditing a never-installed generation is a caller error
        with _pytest.raises(FileNotFoundError):
            S.ivfpq_retrain_if_skewed(spark, sf_dir, current_gen=7)
        # the vacuum must NOT expire either retrain generation
        M.pipeline_index_vacuum(spark, sf_dir).collect()
        assert os.path.isdir(g1), "code retrain gen survives the vacuum"
        assert os.path.isdir(mg1), "member retrain gen survives the vacuum"
    finally:
        for d in (g1, mg1):
            if os.path.isdir(d):
                shutil.rmtree(d)
        if os.path.exists(cpath1):
            shutil.rmtree(cpath1)
        S._IVF_CENTROID_CACHE.pop(cpath1, None)


def test_ivfpq_cutover_line_serves(spark, sf_dir, emb_matrix, monkeypatch):
    """The retrain generation must be a USEFUL index, not just bytes:
    probing the gen-1 code line with the gen-1 quantizer through the
    SHARED ADC kernel clears the IVFADC recall bound against an exact
    numpy baseline over the full v2 membership (corpus ∪ twins), and
    the gen-1 codes are byte-identical to a fresh shared-encoder pass
    under the retrained quantizer."""
    import os
    import shutil

    import numpy as np
    from pyspark.sql import functions as F

    from projektdataengineering_spark.queries import similarity as S
    from projektdataengineering_spark.queries.dedup import (
        _TWIN_AMPLITUDE,
        _TWIN_EVERY,
        _TWIN_OFFSET,
    )

    g1 = artifact("ivfpq_codes", sf_dir, gen=1)
    mg1 = artifact("embed_ivf_index", sf_dir, gen=1)
    cpath1 = artifact("ivf", sf_dir, gen=1)
    # clean slate (r16 review): leftover gen-1 artifacts from an
    # interrupted prior run would make this test certify stale bytes
    # instead of the current cutover path
    for d in (g1, mg1):
        if os.path.isdir(d):
            shutil.rmtree(d)
    if os.path.exists(cpath1):
        shutil.rmtree(cpath1)
    S._IVF_CENTROID_CACHE.pop(cpath1, None)
    monkeypatch.setattr(S, "_IVF_SKEW_BOUND", 1.0)  # fixture skew ~1.3
    try:
        assert S.ivfpq_retrain_if_skewed(spark, sf_dir) == (True, 1)

        # exact numpy baseline over the v2 membership
        ids, m = emb_matrix
        tsel = ids % _TWIN_EVERY == 0
        factors = (
            1.0
            + (_TWIN_AMPLITUDE * ((np.arange(m.shape[1]) % 7) - 3.0)) / 3.0
        )
        all_ids = np.concatenate([ids, ids[tsel] + _TWIN_OFFSET])
        am = np.vstack([m, m[tsel] * factors])
        cos = _numpy_cosine_matrix(am)
        np.fill_diagonal(cos, -np.inf)
        exact_top3 = {
            int(all_ids[i]): {
                int(all_ids[j])
                for j in np.argsort(-cos[i], kind="stable")[:3]
            }
            for i in range(len(all_ids))
        }

        # probe the gen-1 line through the shared production kernel
        e = S._embeddings(spark, sf_dir)
        twins = S._einc_arrival_frame(e).filter(
            F.col("vec_id") >= _TWIN_OFFSET
        )
        members = e.unionByName(twins).localCheckpoint()
        cents1 = S._ivf_centroids(spark, sf_dir, members, gen=1)  # reuse
        books = S._pq_codebooks(spark, sf_dir, e.localCheckpoint(eager=False))
        bc_c = spark.sparkContext.broadcast(cents1)
        bc_b = spark.sparkContext.broadcast(books)
        member_codes = spark.read.parquet(g1).select(
            F.col("cell").cast("int").alias("cell"), "vec_id", "codes"
        )
        assigned = S._ivf_assign(members, bc_c).localCheckpoint(eager=False)
        probes = assigned.select(
            F.explode("probes").alias("cell"),
            F.lit(1).alias("role"),
            "vec_id",
            F.lit(None).cast("array<int>").alias("codes"),
            "vec",
        )
        got = S._ivfpq_adc_rank(member_codes, probes, members, bc_b).collect()
        by_q: dict[int, set[int]] = {}
        for r in got:
            by_q.setdefault(r["id_q"], set()).add(r["id_n"])
        assert len(by_q) == len(all_ids), "every member must be served"
        hits = sum(len(n & exact_top3[q]) for q, n in by_q.items())
        recall = hits / (3 * len(by_q))
        assert recall >= S._PQ_RECALL_BOUND, recall

        # gen-1 codes ≡ fresh shared-encoder pass under cents1
        fresh = {
            r["vec_id"]: (r["cell"], tuple(r["codes"]))
            for r in S._encode_codes_frame(
                S._ivf_assign(members, bc_c), bc_b
            ).collect()
        }
        disk = {
            r["vec_id"]: (int(r["cell"]), tuple(r["codes"]))
            for r in spark.read.parquet(g1).collect()
        }
        assert disk == fresh, "cutover codes must match the shared encoder"
    finally:
        for d in (g1, mg1):
            if os.path.isdir(d):
                shutil.rmtree(d)
        if os.path.exists(cpath1):
            shutil.rmtree(cpath1)
        S._IVF_CENTROID_CACHE.pop(cpath1, None)


def test_qcls_model_artifact_reuse(spark, sf_dir):
    """r17 verdict task #6: the quality classifier's weight table must
    ship as a persisted model artifact — first scoring call installs
    it (builds-counter +1), a second call reuses the parquet (counter
    stable), and the artifact's parameters are exactly the
    deterministic derivation the oracle replays."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from projektdataengineering_spark.queries import mlprep as ML

    path = artifact("qcls_model", sf_dir)
    if os.path.isdir(path):
        shutil.rmtree(path)
    b0 = BUILDS["qcls_model"]
    out1 = {
        r["doc_id"]: (r["n_feats"], r["logit_sum"], r["keep"])
        for r in ML.pipeline_quality_classifier(spark, sf_dir).collect()
    }
    assert BUILDS["qcls_model"] == b0 + 1, "first call must install"
    assert os.path.isdir(path), "artifact parquet at the version key"
    out2 = {
        r["doc_id"]: (r["n_feats"], r["logit_sum"], r["keep"])
        for r in ML.pipeline_quality_classifier(spark, sf_dir).collect()
    }
    assert BUILDS["qcls_model"] == b0 + 1, "second call must reuse"
    assert out1 == out2
    # artifact parameters == the documented derivation (md5 nibbles)
    pos = lambda h, i: F.expr(
        f"locate(substr({h}, {i}, 1), '0123456789abcdef') - 1"
    )
    fresh = {
        r["bucket"]: r["w"]
        for r in spark.range(ML._QCLS_BUCKETS)
        .select(
            F.col("id").cast("long").alias("bucket"),
            (
                (pos("md5(concat(cast(id as string), '#w'))", 1) * 16
                 + pos("md5(concat(cast(id as string), '#w'))", 2))
                - 128
            ).cast("long").alias("w"),
        )
        .collect()
    }
    stored = {
        r["bucket"]: r["w"] for r in spark.read.parquet(path).collect()
    }
    assert stored == fresh and len(stored) == ML._QCLS_BUCKETS


def test_qcls_bigram_expression_total(spark):
    """r17 ADVICE: the bigram feature expression must be TOTAL — no
    branch may index past the array on short docs, so it survives
    ANSI-strict evaluation (the old sequence(1, size-1) arm produced
    the descending [1, 0] on 1-token docs and leaned on lazy F.when
    shielding the out-of-range ws[i])."""
    from pyspark.sql import functions as F

    expr = (
        "transform(slice(ws, 2, greatest(size(ws) - 1, 0)),"
        " (w, i) -> concat(ws[i], '_', w))"
    )
    df = spark.createDataFrame(
        [(1, []), (2, ["solo"]), (3, ["a", "b"]), (4, ["a", "b", "c"])],
        "doc_id int, ws array<string>",
    )
    ansi0 = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = {
            r["doc_id"]: r["bg"]
            for r in df.select("doc_id", F.expr(expr).alias("bg")).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi0)
    assert rows == {1: [], 2: [], 3: ["a_b"], 4: ["a_b", "b_c"]}


def test_commit_generation_cutover_refuses_missing_live_gen(spark, sf_dir):
    """r17 ADVICE (medium): the cutover commit must verify the claimed
    live generation's artifacts (code line, member line, centroids)
    exist BEFORE unlinking anything — a host bug passing live_gen=N+1
    pre-install must raise and delete nothing, not silently expire the
    serving generation."""
    import os
    import shutil

    import pytest as _pytest

    from projektdataengineering_spark.queries import maintenance as M
    from projektdataengineering_spark.queries import similarity as S

    S.sim_ivfpq_index_append(spark, sf_dir)
    pq_v1 = artifact("ivfpq_codes", sf_dir)
    g1 = artifact("ivfpq_codes", sf_dir, gen=1)
    g3_code = artifact("ivfpq_codes", sf_dir, gen=3)
    g3_member = artifact("embed_ivf_index", sf_dir, gen=3)
    g3_cents = artifact("ivf", sf_dir, gen=3)
    for p in (g1, g3_code, g3_member):
        if os.path.isdir(p):
            shutil.rmtree(p)
    if os.path.exists(g3_cents):
        shutil.rmtree(g3_cents)
    shutil.copytree(pq_v1, g1)  # a superseded line the bug would sweep
    try:
        with _pytest.raises(FileNotFoundError):
            M.commit_generation_cutover(sf_dir, live_gen=3)
        assert os.path.isdir(g1), "guard must fire before any unlink"
        # partial install (code line only) must still refuse
        shutil.copytree(pq_v1, g3_code)
        with _pytest.raises(FileNotFoundError):
            M.commit_generation_cutover(sf_dir, live_gen=3)
        assert os.path.isdir(g1), "partial live gen must not commit"
    finally:
        for p in (g1, g3_code):
            if os.path.isdir(p):
                shutil.rmtree(p)


def test_member_gen_index_follows_serving_line(spark, sf_dir):
    """r17 ADVICE: a gen-N≥2 member cutover must derive its holdings
    from the SERVING gen-(N−1) member line, not the original v2 —
    and building gen 2 with no gen-1 line installed is a caller error
    (the previous cutover never committed)."""
    import os
    import shutil

    import pytest as _pytest

    from projektdataengineering_spark.queries import similarity as S

    g1 = artifact("embed_ivf_index", sf_dir, gen=1)
    g2 = artifact("embed_ivf_index", sf_dir, gen=2)
    cpath1 = artifact("ivf", sf_dir, gen=1)
    for d in (g1, g2):
        if os.path.isdir(d):
            shutil.rmtree(d)
    cents = S.ivf_retrain_generation(spark, sf_dir, gen=1)
    bc = spark.sparkContext.broadcast(cents)
    try:
        with _pytest.raises(FileNotFoundError):
            S._ivf_member_gen_index(spark, sf_dir, bc, 2)
        assert not os.path.isdir(g2), "failed gen-2 build must not install"
        S._ivf_member_gen_index(spark, sf_dir, bc, 1)
        S._ivf_member_gen_index(spark, sf_dir, bc, 2)
        ids1 = {
            r["vec_id"]
            for r in spark.read.parquet(g1).select("vec_id").collect()
        }
        ids2 = {
            r["vec_id"]
            for r in spark.read.parquet(g2).select("vec_id").collect()
        }
        assert ids2 == ids1, "gen-2 holdings come from the gen-1 line"
    finally:
        for d in (g1, g2):
            if os.path.isdir(d):
                shutil.rmtree(d)
        if os.path.exists(cpath1):
            shutil.rmtree(cpath1)
        S._IVF_CENTROID_CACHE.pop(cpath1, None)


def test_retrain_trigger_audits_member_line(spark, sf_dir, monkeypatch):
    """r17 ADVICE: ivfpq_retrain_if_skewed must audit BOTH consumers of
    the shared quantizer — a breach on the MEMBER line alone (the code
    line clearing the bound) must trigger the cutover, because the two
    lines hold different memberships."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from projektdataengineering_spark.queries import similarity as S

    S.sim_ivfpq_index_append(spark, sf_dir)
    S.dedup_embedding_index_append(spark, sf_dir)
    member_v2 = artifact("embed_ivf_index", sf_dir, gen="v2")
    g1 = artifact("ivfpq_codes", sf_dir, gen=1)
    mg1 = artifact("embed_ivf_index", sf_dir, gen=1)
    cpath1 = artifact("ivf", sf_dir, gen=1)
    for d in (g1, mg1):
        if os.path.isdir(d):
            shutil.rmtree(d)
    if os.path.exists(cpath1):
        shutil.rmtree(cpath1)
    S._IVF_CENTROID_CACHE.pop(cpath1, None)

    real = S._cell_masses

    def member_hotspot(spark_, path):
        m = real(spark_, path)
        if path == member_v2:
            n = spark_.read.parquet(path).count()
            hot = m.orderBy(F.desc("mass"), "cell").first()["cell"]
            m = m.withColumn(
                "mass",
                F.when(F.col("cell") == hot, F.col("mass") + F.lit(n))
                .otherwise(F.col("mass")),
            )
        return m

    monkeypatch.setattr(S, "_cell_masses", member_hotspot)
    try:
        # code line clears the real bound; only the member line breaches
        code_clears = not S._occupancy_audit(
            2, real(spark, artifact("ivfpq_codes", sf_dir, gen="v2"))
        ).collect()[0]["needs_retrain"]
        assert code_clears, "precondition: fixture code skew under bound"
        assert S.ivfpq_retrain_if_skewed(spark, sf_dir) == (True, 1)
        assert os.path.isdir(g1) and os.path.isdir(mg1), (
            "member-only breach must run the full two-consumer cutover"
        )
    finally:
        for d in (g1, mg1):
            if os.path.isdir(d):
                shutil.rmtree(d)
        if os.path.exists(cpath1):
            shutil.rmtree(cpath1)
        S._IVF_CENTROID_CACHE.pop(cpath1, None)


def test_shuffle_shard_prefix_sum_matches_global_window(spark, sf_dir):
    """pipeline_shuffle_shard's distributed prefix sum (256 md5-prefix
    ranges + broadcast bucket bases) must equal the single global
    window it replaces — computed here directly at fixture scale —
    and shard geometry must be seamless: ordering documents by
    shuffle_pos, each doc starts exactly where the previous one's
    token span ended."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.queries import pipeline_ops as P

    out = {
        r["doc_id"]: (
            r["shuffle_pos"], r["n_toks"], r["shard_id"], r["shard_offset"]
        )
        for r in P.pipeline_shuffle_shard(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    t = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_toks"),
    ).select(
        "doc_id",
        F.row_number().over(w).cast("bigint").alias("pos"),
        "n_toks",
        (F.sum("n_toks").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ) - F.col("n_toks")).cast("bigint").alias("start"),
    )
    replay = {
        r["doc_id"]: (
            r["pos"], r["n_toks"],
            r["start"] // P._SHARD_TOKENS, r["start"] % P._SHARD_TOKENS,
        )
        for r in t.collect()
    }
    assert out == replay
    # seamlessness: token spans tile the shard space with no gap/overlap
    ordered = sorted(out.values())
    cum = 0
    for pos, n_toks, shard_id, shard_offset in ordered:
        assert shard_id * P._SHARD_TOKENS + shard_offset == cum
        cum += n_toks


def test_gen_serving_reuses_persisted_lines(spark, sf_dir):
    """sim_ivfpq_gen_serving: after the gen-1 configuration is
    installed, a second invocation must be pure probe work — no
    retrain, no re-encode, no member rebuild (the read-or-build
    discipline the registered serving query inherits from the cutover
    builders)."""
    from projektdataengineering_spark.queries import similarity as S

    n1 = S.sim_ivfpq_gen_serving(spark, sf_dir).count()
    trains0, enc0, mb0 = (
        BUILDS["ivf"], BUILDS["ivfpq_codes"], BUILDS["embed_ivf_index"],
    )
    n2 = S.sim_ivfpq_gen_serving(spark, sf_dir).count()
    assert (BUILDS["ivf"], BUILDS["ivfpq_codes"], BUILDS["embed_ivf_index"]) == (
        trains0, enc0, mb0,
    ), "second serving call must not rebuild any gen-1 artifact"
    assert n1 == n2 > 0
    recall_flags = {
        r["recall_ok"]
        for r in S.sim_ivfpq_gen_serving(spark, sf_dir)
        .select("recall_ok").distinct().collect()
    }
    assert recall_flags == {True}, "gen-1 line must clear the IVFADC bound"


def test_signature_kernel_matches_hof_reference(spark):
    """The r19 explode+aggregate signature kernel (_signature_of) must
    be value-identical to the interpreted HOF formulation it replaced
    (4x transform+array_min): min() over md5 hex is the same binary
    string ordering as array_min, and explode keeps exactly the
    size(toks)>=2 doc set (a >=2-token doc always has >=1 gram)."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.functions import token_ngrams
    from projektdataengineering_spark.queries.pipeline_ops import (
        _PORTABLE_LANES,
        _signature_of,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta"),
            (2, "one"),                      # < 2 tokens: no signature
            (3, "x y"),                      # single gram
            (4, "repeat repeat repeat"),     # duplicate grams collapse
            (5, ""),
        ],
        "doc_id long, text string",
    )

    def hof_reference(d):
        toked = d.select("doc_id", F.split("text", " ").alias("toks")).filter(
            F.size("toks") >= 2
        )
        g = toked.select(
            "doc_id", F.array_distinct(token_ngrams("toks", 2)).alias("gs")
        )

        def lane(i):
            return F.array_min(
                F.transform("gs", lambda s: F.md5(F.concat(s, F.lit(f"#{i}"))))
            ).alias(f"m{i}")

        return g.select("doc_id", *[lane(i) for i in range(_PORTABLE_LANES)])

    new = sorted(map(tuple, _signature_of(docs).collect()))
    ref = sorted(map(tuple, hof_reference(docs).collect()))
    assert new == ref and len(new) == 3
