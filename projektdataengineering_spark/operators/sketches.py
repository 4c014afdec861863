"""Mergeable distinct-count sketches (Apache DataSketches HLL via
Spark's built-in ``hll_sketch_agg`` family) — the incremental /
federated twin of `agg_approx_distinct`'s one-shot estimate.

What a sketch buys at 100 TB that a plain ``approx_count_distinct``
doesn't: the PARTIAL STATE is a first-class value. Each partition,
batch, day, or datacenter aggregates its own fixed-width (≈ 2^lgK
registers) sketch; sketches union losslessly in any order and any
grouping, so the same state serves daily rollups, incremental
maintenance (operators/incremental.py's agg_state pattern, but for
distinct counts), and cross-cluster federation — without ever
re-scanning raw data. The binary is the standard Apache DataSketches
HLL_8 format, portable to Trino/Druid/Hive readers of the same
library.

Determinism: the sketch of a fixed SET is a pure function of the
values (insertion order cannot matter — registers are max() over
per-value hashes), so estimates are replay-stable; union is
commutative/associative, proved batching-independent in
tests/test_operators.py the same way agg_state is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hll_partial",
    "hll_union",
    "hll_estimate",
    "misra_gries_summary",
]

_LG_K = 13  # 2^13 registers ≈ 1.04/sqrt(2^13) ≈ 1.1% relative std error


def hll_partial(col: str | Column, lg_k: int = _LG_K) -> Column:
    """Aggregate expression: the HLL sketch (binary) of a column —
    the per-partition/per-group PARTIAL state."""
    return F.hll_sketch_agg(col, F.lit(lg_k))


def hll_union(sketch_col: str | Column) -> Column:
    """Aggregate expression: lossless union of sketch partials."""
    return F.hll_union_agg(sketch_col)


def hll_estimate(sketch_col: str | Column) -> Column:
    """Scalar expression: distinct-count estimate from a sketch."""
    return F.hll_sketch_estimate(sketch_col)


def misra_gries_summary(df: DataFrame, term_col: str, k: int = 400) -> DataFrame:
    """Mergeable Misra-Gries heavy-hitters summary — the frequent-items
    member of the mergeable-summaries triad (HLL distinct above, GK
    quantiles via percentile_approx): returns (term, est) with at most
    ~k rows of state per partition and the classic MG guarantees for
    the MERGED output (Agarwal, Cormode, Huang, Phillips, Wei, Yi —
    "Mergeable Summaries", PODS'12):

      * underestimate only:  est ≤ exact_count(term);
      * bounded error:       exact_count(term) − est ≤ n/(k+1)
        (n = total items), for EVERY term — including ones the summary
        dropped (their est is 0);
      * hitter completeness: any term with exact_count > n/(k+1) is
        guaranteed present in the summary.

    Distributed shape: each partition folds its Arrow batches into an
    O(k) counter dict — a batch is first reduced exactly (pandas
    value_counts, itself a mergeable summary with zero error) and then
    MG-reduced to k counters by subtracting the (k+1)-th largest and
    dropping non-positives, the PODS'12 reduce step. Partition
    summaries then merge with ONE ids-only shuffle: groupBy(term).sum.
    The merged counters are ≤ partitions×k rows and already satisfy
    the bounds (error adds across partials: Σ nᵖ/(k+1) = n/(k+1)), so
    no final reduce is applied — callers that need exactly-k rows can
    top-k the result. Counter VALUES depend on row order/partitioning
    (inherent to MG); the guarantees above do not — which is what the
    hash-checked certification query pins."""
    import numpy as np
    import pandas as pd

    def part(batches):
        counters: dict = {}
        for pdf in batches:
            counters = mg_add(counters, pdf[term_col], k)
        if counters:
            yield pd.DataFrame(
                {"term": list(counters.keys()),
                 "est": np.fromiter(counters.values(), dtype=np.int64)}
            )

    partials = df.select(F.col(term_col).cast("string").alias(term_col)).mapInPandas(
        part, schema="term string, est long"
    )
    return partials.groupBy("term").agg(F.sum("est").alias("est"))


def mg_add(counters: dict, terms, k: int) -> dict:
    """Fold one batch of ``terms`` (a pandas Series) into Misra-Gries
    counters: an exact batch reduce (value_counts) added in, then the
    PODS'12 reduce to k counters by subtracting the (k+1)-th largest
    value and dropping non-positives."""
    import numpy as np

    for t, c in terms.value_counts().items():
        counters[t] = counters.get(t, 0) + int(c)
    if len(counters) > k:
        vals = np.fromiter(counters.values(), dtype=np.int64)
        off = int(np.partition(vals, -(k + 1))[-(k + 1)])
        counters = {t: c - off for t, c in counters.items() if c - off > 0}
    return counters


def count_min_cells(
    df: DataFrame, term_col: str, depth: int = 4, width: int = 512
) -> DataFrame:
    """Count-Min sketch cells (Cormode & Muthukrishnan, J.Alg'05) —
    the frequency-estimation member of the mergeable triad (HLL
    distinct / MG heavy hitters / CMS point frequencies): returns
    (j, b, cell) — for each of `depth` hash rows, the total count of
    items landing in each of `width` buckets. Point estimate for any
    term = MIN over its depth cells; overestimate-only by
    construction (every cell ≥ the term's true count because counts
    are non-negative).

    Mergeability is literal: cells are plain sums, so sketches of two
    partitions/datasets merge by adding cell-wise — the same
    union-of-partials contract as hll_merge. And unlike MG, the cell
    VALUES are partition-order independent (sums commute), so the
    whole sketch — not just its guarantees — is deterministic and
    replayable in an external engine given the same hash family.

    Hash family: ONE md5 per term, split into two 32-bit ints
    (h1 = hex[1..8], h2 = hex[9..16]); row j buckets at
    ((h1 + j·h2) mod 2³²) mod width — the engine's affine-rehash
    lane family (the portable-MinHash construction; also the
    round-8→9 lesson: hashing once per LANE instead of once per ITEM
    cost the MinHash kernel 3.8×). Exact BIGINT arithmetic
    (h1 + depth·h2 < 2³⁵), so one SQL expression reproduces every
    cell bit-for-bit in DuckDB.

    Scale shape: one md5 + projection per row, a `depth`× map-side
    fanout of integer arithmetic, then ONE groupBy over (j, b) whose
    partial aggregation collapses every partition to ≤ depth×width
    rows before the exchange — the shuffle carries at most
    depth×width×partitions tiny rows no matter how many items stream
    in, and no per-term state ever materializes (that
    full-vocabulary aggregate is exactly what a sketch exists to
    avoid)."""
    return (
        _md5_lanes(df, term_col, "#cms", depth, width)
        .select("j", F.col("pos").alias("b"))
        .groupBy("j", "b")
        .agg(F.count(F.lit(1)).alias("cell"))
    )


def _md5_lanes(df: DataFrame, term_col: str, salt: str, lanes: int, width: int) -> DataFrame:
    """(j, pos) for each term and lane j < ``lanes``: ONE md5 of the
    salted term split into two 32-bit halves h1/h2, and
    pos = ((h1 + j·h2) mod 2³²) mod width, the affine lane family
    shared by the Count-Min and Bloom sketches."""
    h = F.md5(F.concat(F.col("t"), F.lit(salt)))
    j = F.explode(F.array(*[F.lit(i) for i in range(lanes)])).alias("j")
    return (
        df.select(F.col(term_col).cast("string").alias("t"))
        .select(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("h2"),
        )
        .select("h1", "h2", j)
        .select(
            "j",
            ((F.col("h1") + F.col("j") * F.col("h2")) % F.lit(1 << 32) % width).alias("pos"),
        )
    )


def bloom_filter_words(
    df: DataFrame, term_col: str, m_bits: int = 4096, k_hashes: int = 3
) -> DataFrame:
    """Bloom filter over a term column as a DataFrame of bitmap WORDS:
    returns (w, bits) where w = bit_index // 63 and bits = OR of
    (1 << bit_index % 63) — the distributed representation of the
    m_bits-wide filter (one row per non-empty 63-bit word; 63, not
    64, because DuckDB's BIGINT << 63 raises on the sign bit while
    the JVM wraps — shifts 0..62 agree in both engines and every
    word stays positive).

    This is the runtime-filter / semi-join-pruning primitive: build
    the filter on the small/unique side of a join, broadcast the few-
    KB word table, and discard probe rows whose k bits aren't all set
    BEFORE the shuffle. Zero false negatives is a THEOREM (bit_or
    only adds bits); false positives are the documented trade
    (rate ≈ (1 - e^{-kn/m})^k).

    Same portability contract as count_min_cells: bit positions come
    from the affine md5 lane family — ONE md5 per key, h1/h2 = its
    two 32-bit halves, bit_j = ((h1 + j·h2) mod 2³²) mod m_bits —
    and bit_or is commutative/associative, so the whole word table is
    partition-order independent and replays bit-for-bit in DuckDB
    (hashing once per LANE instead of once per KEY is the round-8
    MinHash regression; probes pay the same rule, see
    join_bloom_prefiltered). Scale: one md5 + k_hashes-way integer
    fanout map-side, then one groupBy(w) whose partial aggregation
    collapses every partition to ≤ m_bits/64 words before a tiny
    exchange."""
    return (
        _md5_lanes(df, term_col, "#bloom", k_hashes, m_bits)
        .select(
            F.expr("pos div 63").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
    )


# ---------------------------------------------------------------------------
# Fast (engine-internal) Bloom lane family — xxhash64 positions
# ---------------------------------------------------------------------------
#
# The md5 family above exists for PORTABILITY: agg_bloom_membership's
# DuckDB oracle replays every bit position, so the hash must be
# expressible in both engines.  The runtime-filter JOINS
# (join_bloom_prefiltered, join_semireduced) have no such constraint —
# their oracles run the PLAIN join and the hash-match certifies zero
# false negatives for WHATEVER lane family built the filter (bit_or
# only adds bits; the theorem is hash-agnostic).  For those, md5 was
# pure overhead: the r18 decomposition measured the md5 probe pass at
# 1.68 s vs 0.46 s for the whole join it was pruning (sf0.1), with the
# md5 itself plus the interpreted transform() variable-binding trick
# (needed to stop Catalyst re-inlining the digest per lane) as the
# cost.  xxhash64 is a native codegen'd expression cheap enough to run
# ONCE PER LANE — no digest splitting, no binding, the whole probe
# predicate stays inside WholeStageCodegen — measured 0.30 s for the
# same probe (5.6x) with the same ~21% survivor selectivity.


def bloom_fast_words(df, key_sql: str, m_bits: int, k_hashes: int) -> list[int]:
    """Dense Bloom word list (63-bit words, same layout as
    bloom_filter_words) with bit positions pmod(xxhash64(key, j), m)
    for lane j — build-side twin of bloom_fast_probe_condition.

    Type contract (r18 ADVICE, hardened r19): xxhash64 hashes the TYPED
    value, so a build/probe type mismatch (int vs bigint) would silently
    yield false negatives — i.e. wrong join results. Both the builder
    and the probe therefore CAST the key to BIGINT themselves instead
    of trusting the two call sites to agree; numeric join keys of any
    width hash identically on both sides by construction. (Keys must be
    integral — a string key nulls under the cast and would need its own
    lane family.)"""
    pos = [
        F.expr(f"pmod(xxhash64(CAST({key_sql} AS BIGINT), {j}), {m_bits})")
        for j in range(k_hashes)
    ]
    w = (
        df.select(F.explode(F.array(*pos)).alias("p"))
        .select(
            F.expr("CAST(p div 63 AS INT)").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 63 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
    )
    words = {r["w"]: r["bits"] for r in w.collect()}
    return [int(words.get(i, 0)) for i in range(m_bits // 63 + 1)]


def bloom_fast_probe_condition(
    key_sql: str, bw_col: str, m_bits: int, k_hashes: int
) -> str:
    """SQL predicate testing a probe row against a bloom_fast_words
    table planted as a literal array column ``bw_col`` — k codegen'd
    xxhash64 lanes, no HOF binding (each lane is an independent cheap
    hash, so there is no shared digest to protect from Catalyst's
    project-collapse the way the md5 family must). Key is cast BIGINT
    to match the builder (see bloom_fast_words' type contract).

    Known, measured cost shape (r19, closing the r18 ADVICE note):
    ``pos`` is interpolated twice per lane (word index and bit offset),
    and whole-stage codegen's subexpression elimination does NOT dedupe
    it — the generated filter evaluates 2·k hashLong calls per row
    (verified via debugCodegen: two XXH64.hashLong sites per lane).
    Left as-is deliberately: a hashLong is a few ns, so the waste is
    k extra hashes per probed row (~0.1 s over the 6M-row sf0.1 probe),
    while every single-evaluation rewrite reintroduces a worse cost —
    a lambda binding forces the whole predicate OUT of codegen into
    interpreted HOF evaluation (the exact md5-family pathology r18
    removed, 5.6× slower), and a pre-projected pos array is re-inlined
    by filter pushdown unless marked non-deterministic, which blocks
    the probe filter's own placement below the exchange."""
    tests = []
    for j in range(k_hashes):
        pos = f"pmod(xxhash64(CAST({key_sql} AS BIGINT), {j}), {m_bits})"
        tests.append(
            f"((shiftright(element_at({bw_col}, CAST({pos} div 63 AS INT) + 1), "
            f"CAST({pos} % 63 AS INT)) & 1) = 1)"
        )
    return " AND ".join(tests)
