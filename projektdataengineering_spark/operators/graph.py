"""Distributed connected components — the clustering step that turns
near-duplicate candidate PAIRS (MinHash/SimHash output) into dedup
GROUPS, so one canonical document survives per cluster.

The reference's closest analog is its ingest-side sha256 metadata
(/root/reference/dags/ingestion/ingestion.py:65-69) — exact-identity
grouping; this operator is the transitive-closure generalization the
approximate family needs (A~B and B~C must land A,B,C in one group even
when A~C was never emitted as a pair).

Algorithm: iterative min-label propagation. Every node starts labeled
with its own id; each round every node takes the min of its label and
its neighbors' labels; at fixpoint every node in a component carries the
component's minimum id. Rounds needed = graph diameter, which for
near-dup clusters (small, dense clumps) is tiny. Each round is one
join + one groupBy — pure DataFrame ops, no driver-side graph.

Scale notes: lineage is cut every round with localCheckpoint —
without it the plan doubles per iteration and the optimizer chokes by
round ~10. The edge list is checkpointed once and reused. At 100 TB
with adversarial diameters you'd switch to the large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) — same primitive ops, O(log²) rounds; the hook is
this function's signature, not its callers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 20
) -> DataFrame:
    """Label every node reachable through `edges` (undirected) with the
    smallest node id in its component. Returns (node, component).

    Deterministic: output is a pure function of the edge set. Converges
    in diameter(G) rounds; raises if `max_iter` rounds don't reach the
    fixpoint (a symptom of an adversarial graph that needs an
    O(log n)-round algorithm such as large-star/small-star, not silent
    wrong answers)."""
    # Symmetrize with ONE pass over `edges` (explode both directions
    # per row). The union-of-two-selects formulation read `edges` twice
    # — and `edges` is typically an expensive LSH candidate pipeline,
    # so the whole upstream executed once per branch (measured 5.0 s →
    # 2.9 s at sf0.1 on the minhash edge list).
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("node"), F.col(dst).alias("nbr")),
                    F.struct(F.col(dst).alias("node"), F.col(src).alias("nbr")),
                )
            ).alias("e")
        )
        .select("e.node", "e.nbr")
        .distinct()
        .localCheckpoint()
    )
    # Round 1 fused into initialization: with identity labels the first
    # propagation is just comp = min(node, min(nbr)) — one groupBy on
    # the checkpointed edges, no label join and no change-count job.
    labels = (
        sym.groupBy("node")
        .agg(F.least(F.col("node"), F.min("nbr")).alias("comp"))
        .localCheckpoint()
    )

    for _ in range(max_iter - 1):
        nbr_min = (
            sym.join(
                labels.select(F.col("node").alias("nbr"), F.col("comp").alias("nbr_comp")),
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("nbr_comp").alias("min_nbr_comp"))
        )
        upd = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.col("comp").alias("old_comp"),
                F.least("comp", F.coalesce("min_nbr_comp", "comp")).alias("comp"),
            )
            .localCheckpoint()  # cut lineage; also materializes for the count
        )
        changed = upd.filter(F.col("comp") != F.col("old_comp")).count()
        labels = upd.select("node", "comp")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "graph diameter exceeds the bound"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
    exact_sums: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a DIRECTED edge list (pass each
    undirected pair twice for symmetric graphs, e.g. the near-dup
    graph) — rank(node), the centrality score that orders a dedup
    cluster's members by how connected they are (canonical-pick by
    hubness rather than min-id) or ranks link/citation graphs.

    Simplified variant: dangling-node mass is NOT redistributed (the
    standard power-iteration shortcut; ranks then sum to < 1, which is
    fine for ORDERING — document before using the absolute values).

    Scale shape per iteration: one join of edges⋈ranks on src (ids +
    one double through the shuffle), one partial→final sum by dst,
    one left join back to the node set — all hash-partitioned by node
    id, the exact shape of the min-label CC rounds above, with the
    same localCheckpoint lineage cut. The only driver materialization
    is the single node count. n_iter is fixed (not convergence-tested)
    so the operator is deterministic and replay-stable.

    ``exact_sums=True`` quantizes each per-edge contribution rank/deg
    to an INTEGER numerator — floor(c·10¹⁵ + 0.5), every step a single
    IEEE-754 double op plus an unambiguous floor, identical in any
    engine — and sums the numerators through DECIMAL(38,0) (exact,
    associative: the sum no longer depends on partitioning or arrival
    order), then divides by 10¹⁵ back to double for the damping step.
    The deliberate ~1e-15-relative quantization is what buys
    cross-ENGINE bit-stability: a direct double→DECIMAL(38,18) cast is
    engine-defined at rounding boundaries (Spark rounds the shortest
    decimal repr via BigDecimal HALF_UP; DuckDB scales the double by
    1e18 in floating point, which is inexact past 2^53 — they can
    disagree for contributions ≳0.01), while an integer-valued double
    casts to decimal exactly everywhere. This is what lets
    queries/graphs.py hash-check the ranks against a DuckDB replay at
    ANY scale factor. Costs one decimal column through the
    aggregation; leave False when ordering-grade ranks suffice."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # Degree-annotated edge list, computed ONCE: src degree is
    # loop-invariant, so joining it per round both re-ran the degree
    # aggregate and paid a second join in every iteration (measured:
    # ~0.5 s of graph_pagerank's 4 s at sf0.1 across 8 rounds). The
    # lazy checkpoint materializes it on the first round and each
    # later round reads the cached rows.
    edges_deg = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("to"))
        .join(deg, "node")
        .localCheckpoint(eager=False)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    contrib = F.col("rank") / F.col("deg")
    if exact_sums:
        # integer numerator: floor(c*1e15 + 0.5) — see docstring
        contrib = F.floor(contrib * F.lit(1.0e15) + F.lit(0.5)).cast(
            "decimal(38,0)"
        )
    for _ in range(n_iter):
        contribs = (
            edges_deg.join(ranks, "node")
            .select(F.col("to").alias("node"), contrib.alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        s = F.coalesce(F.col("s").cast("double"), F.lit(0.0))
        if exact_sums:
            s = s / F.lit(1.0e15)
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (F.lit((1.0 - damping) / n) + F.lit(damping) * s).alias("rank"),
            )
            # LAZY checkpoint: the plan is still cut per round (each
            # iteration sees a flat LogicalRDD, not 8 stacked joins),
            # but materialization happens in ONE action cascade at the
            # consumer instead of n_iter sequential driver barriers —
            # measured 4.8 s → ~2 s at sf0.1. Values are identical;
            # each round's RDD caches on first use, so nothing
            # recomputes.
            .localCheckpoint(eager=False)
        )
    return ranks


def triangle_counts(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph given
    as canonical (src < dst) distinct edges. Returns (node, degree,
    triangles) — degree counts distinct neighbors, triangles counts the
    3-cliques the node participates in.

    Algorithm: degree-ordered orientation (Cohen's MapReduce triangle
    enumeration; also Suri & Vassilvitskii, WWW'11): orient every edge
    from its lower-(degree, id) endpoint to the higher one, build
    wedges (u→v, u→w) at the low end, and close each wedge against the
    oriented edge (v→w). Every triangle {x,y,z} is counted exactly
    once — at its lowest-ranked vertex. Orientation bounds out-degree
    by O(√m) on any graph, so the wedge fan-out — the quadratic term
    a hub vertex would otherwise explode — is capped without
    sampling: the hot key that has 10⁶ neighbors as an undirected
    node has at most ~√m out-neighbors after orientation, which is
    what lets the self-join survive a skewed 100-TB edge list.

    Every step is a key-partitioned equi-join / aggregation (joins on
    u, then on the (v, w) pair) — no cartesian, no driver state; the
    edge list is the only input read, and it is read from a
    caller-provided (typically checkpointed) frame."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # Orientation key is the (degree, id) pair; a < b already holds, so
    # ties orient a → b and the order is total.
    keyed = (
        e.join(deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b")), "b")
    )
    a_low = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = keyed.select(
        F.when(a_low, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_low, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_low, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_v"),
    ).localCheckpoint(eager=False)
    o1 = oriented.select(F.col("u"), F.col("v").alias("v1"), F.col("deg_v").alias("dv1"))
    o2 = oriented.select(F.col("u"), F.col("v").alias("v2"), F.col("deg_v").alias("dv2"))
    wedges = o1.join(o2, "u").filter(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    per_node = (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint").alias("triangles"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    src: str,
    dst: str,
    seeds: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Level-synchronous BFS: hop distance (0..max_hops) from a seed
    node set over a DIRECTED edge list (pass the symmetrized list for
    undirected semantics). Returns (node, hop) for every node reachable
    within max_hops, hop = length of the shortest path — the
    "neighborhood expansion" primitive under k-hop audience queries,
    blast-radius analysis, and graph-distance dedup policies.

    ``seeds`` is a one-column ``node`` frame (hop 0). Each level is one
    equi-join frontier⋈edges + one distinct + one anti-join against the
    visited set — all key-partitioned, no driver-side graph; the
    frontier is the only state that grows, and it is localCheckpointed
    per level so the plan stays flat at any hop count (the
    connected_components lineage discipline).

    At 100 TB: BFS cost is Σ|frontier|·avg-degree per level, the same
    shuffle volume a Pregel superstep pays; the anti-join keeps each
    node's expansion to exactly one level, so total work is bounded by
    edges-touched, not levels×edges."""
    visited = seeds.select(
        F.col("node"), F.lit(0).cast("bigint").alias("hop")
    ).localCheckpoint(eager=False)
    frontier = visited.select("node")
    for k in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges[src])
            .select(edges[dst].alias("node"))
            .distinct()
        )
        new = (
            nxt.join(visited, "node", "left_anti")
            .select(F.col("node"), F.lit(k).cast("bigint").alias("hop"))
            .localCheckpoint(eager=False)
        )
        visited = visited.unionAll(new).localCheckpoint(eager=False)
        frontier = new.select("node")
    return visited
