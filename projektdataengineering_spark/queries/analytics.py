"""Round-9 behavioral / decision analytics — attribution, Markov
transitions, experiment lift, and a skyline operator.

These widen the events-table family (sessionize → funnel → retention →
attribution is the standard product-analytics ladder; the reference's
event model is the same ingest the weather ETL feeds, reference R1 →
`spark_tasks/weather_task.py:59-67`, generalized to behavioral data)
plus one relational operator Spark has no built-in for (the Pareto
frontier / skyline).

Cross-engine disciplines (the module-level rules from queries/__init__
and graphs.py, applied here):

* money doubles quantize to integer cents — ``FLOOR(value·100 + 0.5)``
  — BEFORE any sum, so every aggregate is BIGINT-exact and
  order-independent in both engines;
* probabilities/ratios are integer ppm via BIGINT floor-division,
  never a float divide;
* the experiment z² statistic is computed as one integer rational —
  numerator and denominator are exact DECIMAL(38,0)/HUGEINT products
  (the pipeline_perplexity_filter quarter-bit discipline) — then
  floored to milli-units, so the "significance" column is
  bit-comparable with no transcendental on either engine;
* deterministic arm assignment / tombstone selection hashes the key
  with md5 and compares the first hex NIBBLE as a STRING — no
  hex→int parse, which the two engines expose differently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import query

# ---------------------------------------------------------------------------
# pipeline_attribution — first/last-touch conversion attribution
# ---------------------------------------------------------------------------

_ATTRIB_SQL = """
    WITH touched AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch,
             first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_touch
      FROM events
    ),
    conv AS (
      SELECT COALESCE(last_touch, 'direct') AS last_ch,
             COALESCE(first_touch, 'direct') AS first_ch,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM touched WHERE event_type = 'purchase'
    )
    SELECT model, channel,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM (
      SELECT 'last_touch' AS model, last_ch AS channel, cents FROM conv
      UNION ALL
      SELECT 'first_touch' AS model, first_ch AS channel, cents FROM conv
    ) m
    GROUP BY model, channel
"""


@query("pipeline_attribution", oracle=_ATTRIB_SQL)
def pipeline_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch and last-touch conversion attribution: each
    ``purchase`` event's revenue is credited to the non-purchase
    channel (event_type) the user touched first / most recently before
    converting; purchases with no prior touch credit ``direct``.

    Plan shape: ONE shuffle on user_id — both IGNORE-NULLS window
    passes share the (user_id × (ts, event_id)) sort (the _sessionized
    single-exchange discipline), then the two attribution models fan
    out of the same windowed frame MAP-SIDE via explode (a union of
    two selects would re-evaluate the window pipeline per branch)
    before one partial→final aggregate on (model, channel). event_id
    tie-breaks equal timestamps, so attribution is a total function of
    the data.

    At 100 TB: the window state per user is one running (first, last)
    pair — no per-user buffering; channel cardinality is tiny, so the
    final aggregate broadcasts nothing and the union doubles only the
    CONVERSION rows (purchases), not the event stream.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    touched = ev.select(
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
    )
    conv = touched.filter(F.col("event_type") == "purchase").select(
        F.coalesce("last_touch", F.lit("direct")).alias("last_ch"),
        F.coalesce("first_touch", F.lit("direct")).alias("first_ch"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    # explode, not union: a union of two selects over `conv` would
    # re-evaluate the window pipeline once per branch (two scans, two
    # exchanges); the explode fans out map-side after ONE window pass
    both = conv.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.col("last_ch").alias("channel"),
                ),
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.col("first_ch").alias("channel"),
                ),
            )
        ).alias("mc"),
        "cents",
    ).select("mc.model", "mc.channel", "cents")
    return both.groupBy("model", "channel").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.sum("cents").alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# pipeline_event_transitions — first-order Markov transition matrix
# ---------------------------------------------------------------------------

_TRANSITIONS_SQL = """
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type,
           CAST(n AS BIGINT) AS n,
           CAST((n * 1000000) // SUM(n) OVER (PARTITION BY from_type)
                AS BIGINT) AS p_ppm
    FROM pairs
"""


@query("pipeline_event_transitions", oracle=_TRANSITIONS_SQL)
def pipeline_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every (from_type → to_type) adjacency, the count
    and the conditional probability in exact integer ppm
    (``n·10⁶ DIV Σₙ``). The behavioral fingerprint downstream of
    sessionization — next-event prediction priors, funnel leak
    detection, bot detection (degenerate self-loops).

    Plan shape: one shuffle on user_id for the LEAD window, then a
    partial→final count to a cell-count frame that is at most
    |event_type|² rows — the ppm window runs on that tiny frame, not
    on events. Scale-safe by construction: state per user is one
    event of lookahead.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        F.expr("n * 1000000 div sum(n) over (partition by from_type)")
        .cast("long")
        .alias("p_ppm"),
    )


# ---------------------------------------------------------------------------
# pipeline_ab_lift — deterministic experiment split + exact z² lift test
# ---------------------------------------------------------------------------

_AB_LIFT_SQL = """
    WITH users AS (
      SELECT user_id,
             CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'a' ELSE 'b' END AS arm,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events
      GROUP BY user_id
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS HUGEINT) AS na,
             CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS HUGEINT) AS nb,
             CAST(SUM(CASE WHEN arm = 'a' THEN converted ELSE 0 END)
                  AS HUGEINT) AS ca,
             CAST(SUM(CASE WHEN arm = 'b' THEN converted ELSE 0 END)
                  AS HUGEINT) AS cb
      FROM users
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST(ca AS BIGINT) AS conv_a,
           CAST(cb AS BIGINT) AS conv_b,
           CAST(ca * 1000000 // na AS BIGINT) AS rate_a_ppm,
           CAST(cb * 1000000 // nb AS BIGINT) AS rate_b_ppm,
           CAST(cb * 1000000 // nb - ca * 1000000 // na AS BIGINT)
             AS lift_ppm,
           CAST(CASE WHEN (ca + cb) = 0 OR (na + nb - ca - cb) = 0 THEN 0
                     ELSE (1000 * (cb * na - ca * nb) * (cb * na - ca * nb)
                           * (na + nb))
                          // (na * nb * (ca + cb) * (na + nb - ca - cb))
                END AS BIGINT) AS z2_milli
    FROM arms
"""


@query("pipeline_ab_lift", oracle=_AB_LIFT_SQL)
def pipeline_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B experiment readout: users are hash-split into
    two arms (first md5 nibble of the user id — the reproducible,
    stateless assignment every experimentation platform uses), a user
    converts if they ever fired ``purchase``, and the output is one row
    of exact-integer experiment math: per-arm sizes, conversions,
    conversion rates (ppm), lift (ppm), and the two-proportion z²
    statistic in milli-units computed as ONE integer rational —
    ``z² = (c_b·n_a − c_a·n_b)²·(n_a+n_b) / (n_a·n_b·c·(n−c))`` — via
    DECIMAL(38,0) products (HUGEINT on the oracle side), the
    quarter-bit discipline that keeps significance testing
    transcendental-free and bit-identical across engines (z² ≥ 3.84²
    ⇔ p < 0.05 is a threshold the caller applies to the milli value).

    Plan shape: one partial→final aggregate to per-user rows (the
    shuffle key), one global single-row aggregate; at 100 TB both are
    map-side-combined counts, and the arm assignment never shuffles
    anything but the user key.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("converted")
    )
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
            "0", "1", "2", "3", "4", "5", "6", "7"
        ),
        F.lit("a"),
    ).otherwise(F.lit("b"))
    d38 = "decimal(38,0)"
    arms = users.select(arm.alias("arm"), "converted").agg(
        F.sum(F.when(F.col("arm") == "a", 1).otherwise(0))
        .cast(d38)
        .alias("na"),
        F.sum(F.when(F.col("arm") == "b", 1).otherwise(0))
        .cast(d38)
        .alias("nb"),
        F.sum(F.when(F.col("arm") == "a", F.col("converted")).otherwise(0))
        .cast(d38)
        .alias("ca"),
        F.sum(F.when(F.col("arm") == "b", F.col("converted")).otherwise(0))
        .cast(d38)
        .alias("cb"),
    )
    return arms.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("ca").cast("long").alias("conv_a"),
        F.col("cb").cast("long").alias("conv_b"),
        F.expr("ca * 1000000 div na").cast("long").alias("rate_a_ppm"),
        F.expr("cb * 1000000 div nb").cast("long").alias("rate_b_ppm"),
        F.expr("cb * 1000000 div nb - ca * 1000000 div na")
        .cast("long")
        .alias("lift_ppm"),
        F.expr(
            "CASE WHEN (ca + cb) = 0 OR (na + nb - ca - cb) = 0 THEN 0 "
            "ELSE (1000 * (cb * na - ca * nb) * (cb * na - ca * nb) "
            "      * (na + nb)) "
            "     div (na * nb * (ca + cb) * (na + nb - ca - cb)) END"
        )
        .cast("long")
        .alias("z2_milli"),
    )


# ---------------------------------------------------------------------------
# filter_pareto_frontier — 2-D skyline (dominance filter)
# ---------------------------------------------------------------------------

_PARETO_SQL = """
    SELECT p.p_partkey, p.p_brand, p.p_size, p.p_retailprice
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice
        AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
"""


@query("filter_pareto_frontier", oracle=_PARETO_SQL)
def filter_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: parts not dominated on (minimize price, maximize
    size) — q dominates p iff q is no worse on both axes and strictly
    better on one. Spark has no skyline operator; the naïve form is an
    O(n²) NOT-EXISTS self-theta-join (exactly what the oracle runs —
    fine at oracle scale, a scale-killer on the engine side).

    The engine instead uses the sort-scan identity: p survives iff no
    STRICTLY CHEAPER part has size ≥ p's AND no equal-priced part has
    size > p's. So: collapse to one row per distinct price (max size —
    the only possible dominator at that price), prefix-scan a running
    max over prices in ascending order shifted one row (``max_lt``),
    and join the two dominance bounds back on price. Dominance testing
    is O(n log n) with ONE aggregate exchange, one tiny window, one
    broadcast-sized join back — no self-join on the data ever happens.

    At 100 TB the per-price frame is ≤ |distinct prices| rows (≪ n);
    if prices were near-unique, the same prefix-scan range-partitions
    by price with a two-pass carry (the exact_ntile pattern in
    operators/rank.py) — the shape stays one exchange.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )
    per_price = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("max_eq")
    )
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bounds = per_price.select(
        "p_retailprice",
        "max_eq",
        F.max("max_eq").over(w).alias("max_lt"),
    )
    joined = part.join(F.broadcast(bounds), "p_retailprice")
    dominated = (
        F.col("max_lt").isNotNull() & (F.col("max_lt") >= F.col("p_size"))
    ) | (F.col("max_eq") > F.col("p_size"))
    return joined.filter(~dominated).select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )


@query("stream_attribution", oracle=_ATTRIB_SQL)
def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of pipeline_attribution: the same first/last
    touch credit assignment running as a live stateful streaming query
    — applyInPandasWithState carries one (first_ch, last_ch) pair per
    user across micro-batches (O(1) state forever), and every purchase
    emits its credited row the moment it arrives. The batch twin
    recomputes the whole window on every run; this one never re-reads
    history — the standing-attribution shape a real pipeline runs.

    Still HASH-CHECKED against the identical oracle as the batch twin
    (the stream_ewma_stateful discipline): under availableNow over the
    bounded single-file fixture the fold processes rows in
    (ts, event_id) order, so each purchase sees exactly the
    strictly-earlier touch state — the batch window's
    rowsBetween(unboundedPreceding, -1) frame — and the aggregated
    sink equals the batch result row for row. Emissions are
    append-mode (each purchase credited exactly once), so the memory
    sink needs no dedup; the (model, channel) rollup happens
    batch-side on the tiny credited-purchase table."""
    from ..streaming import (
        open_event_stream,
        run_to_memory_sink,
        stream_state_partitions,
    )
    from ..streaming.stateful import attribution_stream

    keyed = open_event_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    with stream_state_partitions(spark):
        sink = run_to_memory_sink(
            attribution_stream(keyed),
            "stream_attribution_sink",
            output_mode="append",
        )
    both = sink.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.col("last_ch").alias("channel"),
                ),
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.col("first_ch").alias("channel"),
                ),
            )
        ).alias("mc"),
        "cents",
    ).select("mc.model", "mc.channel", "cents")
    return both.groupBy("model", "channel").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.sum("cents").alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# pipeline_cohort_matrix — weekly signup-cohort retention
# ---------------------------------------------------------------------------

_COHORT_SQL = """
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cw
      FROM events GROUP BY user_id
    ),
    sizes AS (SELECT cw, COUNT(*) AS cohort_size FROM firsts GROUP BY cw),
    act AS (
      SELECT f.cw,
             (CAST(date_trunc('week', e.ts) AS DATE) - f.cw) // 7 AS wk,
             e.user_id
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    ),
    m AS (
      SELECT cw, wk, COUNT(DISTINCT user_id) AS n_active
      FROM act GROUP BY cw, wk
    )
    SELECT CAST(m.cw AS VARCHAR) AS cohort_week,
           CAST(m.wk AS BIGINT) AS week_offset,
           CAST(m.n_active AS BIGINT) AS n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(m.n_active * 1000000 // s.cohort_size AS BIGINT)
             AS retention_ppm
    FROM m JOIN sizes s ON m.cw = s.cw
"""


@query("pipeline_cohort_matrix", oracle=_COHORT_SQL)
def pipeline_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekly cohort-retention matrix — the canonical growth
    table: users cohort by the Monday-truncated week of their FIRST
    event, and each (cohort_week, weeks-since-signup) cell counts the
    cohort members still active that week, with retention in exact
    integer ppm of the cohort size. Generalizes
    pipeline_user_retention's single second-week readout to the full
    triangular matrix. Week truncation and DATE day-arithmetic agree
    between engines (both truncate to Monday; dates are NTZ so no
    zone/DST skew), and the cohort date crosses the hash as VARCHAR —
    the cross-engine DATE discipline.

    Plan shape: one aggregate on user_id (first event), one shuffle
    join of events back to the tiny firsts frame on the same key (the
    aggregation's partitioning is reused — Catalyst plans no extra
    exchange on the probe side), then a distinct-count aggregate on
    the (cohort, offset) cells and a broadcast of the cohort sizes.
    At 100 TB the firsts frame is |users| rows — the join stays
    key-partitioned with no skew (cohort keys only fan IN)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cw")
    )
    sizes = firsts.groupBy("cw").agg(F.count(F.lit(1)).alias("cohort_size"))
    act = ev.join(firsts, "user_id").select(
        "cw",
        F.expr(
            "CAST(datediff(CAST(date_trunc('week', ts) AS DATE), cw) div 7"
            " AS BIGINT)"
        ).alias("wk"),
        "user_id",
    )
    m = act.groupBy("cw", "wk").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    return m.join(F.broadcast(sizes), "cw").select(
        F.col("cw").cast("string").alias("cohort_week"),
        F.col("wk").alias("week_offset"),
        F.col("n_active").cast("long").alias("n_active"),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        F.expr("n_active * 1000000 div cohort_size")
        .cast("long")
        .alias("retention_ppm"),
    )
