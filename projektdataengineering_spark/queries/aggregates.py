"""Aggregation queries (SURVEY.md §2.3 "Aggregation").

Grounding: generalizes the reference's only two aggregates — the
hand-pushed-down scalar MAX for the incremental high-water mark
(/root/reference/spark_tasks/weather_task.py:72-76) and the row-count gate
(weather_task.py:93) — into the full group-by/rollup/cube/pivot surface.

Scale notes: all of these are single-shuffle hash aggregates with map-side
partial aggregation (Spark plans HashAggregate(partial) → Exchange →
HashAggregate(final)); none collect to the driver. Cardinality of every
grouping key here is tiny relative to input (flags, statuses), so the
shuffle moves only partial-agg state, not data — exactly the plan shape
you want at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import SQL_DAVG, SQL_DSUM, SQL_REVENUE, davg, dsum, money, revenue_expr
from . import query

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {SQL_DSUM.format(x="l_quantity")} AS sum_qty,
  {SQL_DSUM.format(x="l_extendedprice")} AS sum_base_price,
  CAST(SUM({SQL_REVENUE}) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(({SQL_REVENUE}) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  {SQL_DAVG.format(x="l_quantity")} AS avg_qty,
  {SQL_DAVG.format(x="l_extendedprice")} AS avg_price,
  {SQL_DAVG.format(x="l_discount")} AS avg_disc,
  CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
  CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("agg_groupby_multi", oracle=_Q1_ORACLE)
def agg_groupby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan→filter→group→8 aggregates.

    The flagship aggregate. Filter + column pruning push into the parquet
    scan; the 6-group output means the exchange after partial aggregation
    carries ~6 rows per map task regardless of input size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = revenue_expr()
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(rev).cast("double").alias("sum_disc_price"),
            F.sum(rev * (F.lit(1) + money("l_tax"))).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.min("l_quantity").cast("double").alias("min_qty"),
            F.max("l_quantity").cast("double").alias("max_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """countDistinct per group. Spark plans this as a two-phase expand +
    aggregate; the distinct key set (custkey) shuffles once — at scale
    prefer approx_count_distinct (below) when exactness isn't required."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "agg_having",
    oracle=f"""
    SELECT o_custkey,
           {SQL_DSUM.format(x="o_totalprice")} AS total_spend,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING {SQL_DSUM.format(x="o_totalprice")} > 1500000
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) — in DataFrame algebra simply a
    filter above the agg; Catalyst keeps it after the final aggregate."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            dsum("o_totalprice").alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("total_spend") > 1500000)
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {SQL_DSUM.format(x="l_quantity")} AS sum_qty,
           COUNT(*) AS n_rows,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with GROUPING() indicators
    distinguishing data-NULLs from subtotal-NULLs. Spark expands the
    grouping sets map-side; still one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           {SQL_DSUM.format(x="o_totalprice")} AS sum_price,
           COUNT(*) AS n_orders,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping sets in one pass."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        dsum("o_totalprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n_events,
           TRUE AS approx_ok
    FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event_type, hash-certified
    against the exact count (r7 ``agg_hll_merge`` graduation playbook).

    The HLL++ estimate itself has no DuckDB twin, so the driver hash
    pins what IS replayable: the grouping shape, the EXACT per-group
    distinct counts (computed alongside in the same single shuffle),
    and ``approx_ok`` — the claim that the rsd=0.02 sketch lands within
    max(2, 5%) of its exact count. HLL++'s estimate is a deterministic
    pure function of the value set, so the boolean is replay-stable; a
    broken sketch flips it to False and fails the hash. The estimate's
    exact values are additionally pinned in tests/test_operators.py.

    At 100 TB this is the operator that replaces agg_distinct's exact
    shuffle with fixed-size sketches merged map-side; the exact column
    here exists to certify the sketch, production keeps only the HLL."""
    ev = load_table(spark, sf_dir, "events")
    approx = F.approx_count_distinct("user_id", rsd=0.02)
    exact = F.count_distinct("user_id")
    return ev.groupBy("event_type").agg(
        exact.alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= F.greatest(F.lit(2.0), F.lit(0.05) * exact.cast("double"))
        ).alias("approx_ok"),
    )


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_COLS_SQL = ",\n".join(
    "      CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))) "
    f"FILTER (WHERE event_type = '{t}'), 0) AS DOUBLE) AS {t}"
    for t in _PIVOT_TYPES
)


@query(
    "agg_pivot",
    oracle=f"""
    SELECT user_id,
{_PIVOT_COLS_SQL}
    FROM events
    GROUP BY user_id
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into per-type value sums per user. The pivot
    value list is declared explicitly: at scale this avoids the extra
    distinct-values job AND keeps the output schema static (a driver
    contract requirement). Oracle = conditional aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.coalesce(F.sum(money("value")), F.lit(0)).cast("double"))
    )


@query(
    "agg_scalar_max",
    oracle="SELECT CAST(MAX(ts) AS TIMESTAMP) AS max_ts FROM events",
)
def agg_scalar_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global MAX(ts) — exactly the reference's high-water-mark lookup.

    The reference pushes this into Postgres by hand-writing a subquery as
    the JDBC table (weather_task.py:72-76). Engine-native form: a scalar
    aggregate over the columnar source; it scans the ts column of every
    file (Spark's parquet aggregate pushdown does not cover TIMESTAMP), and
    the single-row result is the only thing that reaches the driver. The
    batch pipeline reads its own mark from parquet footers instead
    (``operators.incremental.stored_high_water_mark``).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(F.max("ts").alias("max_ts"))


_GROUPING_SETS_SQL = f"""
    SELECT l_returnflag, l_linestatus,
           {SQL_DSUM.format(x="l_quantity")} AS sum_qty,
           COUNT(*) AS n_rows
    FROM {{lineitem}}
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """


@query("agg_grouping_sets", oracle=_GROUPING_SETS_SQL.format(lineitem="lineitem"))
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (neither rollup- nor cube-shaped),
    expressed through the engine's SQL surface in the oracle's own text,
    with the lineitem scan passed as a ``spark.sql`` DataFrame argument —
    the DataFrame API has no grouping-sets verb, and SQL text is itself
    a first-class entry point of this engine (the reference's serving
    client is raw SQL; SURVEY §3.3)."""
    return spark.sql(_GROUPING_SETS_SQL, lineitem=load_table(spark, sf_dir, "lineitem"))


# Final-projection formulas for agg_stats_moments, shared TEXTUALLY
# between the Spark query and the DuckDB oracle so both engines execute
# the identical IEEE double op sequence on identical exact inputs
# (the agg_corr_exact discipline).  Only +,-,*,/ and sqrt appear — all
# correctly-rounded IEEE — never pow() (libm pow differs across
# runtimes): skewness uses m3/(sqrt(m2)*m2), kurtosis m4/(m2*m2)-3.
# Population m2/m3/m4 (the definition F.skewness/F.kurtosis uses),
# sample variance/stddev.
_MOMENT_EXPRS: dict[str, str] = {
    "var_value": "round((sxx - sx * sx / n) / (n - 1.0), 9)",
    "stddev_value": "round(sqrt((sxx - sx * sx / n) / (n - 1.0)), 9)",
    "skew_value": (
        "round((sxxx / n - 3 * (sx / n) * (sxx / n) + 2 * (sx / n) * (sx / n) * (sx / n))"
        " / (sqrt(sxx / n - (sx / n) * (sx / n)) * (sxx / n - (sx / n) * (sx / n))), 9)"
    ),
    "kurt_value": (
        "round((sxxxx / n - 4 * (sx / n) * (sxxx / n)"
        " + 6 * (sx / n) * (sx / n) * (sxx / n)"
        " - 3 * (sx / n) * (sx / n) * (sx / n) * (sx / n))"
        " / ((sxx / n - (sx / n) * (sx / n)) * (sxx / n - (sx / n) * (sx / n))) - 3.0, 9)"
    ),
    "corr_value_hour": (
        "round((n * sxh - sx * sh)"
        " / sqrt((n * sxx - sx * sx) * (n * shh - sh * sh)), 9)"
    ),
}


@query(
    "agg_stats_moments",
    oracle=f"""
    WITH v AS (
      -- exact narrow powers: value is 2-dp and <= 490.02, so
      -- x2 <= 2.5e5 (DECIMAL(12,4)), x3 <= 1.2e8 (DECIMAL(18,6)),
      -- x4 <= 5.8e10 (DECIMAL(24,8)) — explicit casts because DuckDB's
      -- decimal-multiply widening rules differ from Spark's
      SELECT event_type, ts,
             CAST(value AS DECIMAL(7,2)) AS x,
             -- DECIMAL(19,4), not (12,4): width > 18 forces DuckDB's
             -- int128 multiply path; at (12,4) the x2*x2 product below
             -- would overflow the int64 kernel
             CAST(CAST(value AS DECIMAL(7,2)) * CAST(value AS DECIMAL(7,2))
                  AS DECIMAL(19,4)) AS x2
      FROM events
    ), s AS (
      SELECT event_type,
             COUNT(*) AS n_rows,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(x2) AS DOUBLE) AS sxx,
             CAST(SUM(x2 * x) AS DOUBLE) AS sxxx,
             CAST(SUM(x2 * x2) AS DOUBLE) AS sxxxx,
             CAST(SUM(CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS DOUBLE) AS sh,
             CAST(SUM(CAST(EXTRACT(hour FROM ts) AS BIGINT)
                      * CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS DOUBLE) AS shh,
             CAST(SUM(x * CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS DOUBLE) AS sxh
      FROM v
      GROUP BY event_type
    )
    SELECT event_type, n_rows,
           {_MOMENT_EXPRS["var_value"]} AS var_value,
           {_MOMENT_EXPRS["stddev_value"]} AS stddev_value,
           {_MOMENT_EXPRS["skew_value"]} AS skew_value,
           {_MOMENT_EXPRS["kurt_value"]} AS kurt_value,
           {_MOMENT_EXPRS["corr_value_hour"]} AS corr_value_hour
    FROM s
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per event type — sample stddev/variance,
    population skewness/kurtosis, value↔hour-of-day correlation —
    hash-checked against DuckDB (upgraded from round 1's rows-only).

    F.skewness/F.kurtosis run an order-dependent running-moment kernel,
    so their raw output can never hash-match a serial oracle. Instead
    the moments are rebuilt from EXACT power sums: value is 2-dp data
    (DECIMAL(7,2)-exact, checked at load in tests), its powers stay
    inside DECIMAL(31,8), and decimal sums are order-independent. The
    final projection is one fixed IEEE sequence over those exact
    scalars, textually identical in both engines (_MOMENT_EXPRS), so
    the result is bit-stable across partitionings.

    Scale shape: identical to any grouped sum — partial decimal power
    sums map-side, a K-row exchange, scalar projection."""
    ev = load_table(spark, sf_dir, "events")
    d = F.col("value").cast("decimal(7,2)")
    h = F.hour("ts").cast("bigint")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d).cast("double").alias("sx"),
        F.sum(d * d).cast("double").alias("sxx"),
        F.sum((d * d) * d).cast("double").alias("sxxx"),
        F.sum((d * d) * (d * d)).cast("double").alias("sxxxx"),
        F.sum(h).cast("double").alias("sh"),
        F.sum(h * h).cast("double").alias("shh"),
        F.sum(d * h).cast("double").alias("sxh"),
    )
    return s.select(
        "event_type",
        "n_rows",
        *[F.expr(expr).alias(name) for name, expr in _MOMENT_EXPRS.items()],
    )


@query(
    "subquery_avg_yearly",
    oracle=f"""
    SELECT {SQL_DSUM.format(x="l.l_extendedprice")} / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN (
      SELECT l_partkey,
             0.2 * ({SQL_DAVG.format(x="l_quantity")}) AS qty_thr
      FROM lineitem
      GROUP BY l_partkey
    ) t ON l.l_partkey = t.l_partkey
    WHERE l.l_quantity < t.qty_thr
    """,
)
def subquery_avg_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — a correlated scalar subquery, decorrelated the
    way Catalyst (and every modern planner) rewrites it: the per-part
    average becomes a grouped aggregate joined back on the correlation
    key, turning O(parts × lineitem) re-execution into one agg + one
    equi-join. Revenue below the 0.2×avg-quantity threshold, scaled to
    a yearly figure.

    The per-part aggregate output is small (one row per partkey), so AQE
    plans the join-back as a broadcast at bench scale; at 100 TB it
    degrades gracefully to a shuffle join on the same key the aggregate
    already partitioned by — no extra exchange on the big side beyond
    the one the join needs. Mean goes through exact DECIMAL (see
    functions.davg) so the 0.2× threshold is bit-identical to the
    oracle's."""
    li = load_table(spark, sf_dir, "lineitem")
    thr = (
        li.groupBy("l_partkey")
        .agg((F.lit(0.2) * davg("l_quantity")).alias("qty_thr"))
    )
    return (
        li.join(thr, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


_APPROX_QUANTILE_PS = (0.25, 0.5, 0.75, 0.99)

_AQ_EXACT_COLS_SQL = ",\n".join(
    f"      CAST(MAX(CASE WHEN rn = CAST(ceil({p} * n) AS BIGINT)"
    f" THEN o_totalprice END) AS DOUBLE) AS p{int(p * 100)}_exact"
    for p in _APPROX_QUANTILE_PS
)


@query(
    "agg_approx_quantile",
    oracle=f"""
    WITH ranked AS (
      SELECT o_orderstatus, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
      FROM orders
    )
    SELECT o_orderstatus, MAX(n) AS n_orders,
{_AQ_EXACT_COLS_SQL},
           TRUE AS approx_ok
    FROM ranked GROUP BY o_orderstatus
    """,
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p25/p50/p75/p99 of order totals per orderstatus via
    the Greenwald–Khanna sketch (`percentile_approx`, accuracy 10000 →
    rank error ε = 1e-4), hash-certified against exact discrete
    quantiles (r7 ``agg_hll_merge`` graduation playbook).

    The GK estimate's exact value depends on sketch merge order below
    the accuracy bound, so it has no bit-stable SQL twin. What the
    driver hash pins instead: the EXACT discrete quantiles (value at
    rank ceil(p·n) — an actual data element, so bit-identical across
    engines; oracle replays the same row_number selection) and
    ``approx_ok`` — the claim that every GK estimate's rank interval
    [count(<est)+1, count(≤est)] intersects the guaranteed window
    ceil(p·n) ± (ε·n + 1). The window is ±ε·n wide while the estimate
    wobbles far less, so the boolean is partitioning-stable; a broken
    sketch fails the hash. tests/test_operators.py additionally pins
    each estimate against DuckDB's exact quantiles.

    Scale shape: the GK sketch is the 100-TB operator (mergeable
    fixed-size state in the partial→final aggregate tree, no sort);
    the exact-quantile window and the certification join exist to
    certify it — production keeps only the sketch. The certification
    join broadcasts the 5-row estimate table back across orders (one
    extra scan, conditional counts, no shuffle growth)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    )
    qs = F.expr(
        "percentile_approx(o_totalprice, array(0.25, 0.5, 0.75, 0.99), 10000)"
    )
    est = orders.groupBy("o_orderstatus").agg(
        qs.getItem(0).alias("est25"),
        qs.getItem(1).alias("est50"),
        qs.getItem(2).alias("est75"),
        qs.getItem(3).alias("est99"),
    )

    # exact discrete quantiles: value at rank ceil(p*n) per group
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
    wn = Window.partitionBy("o_orderstatus")
    ranked = orders.select(
        "o_orderstatus",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    exact = ranked.groupBy("o_orderstatus").agg(
        F.max("n").alias("n_orders"),
        *[
            F.max(
                F.when(
                    F.col("rn")
                    == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
                    F.col("o_totalprice"),
                )
            )
            .cast("double")
            .alias(f"p{int(p * 100)}_exact")
            for p in _APPROX_QUANTILE_PS
        ],
    )

    # GK guarantee check: rank interval of each estimate must meet the
    # target window ceil(p*n) ± (eps*n + 1)
    eps = 1.0e-4
    cert_aggs = []
    for p in _APPROX_QUANTILE_PS:
        tag = int(p * 100)
        e = F.col(f"est{tag}")
        cert_aggs.append(
            F.sum(F.when(F.col("o_totalprice") < e, 1).otherwise(0)).alias(
                f"lt{tag}"
            )
        )
        cert_aggs.append(
            F.sum(F.when(F.col("o_totalprice") <= e, 1).otherwise(0)).alias(
                f"le{tag}"
            )
        )
    cert = (
        orders.join(F.broadcast(est), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_c"), *cert_aggs)
    )
    ok = F.lit(True)
    for p in _APPROX_QUANTILE_PS:
        tag = int(p * 100)
        target = F.ceil(F.lit(p) * F.col("n_c")).cast("double")
        slack = eps * F.col("n_c").cast("double") + 1.0
        ok = (
            ok
            & (F.col(f"le{tag}").cast("double") >= target - slack)
            & (F.col(f"lt{tag}").cast("double") + 1.0 <= target + slack)
        )
    return exact.join(
        F.broadcast(cert.select("o_orderstatus", ok.alias("approx_ok"))),
        "o_orderstatus",
    ).select(
        "o_orderstatus",
        "n_orders",
        *[f"p{int(p * 100)}_exact" for p in _APPROX_QUANTILE_PS],
        "approx_ok",
    )


@query(
    "agg_histogram",
    oracle=f"""
    SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
           {SQL_DSUM.format(x="o_totalprice")} AS sum_price
    FROM orders
    GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (25k-wide buckets) with
    per-bucket count/min/max/exact sum — the distribution profile a
    data-quality dashboard draws.

    The bucket id is `floor(x / width)` — one double divide, identical
    IEEE result in both engines, no width_bucket dialect differences.
    Plan shape is a plain partial→final hash aggregate on a few dozen
    keys: histogramming 100 TB moves only per-bucket states."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 25000.0).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


@query(
    "agg_corr_exact",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n_rows,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                      * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                      * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag, n_rows,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS corr_qty_price
    FROM s
    """,
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity↔price per returnflag, computed
    from exact-decimal co-moments instead of F.corr's running-moment
    kernel. The five sums are DECIMAL (order-independent, exact — the
    2-dp inputs multiply into DECIMAL(25,4) without rounding), and the
    final corr is one fixed sequence of IEEE double ops on those exact
    scalars — so unlike `agg_stats_moments` this IS bit-stable across
    partitionings and hash-matches the oracle.

    Scale shape: identical to any grouped sum — partial co-moment
    aggregation map-side, a K-row exchange, one final projection. This
    is how you get distributed-deterministic statistics at 100 TB:
    push exactness into the associative part, keep floating point for
    the final scalar step only. That last step is rounded to 9 dp on
    both sides because the engines' DECIMAL(38,4)→DOUBLE casts can
    differ by one ulp (DuckDB's conversion is not correctly rounded);
    everything upstream of the cast is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,2)")
    p = F.col("l_extendedprice").cast("decimal(12,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(p).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(p * p).cast("double").alias("syy"),
        F.sum(q * p).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag",
        "n_rows",
        F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9
        ).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# Exact weighted average (decimal numerator, integer denominator)
# ---------------------------------------------------------------------------


@query(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_quantity AS BIGINT)) AS DOUBLE)
           / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
             AS wavg_price,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per (returnflag, linestatus) —
    the weighted mean every pricing/composition report needs, kept
    exact: the numerator is a DECIMAL sum of price×quantity (2-dp
    money × whole-number weight — exact product, order-independent
    sum), the denominator an integer sum, and the quotient ONE IEEE
    division. A plain avg(price*qty)/avg-style formulation on doubles
    would be partitioning-dependent; this one hashes identically at
    any parallelism. Single map-side-combined shuffle on the two
    grouping keys."""
    li = load_table(spark, sf_dir, "lineitem")
    num = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("bigint")
    ).cast("double")
    den = F.sum(F.col("l_quantity").cast("bigint"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        (num / den.cast("double")).alias("wavg_price"),
        den.cast("bigint").alias("total_qty"),
    )


@query(
    "agg_hll_merge",
    oracle="""
    SELECT CAST(event_type AS VARCHAR) AS grp, FALSE AS is_total,
           COUNT(DISTINCT user_id) AS exact_distinct, TRUE AS sketch_ok
    FROM events GROUP BY event_type
    UNION ALL
    SELECT NULL AS grp, TRUE AS is_total,
           COUNT(DISTINCT user_id) AS exact_distinct, TRUE AS sketch_ok
    FROM events
    """,
)
def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-count sketches (operators/sketches.py)
    driven end-to-end: per-event-type sketches of the distinct-user
    population PLUS the global rollup computed by UNIONING the group
    sketches — never by re-scanning raw data. That mergeability is the
    100-TB primitive: the same fixed-width partials serve daily
    rollups, incremental maintenance, and cross-cluster federation.

    What the driver hash certifies (the estimate itself has no SQL
    twin — DataSketches HLL is not expressible in DuckDB): the
    grouping shape, the EXACT per-group and global distinct counts
    (computed alongside, SQL-replayable), and ``sketch_ok`` — the
    claim that every sketch estimate (including the union-of-partials
    global one) lands within max(2, 5%) of its exact count. The
    sketch is a deterministic pure function of the value set
    (registers are maxes over per-value hashes), so the boolean is
    replay-stable, and a broken sketch/union path flips it to False
    and fails the hash. The estimate's exact value and
    batching-independence are additionally pinned in
    tests/test_operators.py.

    Scale shape: one shuffle carrying (2^13-register sketch +
    count-distinct partials) per group; the global row unions the
    group sketches — at production you'd persist `sk` and skip the
    exact column, this query carries both precisely to certify one
    against the other."""
    from ..operators.sketches import hll_estimate, hll_partial, hll_union

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    per_group = ev.groupBy("event_type").agg(
        hll_partial("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_distinct"),
    )

    def ok(est, exact):
        return (
            F.abs(est.cast("double") - exact.cast("double"))
            <= F.greatest(F.lit(2.0), F.lit(0.05) * exact.cast("double"))
        ).alias("sketch_ok")

    groups = per_group.select(
        F.col("event_type").cast("string").alias("grp"),
        F.lit(False).alias("is_total"),
        F.col("exact_distinct"),
        ok(hll_estimate("sk"), F.col("exact_distinct")),
    )
    total_exact = ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
    total = (
        per_group.agg(hll_union("sk").alias("m"))
        .crossJoin(F.broadcast(total_exact))
        .select(
            F.lit(None).cast("string").alias("grp"),
            F.lit(True).alias("is_total"),
            F.col("exact_distinct"),
            ok(hll_estimate("m"), F.col("exact_distinct")),
        )
    )
    return groups.unionAll(total)


_MG_K = 400  # heavy-hitter threshold n/(k+1): ~0.25% of the corpus


@query(
    "agg_heavy_hitters_mg",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
      FROM documents
    ),
    counts AS (
      SELECT term, COUNT(*) AS exact_count FROM words
      WHERE term <> '' GROUP BY term
    )
    SELECT term, exact_count, TRUE AS in_summary, TRUE AS within_bound
    FROM counts ORDER BY exact_count DESC, term LIMIT 10
    """,
)
def agg_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters over the corpus vocabulary
    (operators/sketches.misra_gries_summary), certified against exact
    counts — the frequent-items member of the mergeable-summaries
    triad (HLL distinct / GK quantiles / MG heavy hitters). At 100 TB
    this is the operator behind "top boilerplate n-grams / dominant
    domains" reports: O(k) state per partition, ONE ids-only shuffle
    to merge, no full vocabulary aggregation.

    What the driver hash pins (the hll_merge playbook): the exact
    top-10 terms and counts (SQL-replayable), ``in_summary`` — the
    PODS'12 completeness theorem that every term with exact_count >
    n/(k+1) survives the merged summary — and ``within_bound`` — the
    underestimate-only error bound (exact − est) · (k+1) ≤ n, checked
    in pure integer arithmetic. MG counter VALUES are partition-order
    dependent (inherent), so they are deliberately NOT in the hashed
    output; the booleans are theorems and replay-stable at any
    parallelism. The fixture's top-10 counts sit far above the
    threshold (≥ 10× at every SF), so completeness never rides the
    boundary.

    The 1-row corpus total broadcasts onto the 10 certified rows —
    the allowlisted scalar-broadcast shape."""
    from ..operators.sketches import misra_gries_summary

    docs = load_table(spark, sf_dir, "documents").select("text")
    words = docs.select(
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.col("term") != "")
    summary = misra_gries_summary(words, "term", k=_MG_K)
    top10 = (
        words.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("term"))
        .limit(10)
    )
    n_total = words.agg(F.count(F.lit(1)).alias("n"))
    return (
        top10.join(summary, "term", "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            "term",
            "exact_count",
            F.col("est").isNotNull().alias("in_summary"),
            (
                F.col("est").isNotNull()
                & (F.col("est") <= F.col("exact_count"))
                & (
                    (F.col("exact_count") - F.col("est")) * (_MG_K + 1)
                    <= F.col("n")
                )
            ).alias("within_bound"),
        )
    )


_CMS_DEPTH = 4
_CMS_WIDTH = 8


@query(
    "agg_countmin_freq",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
      FROM documents
    ),
    counts AS (
      SELECT term, COUNT(*) AS exact_count FROM words
      WHERE term <> '' GROUP BY term
    ),
    hashed AS (
      SELECT term, exact_count,
             CAST(concat('0x', substr(md5(term || '#cms'), 1, 8))
                  AS BIGINT) AS h1,
             CAST(concat('0x', substr(md5(term || '#cms'), 9, 8))
                  AS BIGINT) AS h2
      FROM counts
    ),
    cells AS (
      SELECT r.j AS j,
             ((c.h1 + r.j * c.h2) % 4294967296) % {_CMS_WIDTH} AS b,
             SUM(c.exact_count) AS cell
      FROM hashed c, range(0, {_CMS_DEPTH}) r(j)
      GROUP BY 1, 2
    ),
    top10 AS (
      SELECT term, exact_count, h1, h2 FROM hashed
      ORDER BY exact_count DESC, term LIMIT 10
    )
    SELECT t.term, CAST(t.exact_count AS BIGINT) AS exact_count,
           CAST(MIN(cl.cell) AS BIGINT) AS cms_est,
           MIN(cl.cell) >= t.exact_count AS over_ok
    FROM top10 t
    JOIN range(0, {_CMS_DEPTH}) r(j) ON TRUE
    JOIN cells cl
      ON cl.j = r.j
     AND cl.b = ((t.h1 + r.j * t.h2) % 4294967296) % {_CMS_WIDTH}
    GROUP BY t.term, t.exact_count
    ORDER BY exact_count DESC, term
    """,
)
def agg_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimation over the corpus vocabulary
    (operators/sketches.count_min_cells), completing the mergeable
    sketch trio: HLL (distinct), Misra-Gries (heavy hitters), CMS
    (point frequencies). The certified output is the exact top-10
    terms with their CMS estimates and the overestimate-only theorem
    (cell sums of non-negative counts can never undercount).

    Stronger certification than MG's: CMS cells are SUMS, so the
    sketch is partition-order independent — the ESTIMATE VALUES
    themselves are in the driver hash, replayed cell-for-cell by the
    DuckDB oracle from the same md5 hash family (d={_CMS_DEPTH},
    w={_CMS_WIDTH}: the fixture vocabulary is 31 terms, so the
    sketch runs ~4× loaded — collisions are real and the estimates
    genuinely overestimate, the interesting regime rather than a
    trivially-exact sparse sketch; at production scale w grows with
    the memory budget, never with the vocabulary).

    Scale: the sketch aggregation never touches per-term state —
    partial aggregation collapses each partition to ≤ d×w cells
    before ONE tiny exchange; the d×w-cell sketch then broadcasts
    onto the certified rows. The exact top-10 twin is
    certification-only (at 100 TB you'd certify against a sampled or
    domain-restricted exact count; the sketch path itself never
    needs it)."""
    from ..operators.sketches import count_min_cells

    docs = load_table(spark, sf_dir, "documents").select("text")
    words = docs.select(
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.col("term") != "")
    cells = count_min_cells(words, "term", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    top10 = (
        words.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("term"))
        .limit(10)
    )
    ph = F.md5(F.concat(F.col("term"), F.lit("#cms")))
    probes = top10.select(
        "term",
        "exact_count",
        F.conv(F.substring(ph, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(ph, 9, 8), 16, 10).cast("long").alias("h2"),
        F.explode(F.array(*[F.lit(i) for i in range(_CMS_DEPTH)])).alias("j"),
    ).select(
        "term",
        "exact_count",
        "j",
        (
            (F.col("h1") + F.col("j") * F.col("h2"))
            % F.lit(1 << 32)
            % _CMS_WIDTH
        ).alias("b"),
    )
    return (
        probes.join(F.broadcast(cells), ["j", "b"])
        .groupBy("term", "exact_count")
        .agg(F.min("cell").alias("cms_est"))
        .select(
            "term",
            F.col("exact_count").cast("bigint").alias("exact_count"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") >= F.col("exact_count")).alias("over_ok"),
        )
        .orderBy(F.desc("exact_count"), F.asc("term"))
    )


_BLOOM_M = 4096
_BLOOM_K = 3


@query(
    "agg_bloom_membership",
    oracle=f"""
    WITH keys AS (SELECT DISTINCT o_custkey FROM orders
              WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 450000),
    keyh AS (
      SELECT CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)
                  || '#bloom'), 1, 8)) AS BIGINT) AS h1,
             CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)
                  || '#bloom'), 9, 8)) AS BIGINT) AS h2
      FROM keys
    ),
    positions AS (
      SELECT ((h1 + r.j * h2) % 4294967296) % {_BLOOM_M} AS pos
      FROM keyh, range(0, {_BLOOM_K}) r(j)
    ),
    words AS (
      SELECT pos // 63 AS w,
             BIT_OR(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS bits
      FROM positions GROUP BY 1
    ),
    probe AS (
      SELECT c_custkey, c_mktsegment,
             ((h1 + r.j * h2) % 4294967296) % {_BLOOM_M} AS pos
      FROM (
        SELECT c_custkey, c_mktsegment,
               CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)
                    || '#bloom'), 1, 8)) AS BIGINT) AS h1,
               CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)
                    || '#bloom'), 9, 8)) AS BIGINT) AS h2
        FROM customer
      ) c, range(0, {_BLOOM_K}) r(j)
    ),
    memb AS (
      SELECT p.c_custkey, p.c_mktsegment,
             MIN(CASE WHEN b.bits IS NOT NULL
                       AND (b.bits & (CAST(1 AS BIGINT)
                                      << CAST(p.pos % 63 AS INT))) <> 0
                      THEN 1 ELSE 0 END) AS member
      FROM probe p LEFT JOIN words b ON b.w = p.pos // 63
      GROUP BY 1, 2
    ),
    joined AS (
      SELECT m.c_mktsegment, m.member,
             CASE WHEN k.o_custkey IS NULL THEN 0 ELSE 1 END AS actual
      FROM memb m LEFT JOIN keys k ON k.o_custkey = m.c_custkey
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(actual) AS BIGINT) AS n_actual,
           CAST(SUM(member) AS BIGINT) AS n_pass_filter,
           CAST(SUM(CASE WHEN member = 1 AND actual = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           BOOL_AND(member >= actual) AS fn_free
    FROM joined GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def agg_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, certified end-to-end
    (operators/sketches.bloom_filter_words): build the filter over the
    custkeys holding an urgent >450k order (a ~18% selective build
    side — the filtered-dimension shape that makes runtime filters
    pay), probe EVERY customer, and compare the filter's verdict
    against the exact semi-join — the runtime-filter
    pattern that at 100 TB discards probe-side rows BEFORE the join
    shuffle (broadcast a few-KB word table instead of shuffling the
    fact table against a dimension that matches a fraction of it).

    The driver hash pins: per-segment customer counts, exact semi-join
    matches, how many customers PASS the filter, the FALSE-POSITIVE
    count (real and SF-dependent: m={_BLOOM_M} is fixture-sized, so
    the filter runs lightly loaded at sf0.01 and saturating at sf1 —
    the honest regime spectrum; production sizes m to the build-side
    cardinality), and ``fn_free`` — the zero-false-negative THEOREM
    (bit_or only sets bits, so member ≥ actual always). The word
    table itself is deterministic (md5 positions, commutative OR), so
    the FP count replays exactly in DuckDB — sketch VALUES in the
    hash, the CMS discipline.

    Scale: filter build = {_BLOOM_K}-way fanout + partial-aggregated
    groupBy to ≤ {_BLOOM_M // 63 + 1} words; probe = broadcast join
    on word index + one groupBy(custkey); certification join is
    oracle-side only in production."""
    from ..operators.sketches import bloom_filter_words

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    urgent = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 450000)
    )
    keys = urgent.select(
        F.col("o_custkey").cast("string").alias("t")
    ).distinct()
    words = bloom_filter_words(keys, "t", m_bits=_BLOOM_M, k_hashes=_BLOOM_K)
    j = F.explode(F.array(*[F.lit(i) for i in range(_BLOOM_K)])).alias("j")
    bh = F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit("#bloom")))
    pos = (
        (F.col("h1") + F.col("j") * F.col("h2")) % F.lit(1 << 32) % _BLOOM_M
    )
    probe = (
        cust.select(
            "c_custkey",
            "c_mktsegment",
            F.conv(F.substring(bh, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(bh, 9, 8), 16, 10).cast("long").alias("h2"),
        )
        .select("c_custkey", "c_mktsegment", "h1", "h2", j)
        .select("c_custkey", "c_mktsegment", pos.alias("pos"))
        .select(
            "c_custkey",
            "c_mktsegment",
            F.expr("pos div 63").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").alias("mask"),
        )
    )
    hit = F.when(
        F.col("bits").isNotNull() & ((F.col("bits").bitwiseAND(F.col("mask"))) != 0),
        1,
    ).otherwise(0)
    memb = (
        probe.join(F.broadcast(words), "w", "left")
        .select("c_custkey", "c_mktsegment", hit.alias("hit"))
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.min("hit").alias("member"))
    )
    actual_keys = urgent.select(F.col("o_custkey").alias("c_custkey")).distinct()
    joined = memb.join(
        actual_keys.withColumn("actual", F.lit(1)), "c_custkey", "left"
    ).select(
        "c_mktsegment",
        "member",
        F.coalesce(F.col("actual"), F.lit(0)).alias("actual"),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("actual").cast("bigint").alias("n_actual"),
            F.sum("member").cast("bigint").alias("n_pass_filter"),
            F.sum(
                F.when((F.col("member") == 1) & (F.col("actual") == 0), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_false_pos"),
            F.min(F.col("member") >= F.col("actual")).alias("fn_free"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# agg_quantile_sketch — mergeable log-histogram quantile sketch (DDSketch-
# style, public Masson et al. 2019), quarter-bit buckets, integer-exact
# ---------------------------------------------------------------------------

# Bucket index = floor(4·log2(cents)) — the corpus_ops quarter-bit
# discipline with b=1: whole bits from bin-length, fractional quarter
# from an EXACT fourth-power comparison (no float log on either
# engine).  Bucket width 2^(1/4) ⇒ any value in the chosen bucket is
# within ×1.19 of the true quantile — the DDSketch relative-error
# guarantee, here with α = 2^(1/4) − 1.
# Domain: cents < 2^31, so fourth powers fit DECIMAL(38,0)/HUGEINT
# (values are money cents; $21M per event is far above any fixture or
# production event value — wider domains would switch to eighth-root
# pre-reduction, not bigger decimals).
_QSK_BUCKET_SQL = """
    CASE WHEN {c} <= 0 THEN -1 ELSE
      (4 * (length(bin({c})) - 1)
       + CASE
           WHEN CAST({c} AS HUGEINT) * {c} * {c} * {c} >=
                8 * ((CAST(1 AS HUGEINT) << (length(bin({c})) - 1))
                     * (CAST(1 AS HUGEINT) << (length(bin({c})) - 1))
                     * (CAST(1 AS HUGEINT) << (length(bin({c})) - 1))
                     * (CAST(1 AS HUGEINT) << (length(bin({c})) - 1))) THEN 3
           WHEN CAST({c} AS HUGEINT) * {c} * {c} * {c} >=
                4 * ((CAST(1 AS HUGEINT) << (length(bin({c})) - 1))
                     * (CAST(1 AS HUGEINT) << (length(bin({c})) - 1))
                     * (CAST(1 AS HUGEINT) << (length(bin({c})) - 1))
                     * (CAST(1 AS HUGEINT) << (length(bin({c})) - 1))) THEN 2
           WHEN CAST({c} AS HUGEINT) * {c} * {c} * {c} >=
                2 * ((CAST(1 AS HUGEINT) << (length(bin({c})) - 1))
                     * (CAST(1 AS HUGEINT) << (length(bin({c})) - 1))
                     * (CAST(1 AS HUGEINT) << (length(bin({c})) - 1))
                     * (CAST(1 AS HUGEINT) << (length(bin({c})) - 1))) THEN 1
           ELSE 0
         END)
    END
"""

_QSK_SQL = f"""
    WITH v AS (
      SELECT event_type, event_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), b AS (
      SELECT event_type, {_QSK_BUCKET_SQL.format(c="cents")} AS bucket FROM v
    ), sketch AS (
      SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM b GROUP BY event_type, bucket
    ), cum AS (
      SELECT event_type, bucket,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM sketch
    ), qs AS (
      SELECT unnest([50, 95, 99]) AS q
    ), est AS (
      SELECT event_type, q, CAST(MIN(bucket) AS BIGINT) AS est_bucket
      FROM cum JOIN qs ON cum >= (q * n + 99) // 100
      GROUP BY event_type, q
    ), ranked AS (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ), exact AS (
      SELECT r.event_type, qs.q, r.cents AS exact_cents, r.n
      FROM ranked r JOIN qs ON r.rn = (qs.q * r.n + 99) // 100
    )
    SELECT e.event_type, CAST(e.q AS BIGINT) AS q, CAST(e.n AS BIGINT) AS n,
           e.exact_cents, s.est_bucket,
           ({_QSK_BUCKET_SQL.format(c="e.exact_cents")}) = s.est_bucket
             AS contains_ok
    FROM exact e JOIN est s USING (event_type, q)
"""


@query("agg_quantile_sketch", oracle=_QSK_SQL)
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch — the missing member of the sketch kit
    (HLL distinct / MG heavy hitters / CMS frequency / Bloom
    membership / THIS for quantiles).  DDSketch-style (Masson et al.,
    VLDB 2019, public): values map to quarter-bit log buckets
    (floor(4·log2(cents)), integer-exact via bin-length + fourth-power
    comparison — no float log), the sketch is the per-(group, bucket)
    count table (sums ⇒ mergeable, order-independent, O(#buckets) ≈ 80
    state per group), and quantile q reads the first bucket whose
    cumulative count reaches rank ⌈q·n⌉.

    Certified like agg_hll_merge: the EXACT quantile (positional order
    statistic, rank ⌈q·n⌉ with the unique event_id tiebreak) rides
    along, and ``contains_ok`` asserts the THEOREM that the sketch's
    chosen bucket contains the exact quantile — which pins the
    relative error to the bucket width, ×2^(1/4) ≈ 1.19 (DDSketch's
    α-guarantee with α = 2^(1/4)−1). Hash-matching the boolean proves
    both engines implement the identical bucket arithmetic.

    Plan shape: the sketch is ONE partial→final aggregate on
    (event_type, bucket) — partial aggregation IS the distributed
    sketch merge, exactly how 1000 executors would each fold their
    partition's histogram; the quantile spec fans out MAP-SIDE
    (explode of a 3-literal array — no theta join in the Spark plan).
    The exact-rank pass (one window exchange) exists only for
    certification; a production 100-TB run ships the sketch alone.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
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
    bucket = (
        F.when(F.col("cents") <= 0, F.lit(-1))
        .otherwise(4 * whole + frac)
        .cast("long")
    )
    sketch = (
        ev.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = sketch.select(
        "event_type",
        "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    # quantile spec fans out map-side — explode of a literal array, so
    # the plan stays equi-only (no theta/nested-loop join)
    qspec = F.explode(F.array(F.lit(50), F.lit(95), F.lit(99))).alias("q")
    est = (
        cum.select("event_type", "bucket", "cum", "n", qspec)
        .filter(F.col("cum") >= F.expr("(q * n + 99) div 100"))
        .groupBy("event_type", "q")
        .agg(F.min("bucket").cast("long").alias("est_bucket"))
    )
    w_rank = Window.partitionBy("event_type").orderBy("cents", "event_id")
    ranked = ev.select(
        "event_type",
        "cents",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    exact = (
        ranked.select("event_type", "cents", "rn", "n", qspec)
        .filter(F.col("rn") == F.expr("(q * n + 99) div 100"))
        .select(
            "event_type",
            "q",
            F.col("cents").alias("exact_cents"),
            F.col("n").cast("long").alias("n"),
        )
    )
    ex_whole = F.expr("length(bin(exact_cents)) - 1")
    ex_y = F.expr("shiftleft(CAST(1 AS BIGINT), length(bin(exact_cents)) - 1)")
    ex_dec = F.col("exact_cents").cast("decimal(19,0)")
    ex4 = ex_dec * ex_dec * ex_dec * ex_dec
    ey_dec = ex_y.cast("decimal(19,0)")
    ey4 = ey_dec * ey_dec * ey_dec * ey_dec
    ex_frac = (
        F.when(ex4 >= 8 * ey4, 3)
        .when(ex4 >= 4 * ey4, 2)
        .when(ex4 >= 2 * ey4, 1)
        .otherwise(0)
    )
    ex_bucket = (
        F.when(F.col("exact_cents") <= 0, F.lit(-1))
        .otherwise(4 * ex_whole + ex_frac)
        .cast("long")
    )
    return (
        exact.join(est, ["event_type", "q"])
        .select(
            "event_type",
            F.col("q").cast("long").alias("q"),
            "n",
            "exact_cents",
            "est_bucket",
            (ex_bucket == F.col("est_bucket")).alias("contains_ok"),
        )
    )


# ---------------------------------------------------------------------------
# agg_sketch_overlap — theta/KMV set algebra: union, intersection, and
# both differences estimated from mergeable bottom-k sketches, each
# certified against its exact twin (the agg_hll_merge discipline)
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_HEXW = 12  # 12 hex digits = 48 bits; parses exactly into BIGINT
_KMV_ONE = 1 << 48  # θ = 1.0 on the 48-bit hash scale
_KMV_SHARDS = 64


def _kmv_parse_sql(col: str) -> str:
    """DuckDB: value of the first 12 hex chars of an md5 digest, by
    alphabet position (the engine-portable discipline — never a
    hex→int builtin, which the two engines don't share)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substring({col}, {i + 1}, 1)) - 1)"
        f" * {16 ** (_KMV_HEXW - 1 - i)}"
        for i in range(_KMV_HEXW)
    )


_SKETCH_OVERLAP_SQL = f"""
    WITH days AS (
      SELECT o_custkey AS ck,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS d
      FROM orders
    ), bounds AS (
      SELECT MIN(d) AS d0, MAX(d) AS d1 FROM days
    ), seg AS (
      SELECT DISTINCT 'A' AS tag, ck FROM days, bounds WHERE d < d0 + 365
      UNION ALL
      SELECT DISTINCT 'B' AS tag, ck FROM days, bounds WHERE d >= d1 - 365
    ), hashed AS (
      SELECT tag, ck, md5(CAST(ck AS VARCHAR) || '#kmv') AS h FROM seg
    ), ranked AS (
      SELECT tag, h,
             ROW_NUMBER() OVER (PARTITION BY tag ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY tag) AS n
      FROM hashed
    ), theta AS (
      SELECT CAST(MIN(CASE WHEN n >= {_KMV_K}
                           THEN ({_kmv_parse_sql('h')})
                           ELSE {_KMV_ONE} END) AS BIGINT) AS t
      FROM ranked WHERE rn = {_KMV_K} OR n < {_KMV_K}
    ), ret AS (
      SELECT tag, h, CAST({_kmv_parse_sql('h')} AS BIGINT) AS hv
      FROM ranked WHERE rn <= {_KMV_K}
    ), samples AS (
      SELECT COALESCE(a.hv, b.hv) AS hv,
             a.h IS NOT NULL AS ina, b.h IS NOT NULL AS inb
      FROM (SELECT h, hv FROM ret WHERE tag = 'A') a
      FULL JOIN (SELECT h, hv FROM ret WHERE tag = 'B') b ON a.h = b.h
    ), est AS (
      SELECT
        SUM(CASE WHEN hv < t THEN 1 ELSE 0 END) * {_KMV_ONE} // MAX(t)
          AS e_union,
        SUM(CASE WHEN hv < t AND ina AND inb THEN 1 ELSE 0 END)
          * {_KMV_ONE} // MAX(t) AS e_inter,
        SUM(CASE WHEN hv < t AND ina AND NOT inb THEN 1 ELSE 0 END)
          * {_KMV_ONE} // MAX(t) AS e_ab,
        SUM(CASE WHEN hv < t AND inb AND NOT ina THEN 1 ELSE 0 END)
          * {_KMV_ONE} // MAX(t) AS e_ba
      FROM samples, theta
    ), flags AS (
      SELECT ck, MAX(CASE WHEN tag = 'A' THEN 1 ELSE 0 END) AS ia,
             MAX(CASE WHEN tag = 'B' THEN 1 ELSE 0 END) AS ib
      FROM seg GROUP BY ck
    ), exact AS (
      SELECT COUNT(*) AS x_union,
             SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) AS x_inter,
             SUM(CASE WHEN ia = 1 AND ib = 0 THEN 1 ELSE 0 END) AS x_ab,
             SUM(CASE WHEN ia = 0 AND ib = 1 THEN 1 ELSE 0 END) AS x_ba
      FROM flags
    )
    SELECT m.measure,
           CAST(m.est AS BIGINT) AS est,
           CAST(m.exact AS BIGINT) AS exact,
           ABS(m.est - m.exact)
             <= GREATEST(16, (e2.x_union * 25) // 100) AS within_bound
    FROM (
      SELECT 'union' AS measure, e_union AS est, x_union AS exact
        FROM est, exact
      UNION ALL
      SELECT 'intersection', e_inter, x_inter FROM est, exact
      UNION ALL
      SELECT 'a_minus_b', e_ab, x_ab FROM est, exact
      UNION ALL
      SELECT 'b_minus_a', e_ba, x_ba FROM est, exact
    ) m, exact e2
"""


@query("agg_sketch_overlap", oracle=_SKETCH_OVERLAP_SQL)
def agg_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style SET ALGEBRA over mergeable bottom-k (KMV)
    sketches — the audience-overlap estimator that completes the
    sketch kit: agg_hll_merge unions distinct counts, this one also
    INTERSECTS and DIFFERENCES them. Segments: customers active in the
    order log's first year (A) vs its last year (B), both bounds
    data-derived in integer epoch-days.

    Sketch = the {_KMV_K} lexicographically-smallest md5 digests of
    each segment's distinct keys (bottom-k IS the mergeable theta
    sketch: union of sketches = sketch of union). θ* = min of the two
    sketch thresholds (the 48-bit value of the k-th digest; 1.0 for a
    segment still in exact mode); every retained digest below θ* is a
    uniform θ*-rate sample of the union, so
    |{{samples ∈ X}}| · 2⁴⁸ div θ* estimates |X| for ANY boolean
    combination X of the segments — one sample table serves all four
    measures (Dasgupta et al., "Theta Sketch Framework", and the KMV
    k-minimum-values line of Bar-Yossef et al.). All arithmetic is
    BIGINT (48-bit hash values, `div` scaling), so the estimates
    replay bit-exactly in DuckDB; when a segment holds fewer than k
    keys the sketch degrades to the exact set and the estimator
    returns exact counts (the sf0.001 path).

    Certification (the agg_hll_merge pattern): each row carries the
    estimate, its EXACT twin, and ``within_bound`` — |est − exact| ≤
    max(16, 25% of the exact union), ≈4 standard errors at k={_KMV_K}
    (measured errors ≤6% of union across the fixtures); a broken
    sketch, threshold, or sample-classification path flips the boolean
    and fails the hash.

    Scale shape: the per-segment bottom-k runs as a two-level min-k —
    k smallest per (segment, 64-way key shard), then k smallest of the
    ≤64k survivors — exact by the mergeability of min-k, with no
    single-reducer sort of a whole segment (the window's PARTITION BY
    tag would otherwise funnel each segment through one task at
    100 TB). Exact twins are one distinct aggregate + one flag rollup;
    everything downstream of the sketches is O(k)."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    days = o.select(
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("d"),
    )
    b = days.agg(F.min("d").alias("d0"), F.max("d").alias("d1")).collect()[0]
    seg = (
        days.filter(F.col("d") < b["d0"] + 365)
        .select(F.lit("A").alias("tag"), "ck")
        .distinct()
        .unionAll(
            days.filter(F.col("d") >= b["d1"] - 365)
            .select(F.lit("B").alias("tag"), "ck")
            .distinct()
        )
    )
    hashed = seg.select(
        "tag",
        "ck",
        F.md5(F.concat(F.col("ck").cast("string"), F.lit("#kmv"))).alias("h"),
    )
    # two-level exact min-k (see docstring): shard-local k-smallest,
    # then global k-smallest of the survivors
    shard = F.pmod(F.xxhash64("ck"), F.lit(_KMV_SHARDS))
    w_shard = Window.partitionBy("tag", shard).orderBy("h")
    local = hashed.withColumn("rn", F.row_number().over(w_shard)).filter(
        F.col("rn") <= _KMV_K
    )
    w_tag = Window.partitionBy("tag").orderBy("h")
    ranked = (
        local.select("tag", "h")
        .withColumn("rn", F.row_number().over(w_tag))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("tag")))
    )
    # n from the SURVIVORS equals min(true n, shards*k); exact-mode
    # detection needs the true per-segment count, which survives the
    # local cut iff true n < k (then every row survives). n >= k in
    # survivor space <=> true n >= k, so the θ rule is unchanged.
    hv = F.conv(F.substring("h", 1, _KMV_HEXW), 16, 10).cast("long")
    theta = (
        ranked.filter((F.col("rn") == _KMV_K) | (F.col("n") < _KMV_K))
        .select(
            F.when(F.col("n") >= _KMV_K, hv).otherwise(F.lit(_KMV_ONE)).alias("t")
        )
        .agg(F.min("t").alias("t"))
    )
    ret = ranked.filter(F.col("rn") <= _KMV_K).select("tag", "h", hv.alias("hv"))
    a = ret.filter(F.col("tag") == "A").select(
        F.col("h").alias("ha"), F.col("hv").alias("va")
    )
    bb = ret.filter(F.col("tag") == "B").select(
        F.col("h").alias("hb"), F.col("hv").alias("vb")
    )
    samples = (
        a.join(bb, a.ha == bb.hb, "full_outer")
        .crossJoin(F.broadcast(theta))
        .select(
            F.coalesce("va", "vb").alias("hv"),
            F.col("ha").isNotNull().alias("ina"),
            F.col("hb").isNotNull().alias("inb"),
            "t",
        )
    )
    under = F.col("hv") < F.col("t")
    est = samples.agg(
        F.expr(
            f"sum(CASE WHEN hv < t THEN 1 ELSE 0 END) * {_KMV_ONE} div max(t)"
        ).alias("e_union"),
        F.expr(
            f"sum(CASE WHEN hv < t AND ina AND inb THEN 1 ELSE 0 END)"
            f" * {_KMV_ONE} div max(t)"
        ).alias("e_inter"),
        F.expr(
            f"sum(CASE WHEN hv < t AND ina AND NOT inb THEN 1 ELSE 0 END)"
            f" * {_KMV_ONE} div max(t)"
        ).alias("e_ab"),
        F.expr(
            f"sum(CASE WHEN hv < t AND inb AND NOT ina THEN 1 ELSE 0 END)"
            f" * {_KMV_ONE} div max(t)"
        ).alias("e_ba"),
    )
    flags = seg.groupBy("ck").agg(
        F.max(F.when(F.col("tag") == "A", 1).otherwise(0)).alias("ia"),
        F.max(F.when(F.col("tag") == "B", 1).otherwise(0)).alias("ib"),
    )
    exact = flags.agg(
        F.count(F.lit(1)).alias("x_union"),
        F.sum(F.when((F.col("ia") == 1) & (F.col("ib") == 1), 1).otherwise(0))
        .alias("x_inter"),
        F.sum(F.when((F.col("ia") == 1) & (F.col("ib") == 0), 1).otherwise(0))
        .alias("x_ab"),
        F.sum(F.when((F.col("ia") == 0) & (F.col("ib") == 1), 1).otherwise(0))
        .alias("x_ba"),
    )
    wide = est.crossJoin(F.broadcast(exact))
    rows = [
        ("union", "e_union", "x_union"),
        ("intersection", "e_inter", "x_inter"),
        ("a_minus_b", "e_ab", "x_ab"),
        ("b_minus_a", "e_ba", "x_ba"),
    ]
    out = None
    for measure, e, x in rows:
        r = wide.select(
            F.lit(measure).alias("measure"),
            F.col(e).cast("long").alias("est"),
            F.col(x).cast("long").alias("exact"),
            (
                F.abs(F.col(e) - F.col(x))
                <= F.greatest(F.lit(16), F.expr("(x_union * 25) div 100"))
            ).alias("within_bound"),
        )
        out = r if out is None else out.unionAll(r)
    return out
