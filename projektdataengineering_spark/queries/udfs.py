"""UDF/UDAF/UDTF surface (SURVEY.md §2.3 "UDF surface").

Policy (the whole point of this module): Python enters the plan ONLY via
Arrow-vectorized interfaces — ``pandas_udf`` for scalar, ``applyInPandas``
for grouped aggregation — never row-at-a-time UDFs. The UDTF case is
deliberately implemented WITHOUT Python at all (explode of a built-in
map construction): if a built-in can express the expansion, the UDF tier
is the wrong tier.

Scale notes: a pandas_udf ships Arrow batches to one Python worker per
core — ~10-100× the throughput of pickled row UDFs, but still an order
slower than codegen'd JVM expressions, which is why each docstring names
the built-in equivalent (the oracle states it in SQL).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from . import query


def _severity_score_udf():
    # Defined lazily: pandas_udf parses its DDL return type against the
    # active session, so a module-level definition would require Spark
    # at import time (the registry must import session-free).
    @F.pandas_udf("double")
    def _severity_score(value: pd.Series, type_len: pd.Series) -> pd.Series:
        # Reproducible float arithmetic only (no rounding, no
        # data-dependent order): bit-identical to value*2 + type_len.
        return value * 2.0 + type_len

    return _severity_score


@query(
    "udf_scalar",
    oracle="""
    SELECT event_id,
           value * 2.0 + length(event_type) AS severity_score
    FROM events
    """,
)
def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar UDF scoring events; the oracle is the
    equivalent pure-SQL expression, proving the UDF boundary doesn't
    change semantics. (In production this slot is for logic SQL can't
    express — tokenizers, model featurizers.)"""
    ev = load_table(spark, sf_dir, "events")
    score = _severity_score_udf()
    return ev.select(
        "event_id",
        score(F.col("value"), F.length("event_type").cast("double")).alias("severity_score"),
    )


def _group_median(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "event_type": [pdf["event_type"].iloc[0]],
            "median_value": [pdf["value"].median()],
            "n_events": [len(pdf)],
        }
    )


@query(
    "udaf_grouped",
    oracle="""
    SELECT event_type,
           median(value) AS median_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped pandas UDAF: per-type exact median via applyInPandas.
    Median is the canonical "needs full group in memory" aggregate —
    the honest cost is one shuffle + whole-group materialization per
    key; at 100 TB prefer percentile_approx unless exactness is
    required (both engines average the middle pair on even counts)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", "value")
        .groupBy("event_type")
        .applyInPandas(_group_median, schema="event_type string, median_value double, n_events long")
    )


@query(
    "udtf_explode_like",
    oracle="""
    SELECT event_id,
           k AS prop_key,
           CAST(json_extract_string(props, '$.' || k) AS BIGINT) AS prop_value
    FROM (
      SELECT event_id, props, unnest(json_keys(props)) AS k
      FROM events
    )
    """,
)
def udtf_explode_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row→many expansion of the props JSON object into (key, value)
    rows. Implemented with from_json(map) + explode — no Python: a
    built-in generator beats a UDTF whenever the expansion is
    expressible, keeping the whole plan in codegen."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.explode(F.from_json("props", "map<string,bigint>")).alias("prop_key", "prop_value"),
    )


@query(
    "udtf_python_native",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id,
           CAST((s.i - 1) // 10 AS INT) AS chunk_idx,
           array_to_string(t[s.i : s.i + 9], ' ') AS chunk,
           CAST(LEAST(10, len(t) - s.i + 1) AS INT) AS n_tokens
    FROM toks, LATERAL (
      SELECT unnest(range(1, len(t) + 1, 10)) AS i
    ) s(i)
    """,
)
def udtf_python_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 NATIVE Python UDTF (``@F.udtf``) — the table-function
    API surface itself, exercised on a real 1→N expansion: each
    document yields one row per 10-token chunk (a windowless fixed-
    width chunker). The module policy still holds — ``udtf_explode_like``
    shows the built-in tier for expansions a built-in can express; this
    query exists because the UDTF *interface* (analyze-less class-based
    eval, yield-per-row, registered + called from SQL) is part of the
    engine's declared UDF surface, and the oracle proves the Python
    expansion agrees with pure SQL row algebra.

    Scale shape: UDTFs run partition-parallel with rows streamed
    through the Python worker — same worker economics as a pandas_udf
    but row-oriented output; the oracle-equivalent built-in
    (posexplode over slice) is what production uses on the hot path
    (see pipeline_chunk_overlap). Output is deterministic per row, so
    partitioning cannot reorder semantics.

    The temporary function lives only while ``spark.sql`` resolves the
    query: it is dropped before the return, and the returned frame
    still runs, so no function outlives the call."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx int, chunk string, n_tokens int")
    class ChunkDoc:
        def eval(self, doc_id: int, text: str, width: int):
            toks = (text or "").split(" ")
            for k in range(0, len(toks), width):
                piece = toks[k : k + width]
                yield doc_id, k // width, " ".join(piece), len(piece)

    spark.udtf.register("chunk_doc_udtf", ChunkDoc)
    try:
        return spark.sql(
            "SELECT c.* FROM {docs} d, LATERAL chunk_doc_udtf(d.doc_id, d.text, 10) c",
            docs=load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        )
    finally:
        # the returned plan holds the resolved UDTF; the name may go
        spark.sql("DROP TEMPORARY FUNCTION chunk_doc_udtf")
