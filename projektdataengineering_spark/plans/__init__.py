"""Physical-plan audit helpers — the engine's "is this the plan I'd
want at 100 TB?" check, made executable.

The project rule (SURVEY.md §4, BASELINE.md) is that plan shape is part
of correctness: a scan that doesn't prune columns, a filter that doesn't
reach parquet, a dimension join that shuffles instead of broadcasting —
each is a 100× regression at scale that no row-count test can see.
These helpers parse `.explain("formatted")` output into facts that
tests/test_plans.py asserts per query family.

Only string-level parsing of the explain output is done here (no
Catalyst internals): the format is the public, stable surface Spark
documents for exactly this purpose.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    """The text `.explain(mode)` would print, as a value."""
    qe = df._jdf.queryExecution()  # noqa: SLF001 — no public capture API
    return df.sparkSession._jvm.PythonSQLUtils.explainString(qe, mode)  # noqa: SLF001


# Node names as they appear in formatted explain, e.g. "(4) Exchange".
_NODE_RE = re.compile(r"^\(\d+\)\s+([A-Za-z][A-Za-z0-9 ]*?)(?:\s+\[codegen id : \d+\])?\s*$", re.M)
_PUSHED_RE = re.compile(r"PushedFilters:\s*\[([^\]]*)\]")
_PARTFILTER_RE = re.compile(r"PartitionFilters:\s*\[([^\]]*)\]")
_READSCHEMA_RE = re.compile(r"ReadSchema:\s*struct<([^>]*)>")


@dataclass
class PlanFacts:
    """Counted facts about one physical plan."""

    nodes: list[str] = field(default_factory=list)
    pushed_filters: list[str] = field(default_factory=list)  # one entry per scan
    partition_filters: list[str] = field(default_factory=list)  # per partitioned scan
    read_schemas: list[list[str]] = field(default_factory=list)  # column names per scan
    text: str = ""  # the formatted explain the facts were parsed from

    def count(self, node_prefix: str) -> int:
        return sum(1 for n in self.nodes if n.startswith(node_prefix))

    def count_exact(self, node: str) -> int:
        """Exact node-name count — use when a prefix would over-match
        (e.g. count("Window") also counts WindowGroupLimit)."""
        return sum(1 for n in self.nodes if n == node)

    def details(self, node: str) -> list[str]:
        """The detail block (Input, Keys, Arguments, ...) of every node
        named exactly ``node``, in plan order."""
        blocks = re.split(r"^(?=\(\d+\) )", self.text.split("\n\n\n", 1)[-1], flags=re.M)
        return [b for b in blocks if (m := _NODE_RE.match(b)) and m.group(1).strip() == node]

    @property
    def shuffles(self) -> int:
        # "Exchange" = shuffle exchange; broadcast exchanges are named
        # "BroadcastExchange" and counted separately.
        return sum(1 for n in self.nodes if n == "Exchange")

    @property
    def broadcast_joins(self) -> int:
        return self.count("BroadcastHashJoin")

    @property
    def sort_merge_joins(self) -> int:
        return self.count("SortMergeJoin")

    @property
    def cartesian_like(self) -> int:
        return self.count("CartesianProduct") + self.count("BroadcastNestedLoopJoin")


def plan_facts(df: DataFrame) -> PlanFacts:
    text = explain_string(df, "formatted")
    facts = PlanFacts(nodes=[m.group(1).strip() for m in _NODE_RE.finditer(text)], text=text)
    facts.pushed_filters = [m.group(1).strip() for m in _PUSHED_RE.finditer(text)]
    facts.partition_filters = [
        m.group(1).strip() for m in _PARTFILTER_RE.finditer(text) if m.group(1).strip()
    ]
    for m in _READSCHEMA_RE.finditer(text):
        cols = [c.split(":", 1)[0] for c in m.group(1).split(",") if ":" in c]
        facts.read_schemas.append(cols)
    return facts


# Note: these are STATIC plan facts (pre-AQE). Broadcast-vs-shuffle
# choices from parquet size stats, pushed filters, pruned schemas and
# exchange counts are all decided at planning time and visible here;
# AQE can only further coalesce/convert at runtime, never un-push a
# filter or widen a schema — so every assertion made on these facts is
# a lower bound on the executed plan's quality.
