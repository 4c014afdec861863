"""The plan claims have one home: tests/test_plans.py.

tools/dump_plans.py derives what it prints from that file. These checks
read source only — no Spark session.
"""

from __future__ import annotations

import ast
import glob
import os
import sys

from projektdataengineering_spark.queries import load_registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from dump_plans import plan_claims  # noqa: E402


def test_every_plan_test_states_its_claim_in_a_docstring():
    claims = plan_claims()
    assert claims
    assert [t for t, doc, _ in claims if not doc] == []


def test_every_collected_name_is_registered():
    registry = load_registry()
    claims = plan_claims()
    assert [t for t, _, names in claims if not names] == []
    assert [n for _, _, names in claims for n in names if n not in registry] == []


def test_no_tool_keeps_its_own_list_of_query_claims():
    """No literal list or tuple in tools/ is made of (registered query
    name, sentence) pairs, as the old HEADLINERS list was. A sentence is
    over 80 characters; the scale probe's query lists pair names with
    shorter family labels."""
    registry = load_registry()

    def is_claim(node):
        return (
            isinstance(node, ast.Tuple)
            and len(node.elts) == 2
            and all(isinstance(e, ast.Constant) and isinstance(e.value, str) for e in node.elts)
            and node.elts[0].value in registry
            and len(node.elts[1].value) > 80
        )

    found = []
    for path in glob.glob(os.path.join(ROOT, "tools", "*.py")):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, (ast.List, ast.Tuple)) and node.elts and all(
                map(is_claim, node.elts)
            ):
                found.append((os.path.basename(path), node.lineno))
    assert found == []
