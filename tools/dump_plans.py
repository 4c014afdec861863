#!/usr/bin/env python
"""Print the physical plans behind the plan claims in tests/test_plans.py.

Each test there that calls ``facts_of`` states its claim in its
docstring and names the registry queries it holds on. This tool reads
that file with ``ast`` and, for each such test, prints the docstring and
the formatted plan of every named query, as Catalyst produces it at
``SPARK_GRAFT_SF_DIR`` (default sf0.1; static plans, pre-AQE — AQE can
only coalesce or convert further at runtime, see plans/__init__.py).
The tests are the one home of the claims: this tool keeps no list.

Run from the repo root; Spark's log goes to stderr, so save the plans
with a redirect:

    python tools/dump_plans.py > plans.txt
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = os.path.join(ROOT, "tests", "test_plans.py")


def _is_facts_of(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "facts_of"
    )


def _query_names(fn: ast.FunctionDef) -> list[str]:
    """String literals ``fn`` passes to ``facts_of``: directly, or as the
    first element of each item of a literal tuple a ``for`` loop feeds
    into it."""
    args = [n.args[0] for n in ast.walk(fn) if _is_facts_of(n) and n.args]
    names = [a.value for a in args if isinstance(a, ast.Constant)]
    loop_vars = {a.id for a in args if isinstance(a, ast.Name)}
    for loop in ast.walk(fn):
        if not (isinstance(loop, ast.For) and isinstance(loop.iter, (ast.Tuple, ast.List))):
            continue
        target = loop.target.elts[0] if isinstance(loop.target, ast.Tuple) else loop.target
        if isinstance(target, ast.Name) and target.id in loop_vars:
            for item in loop.iter.elts:
                first = item.elts[0] if isinstance(item, ast.Tuple) else item
                names.append(first.value)
    return list(dict.fromkeys(names))


def plan_claims(path: str = TESTS) -> list[tuple[str, str | None, list[str]]]:
    """(test name, docstring, query names) of each test in ``path`` that
    calls ``facts_of``, in file order."""
    with open(path) as fh:
        tree = ast.parse(fh.read())
    return [
        (fn.name, ast.get_docstring(fn), _query_names(fn))
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        and fn.name.startswith("test_")
        and any(_is_facts_of(n) for n in ast.walk(fn))
    ]


def main() -> int:
    sys.path.insert(0, ROOT)
    from projektdataengineering_spark.plans import explain_string
    from projektdataengineering_spark.queries import load_registry
    from projektdataengineering_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="pde-plans")
    registry = load_registry()
    claims = plan_claims()
    print(f"# Plans behind the claims in tests/test_plans.py at {sf_dir}\n")
    n_plans = 0
    for test, doc, names in claims:
        print(f"## {test}\n\n{doc}\n")
        for name in names:
            text = explain_string(registry[name].fn(spark, sf_dir)).rstrip()
            print(f"### {name}\n\n```\n{text}\n```\n", flush=True)
            n_plans += 1
    print(f"{len(claims)} tests, {n_plans} plans", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
