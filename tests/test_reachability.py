"""Every top-level package definition is reached from what the engine
serves, or is a named keep.

Reach starts at the roots: every ``@query`` function, every package
module-level statement that is neither an import nor a definition,
every identifier and non-docstring string constant of ``bench.py``,
``__spark_entry__.py``, ``tools/*.py`` and ``perfbench/*.py``, and the
``KEPT`` names.  It closes over the identifiers and non-docstring
strings in the bodies of reached definitions.  Names match by
identifier, not by module, so a collision can only over-reach.  A
definition that only tests reach is dead engine code: delete it, or
keep it in ``KEPT`` with the reason a test needs it.  Pure ``ast``; no
Spark session.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "projektdataengineering_spark"
SERVING = [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "tools").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
]

# Definitions no serving path reaches that stay, each with its reason.
KEPT: dict[str, str] = {
    # the reference pipeline's I/O seams (SURVEY.md §2.1)
    "read_jdbc_pushdown": "R3 JDBC scan with a pushed-down query",
    "jdbc_pushed_query": "R3 pushed-down JDBC query text",
    "write_jdbc_append": "R8 JDBC append",
    "read_binary_dir": "R11 binaryFile landing-zone scan",
    "write_parquet_append": "parquet append seam of the reference pipeline",
    "run_streaming_ingest": "streaming landing-zone ingest seam",
    "write_stream_idempotent": "idempotent streaming write seam",
    "read_json_lines": "JSON-lines read seam",
    "write_json_lines": "JSON-lines write seam",
    "write_bucketed": "bucketed-table write seam",
    "register_views": "temp-view registration seam",
    # ANN host verbs whose tests also pin reached generation builders
    "ivfpq_retrain_if_skewed": "ANN host verb: retrain the IVF-PQ index on cell skew",
    "commit_generation_cutover": "ANN host verb: cut serving over to a new index generation",
}

_NAME_PATH = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*")


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the docstring constants of every module, class and def."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant) \
                    and isinstance(body[0].value.value, str):
                out.add(id(body[0].value))
    return out


def _names(node: ast.AST, docs: set[int]) -> set[str]:
    """Identifiers, import names and the name paths of non-docstring
    strings under ``node``."""
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
        elif isinstance(sub, ast.alias):
            out.update(sub.name.split("."))
        elif isinstance(sub, ast.Constant) and isinstance(sub.value, str) and id(sub) not in docs \
                and _NAME_PATH.fullmatch(sub.value):
            out.update(sub.value.split("."))
    return out


def _is_query(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", getattr(d.func, "attr", None)) == "query"
        for d in getattr(node, "decorator_list", ())
    )


def _scan():
    """(definitions, root names, {asname: name}) over the package, with
    definitions as ``name -> [((path, line), names in its body)]``."""
    defs: dict[str, list[tuple[tuple[str, int], set[str]]]] = {}
    roots: set[str] = set()
    aliases: dict[str, str] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        docs = _docstrings(tree)
        rel = path.relative_to(ROOT)
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                aliases.update((a.asname, a.name.rsplit(".", 1)[-1]) for a in stmt.names if a.asname)
                continue
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [stmt.name]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [t.id for tgt in targets for t in ast.walk(tgt) if isinstance(t, ast.Name)]
            else:
                roots |= _names(stmt, docs)
                continue
            body = _names(stmt, docs)
            for name in names:
                defs.setdefault(name, []).append(((str(rel), stmt.lineno), body))
                if _is_query(stmt):
                    roots.add(name)
    for path in SERVING:
        tree = ast.parse(path.read_text(encoding="utf-8"))
        roots |= _names(tree, _docstrings(tree))
    return defs, roots, aliases


def _reach(defs, roots, aliases) -> set[str]:
    reached, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        if name in aliases:
            todo.append(aliases[name])
        for _, body in defs.get(name, ()):
            todo.extend(body - reached)
    return reached


def test_every_package_definition_is_reached_or_kept():
    defs, roots, aliases = _scan()
    reached = _reach(defs, roots | KEPT.keys(), aliases)
    unreached = sorted(
        (where, name)
        for name, sites in defs.items()
        if name not in reached and not (name.startswith("__") and name.endswith("__"))
        for where, _ in sites
    )
    assert not unreached, "unreached definitions (delete, or KEPT with a reason):\n" + "\n".join(
        f"{path}:{line}: {name}" for (path, line), name in unreached
    )


def test_kept_names_are_defined_needed_and_tested():
    """A keep is stale once production or another keep reaches it, and
    only earns its place while a test uses it (code embedded in a test's
    subprocess script counts)."""
    defs, roots, aliases = _scan()
    undefined = sorted(KEPT.keys() - defs.keys())
    assert not undefined, f"KEPT names no package module defines: {undefined}"
    stale = sorted(name for name in KEPT if name in _reach(defs, roots | (KEPT.keys() - {name}), aliases))
    assert not stale, f"KEPT names reached without their keep: {stale}"
    used = set()
    for path in (ROOT / "tests").glob("*.py"):
        if path.name != Path(__file__).name:
            tree = ast.parse(path.read_text(encoding="utf-8"))
            docs = _docstrings(tree)
            used |= _names(tree, docs)
            for node in ast.walk(tree):
                if isinstance(node, ast.Constant) and isinstance(node.value, str) and id(node) not in docs:
                    used.update(re.findall(r"[A-Za-z_]\w*", node.value))
    untested = sorted(KEPT.keys() - used)
    assert not untested, f"KEPT names no test uses: {untested}"
    assert all(reason.strip() for reason in KEPT.values())
