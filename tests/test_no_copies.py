"""No query fragment is written twice in the engine package.

Every package ``.py`` file is normalized: docstrings, imports, blank
lines and comment-only lines are dropped and each remaining line is
stripped.  Any window of ``WINDOW`` consecutive normalized lines with at
least ``MIN_CHARS`` characters that occurs twice in the package is a
copy: give it one definition and call it from every former site.  A
copy that has to wait goes in ``ALLOWED`` with its reason; an entry no
copy matches is stale.  Pure ``ast`` and text; no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

from test_reachability import PACKAGE, ROOT, _docstrings

WINDOW = 8
MIN_CHARS = 200

# A normalized line that occurs in a copy -> why that copy stays.
ALLOWED: dict[str, str] = {}


def _normalized(path: Path) -> list[tuple[int, str]]:
    """(line number, stripped text) of every line that is not part of a
    docstring or an import, not blank and not only a comment."""
    text = path.read_text(encoding="utf-8")
    tree = ast.parse(text)
    docs = _docstrings(tree)
    dropped = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)) or id(node) in docs:
            dropped.update(range(node.lineno, node.end_lineno + 1))
    return [
        (no, line.strip())
        for no, line in enumerate(text.splitlines(), 1)
        if no not in dropped and line.strip() and not line.strip().startswith("#")
    ]


def copy_groups() -> list[tuple[str, list[str]]]:
    """Each repeated run of windows as (its first window's text, the
    ``file:first-last`` span of every occurrence).  Repeated windows that
    overlap by the same shift in every occurrence merge into one run."""
    lines, sites = {}, {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        lines[rel] = _normalized(path)
        for i in range(len(lines[rel]) - WINDOW + 1):
            window = "\n".join(t for _, t in lines[rel][i:i + WINDOW])
            if len(window) - (WINDOW - 1) >= MIN_CHARS:
                sites.setdefault(window, []).append((rel, i))
    runs: list[list] = []
    for window, where in sorted(sites.items(), key=lambda kv: kv[1]):
        if len(where) < 2:
            continue
        for run in runs:
            last = run[2]
            shifts = {i - j for (_, i), (_, j) in zip(where, last)}
            if [f for f, _ in last] == [f for f, _ in where] and len(shifts) == 1 \
                    and 0 < shifts.pop() < WINDOW:
                run[2] = where
                break
        else:
            runs.append([window, where, where])
    return [
        (window, [
            f"{f}:{lines[f][i][0]}-{lines[f][j + WINDOW - 1][0]}" for (f, i), (_, j) in zip(first, last)
        ])
        for window, first, last in runs
    ]


def test_no_fragment_is_written_twice():
    groups = [(w, spans) for w, spans in copy_groups() if not any(k in w for k in ALLOWED)]
    assert not groups, f"{len(groups)} copied fragments (share one definition):\n" + "\n".join(
        " <-> ".join(spans) + "\n    " + window.splitlines()[0] for window, spans in groups
    )


def test_allowed_copies_are_current():
    windows = [w for w, _ in copy_groups()]
    stale = sorted(k for k in ALLOWED if not any(k in w for w in windows))
    assert not stale, f"ALLOWED entries no copy matches: {stale}"
    assert all(reason.strip() for reason in ALLOWED.values())
