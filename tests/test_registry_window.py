"""The driver's correctness window rotates to the stalest evidence.

The driver records the first 50 ``load_registry()`` entries each round
into ``CORRECTNESS_r{N}.json``.  These tests read those committed files
directly (no Spark session) and check that the next window skips what
the newest window just proved, except pending rechecks.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from projektdataengineering_spark.queries import (
    _RECHECK,
    latest_certified_rounds,
    load_registry,
)

WINDOW = 50
ROOT = Path(__file__).resolve().parents[1]


def _rounds() -> dict[int, dict]:
    files = {}
    for path in ROOT.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            files[int(m.group(1))] = json.loads(path.read_text())
    return files


def _latest_certified() -> dict[str, int]:
    latest: dict[str, int] = {}
    for rnd, rows in _rounds().items():
        for name, row in rows.items():
            if row["err"] is None and row["rows_match"] and row["schema_match"] and row["hash_match"]:
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def test_next_window_skips_the_newest_window_except_pending_rechecks():
    rounds = _rounds()
    newest = set(rounds[max(rounds)])
    latest = _latest_certified()
    pending = {n for n, rnd in _RECHECK.items() if latest.get(n, 0) < rnd}
    window = list(load_registry())[:WINDOW]
    assert set(window) & newest <= pending


def test_window_takes_the_stalest_rows_after_pending_rechecks():
    latest = _latest_certified()
    pending = [n for n, rnd in _RECHECK.items() if latest.get(n, 0) < rnd]
    order = list(load_registry())
    assert order[: len(pending)] == pending
    inside = order[len(pending):WINDOW]
    outside = order[WINDOW:]
    # pending names may fill the whole window, leaving `inside` empty
    assert max((latest.get(n, 0) for n in inside), default=0) <= min(latest.get(n, 0) for n in outside)


def test_recheck_names_are_registered():
    assert set(_RECHECK) <= set(load_registry())


def test_engine_reader_agrees_with_the_files():
    assert latest_certified_rounds() == _latest_certified()


def test_failed_rows_do_not_certify_and_missing_files_give_nothing(tmp_path):
    assert latest_certified_rounds(tmp_path) == {}
    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"a": ok, "b": ok}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "a": {**ok, "hash_match": False},
        "b": {**ok, "err": "no_oracle"},
        "c": ok,
    }))
    assert latest_certified_rounds(tmp_path) == {"a": 1, "b": 1, "c": 2}


@pytest.mark.parametrize("text", ["{not json", "[]", '{"a": 1}'])
def test_malformed_file_raises_with_its_path(tmp_path, text):
    path = tmp_path / "CORRECTNESS_r03.json"
    path.write_text(text)
    with pytest.raises(ValueError, match=re.escape(str(path))):
        latest_certified_rounds(tmp_path)
