"""The persisted-artifact seam (catalog.persisted), pure Python: no Spark
session, a temp scratch root."""

from __future__ import annotations

import os
import shutil

import pytest

from projektdataengineering_spark import catalog


@pytest.fixture()
def root(tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "SCRATCH", str(tmp_path / ".scratch"))
    src = tmp_path / "t.parquet"
    src.write_bytes(b"abc")
    return tmp_path, str(src)


def _write(tag):
    def build(path):
        os.makedirs(path)
        with open(os.path.join(path, "part-0"), "w") as fh:
            fh.write(tag)

    return build


def test_same_inputs_same_path(root):
    _, src = root
    a = catalog.persisted("k", [src], {"x": 1, "y": "b"})
    assert a == catalog.persisted("k", [src], {"y": "b", "x": 1})


def test_each_key_fact_changes_the_path(root):
    tmp, src = root
    base = catalog.persisted("k", [src], {"x": 1, "y": "b"})
    assert catalog.persisted("k", [src], {"x": 2, "y": "b"}) != base
    assert catalog.persisted("k", [src], {"x": 1, "y": "c"}) != base
    assert catalog.persisted("k", [src], {"x": 1, "y": "b", "z": 0}) != base
    assert catalog.persisted("k", [src], {"x": 1, "y": "b"}, gen="v2") != base
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    moved = catalog.persisted("k", [src], {"x": 1, "y": "b"})
    assert moved != base, "a new mtime must re-key"
    with open(src, "ab") as fh:
        fh.write(b"d")
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert catalog.persisted("k", [src], {"x": 1, "y": "b"}) != moved, (
        "a new size must re-key"
    )


def test_layout_is_scratch_kind_key(root):
    """perfbench/run.py:scratch_entries and reset_state list exactly
    .scratch/<kind>/<name>: every artifact, generations included, must
    be one directory at that depth."""
    tmp, src = root
    for gen in (0, "v2", 3):
        path = catalog.persisted(
            "kind_a", [src], {"x": 1}, _write("a"), gen=gen, batch={"e": 20}
        )
        rel = os.path.relpath(path, str(tmp / ".scratch"))
        kind, key = rel.split(os.sep)
        assert kind == "kind_a" and key and os.path.isdir(path)
    assert sorted(os.listdir(tmp)) == [".scratch", "t.parquet"]


def test_generations_extend_the_first_key(root):
    _, src = root
    v1 = os.path.basename(catalog.persisted("k", [src], {"x": 1}))
    v2 = catalog.persisted("k", [src], {"x": 1}, gen="v2", batch={"p": 4})
    g2 = catalog.persisted("k", [src], {"x": 1}, gen=2, batch={"e": 20, "a": 0.5})
    assert os.path.basename(v2) == f"{v1}_v2-p4"
    assert os.path.basename(g2) == f"{v1}_g2-a0.5-e20"


def test_failed_build_leaves_nothing(root):
    tmp, src = root

    def broken(path):
        _write("half")(path)
        raise RuntimeError("died mid-write")

    with pytest.raises(RuntimeError):
        catalog.persisted("k", [src], {}, broken)
    path = catalog.persisted("k", [src], {})
    assert not os.path.exists(path)
    assert os.listdir(os.path.dirname(path)) == [], "staging must be removed"


def test_builds_count_only_real_builds(root, monkeypatch):
    _, src = root
    monkeypatch.setattr(catalog, "BUILDS", catalog.Counter())
    path = catalog.persisted("k", [src], {}, _write("a"))
    assert catalog.BUILDS["k"] == 1
    assert catalog.persisted("k", [src], {}, _write("b")) == path
    assert catalog.persisted("k", [src], {}) == path
    assert catalog.BUILDS["k"] == 1, "a reuse must not count"
    with open(os.path.join(path, "part-0")) as fh:
        assert fh.read() == "a"

    def broken(path):
        raise RuntimeError

    with pytest.raises(RuntimeError):
        catalog.persisted("j", [src], {}, broken)
    assert catalog.BUILDS["j"] == 0, "a build that raised must not count"


def test_staging_name_is_what_a_crash_leaves(root):
    """The vacuum plants and recognises crashed stages by this shape."""
    tmp, src = root
    seen = []

    def build(path):
        seen.append(path)
        raise RuntimeError

    with pytest.raises(RuntimeError):
        catalog.persisted("k", [src], {}, build)
    final = catalog.persisted("k", [src], {})
    (stage,) = seen
    pid, token = stage[len(final):].split(".")[2:]
    assert stage == catalog.staging_path(final, int(pid), token)
    assert int(pid) == os.getpid() and len(token) == 8


def test_rebuilt_input_rekeys_derived_artifacts(root, monkeypatch):
    """An artifact built from another names it in ``inputs``: removing
    and rebuilding the input must re-key the derived artifact rather
    than let it serve content derived from the old install."""
    tmp, src = root
    monkeypatch.setitem(catalog.KINDS, "k", (("t",), lambda: ({}, None)))
    up = catalog.artifact("k", str(tmp), _write("a"), part="up")
    down = catalog.artifact("k", str(tmp), _write("b"), part="down", inputs=(up,))
    assert catalog.artifact("k", str(tmp), part="down", inputs=(up,)) == down
    shutil.rmtree(up)
    catalog.artifact("k", str(tmp), _write("a"), part="up")
    assert catalog.artifact("k", str(tmp), part="down", inputs=(up,)) != down
