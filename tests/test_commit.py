"""The one commit protocol (prow_jobs_scraper_spark/commit.py): every
on-disk writer makes its writes visible through that module, so a
fault-injection test lists every commit point by reading one file."""

from __future__ import annotations

import json
import os
import pathlib
import re

import pytest

from prow_jobs_scraper_spark import commit

PACKAGE = pathlib.Path(commit.__file__).parent
# the primitives that make a write visible or take one back; a writer
# picking its own save mode (`.mode(`) bypasses the commit functions
COMMIT_PRIMITIVES = re.compile(
    r"os\.replace|shutil\.move|rmtree|_SUCCESS|partitionOverwriteMode"
    r"|conf\.set\(|\.mode\(")


def test_only_the_commit_module_uses_commit_primitives():
    hits = sorted(
        f"{p.relative_to(PACKAGE)}:{i}: {line.strip()}"
        for p in PACKAGE.rglob("*.py") if p.name != "commit.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if COMMIT_PRIMITIVES.search(line))
    assert hits == []


def test_write_json_replaces_atomically(tmp_path, monkeypatch):
    path = str(tmp_path / "doc.json")
    commit.write_json(path, {"v": 1})
    with open(path) as f:
        assert json.load(f) == {"v": 1}

    def killed(src, dst):
        raise OSError("killed before rename")

    monkeypatch.setattr(commit.os, "replace", killed)
    with pytest.raises(OSError):
        commit.write_json(path, {"v": 2})
    monkeypatch.undo()
    with open(path) as f:
        assert json.load(f) == {"v": 1}   # the old document, whole
    commit.write_json(path, {"v": 3})   # a stale temp file is overwritten
    with open(path) as f:
        assert json.load(f) == {"v": 3}


def test_staged_dir_is_removed_and_swap_recovers(tmp_path):
    live = str(tmp_path / "t")
    os.makedirs(live)
    pathlib.Path(live, "a").write_text("old")
    with commit.staged(live) as staging:
        os.makedirs(staging)
        pathlib.Path(staging, "a").write_text("new")
        commit.swap_dir(staging, live)
    assert pathlib.Path(live, "a").read_text() == "new"
    assert sorted(os.listdir(tmp_path)) == ["t"]

    with pytest.raises(RuntimeError):
        with commit.staged(live) as staging:
            os.makedirs(staging)
            raise RuntimeError("killed after the staged write")
    assert sorted(os.listdir(tmp_path)) == ["t"]

    os.rename(live, live + ".old")      # killed between the two moves
    assert commit.recover(live)
    assert pathlib.Path(live, "a").read_text() == "new"
    assert not commit.recover(live)
