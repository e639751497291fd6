"""tools/ab.py: the paired summary that decides an A/B claim, and the
workdirs it refuses."""

from __future__ import annotations

import importlib.util
import json

import pytest

from tests.conftest import REPO


def _ab():
    spec = importlib.util.spec_from_file_location("ab_tool", REPO / "tools" / "ab.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _row(pair, side, value, failed=0):
    return {
        "pair": pair, "workload": "w", "side": side,
        "result": {"failed": failed, "metrics": {"t": {"value": value}}},
    }


def test_summary_wins_iqr_and_bound():
    base = [10.0, 11.0, 12.0, 13.0]
    head = [8.0, 9.0, 12.0, 14.0]  # wins, wins, tie, loses
    rows = [_row(i, "base", b) for i, b in enumerate(base)]
    rows += [_row(i, "head", h) for i, h in enumerate(head)]
    rows.append(_row(9, "base", 1.0))  # a pair without its head side is left out
    s = _ab().summarize(rows, {"t": ("lower", 0.25)})["w"]
    assert s["pairs"] == 4 and s["failed"] == 0
    t = s["t"]
    assert t["head_wins"] == 2 and t["n"] == 4  # a tie counts for neither
    assert t["base_median"] == 11.5 and t["head_median"] == 10.5
    assert t["base_iqr"] == [10.75, 12.25]
    assert not t["beyond_base_iqr"]  # |10.5 - 11.5| < 1.5
    assert not t["past_bound"]

    worse = [_row(0, "base", 10.0), _row(0, "head", 13.0)]
    assert _ab().summarize(worse, {"t": ("lower", 0.25)})["w"]["t"]["past_bound"]
    assert not _ab().summarize(worse, {"t": ("higher", 0.25)})["w"]["t"]["past_bound"]


def test_workdir_must_be_new_and_outside_the_repo(tmp_path):
    """The tool refuses, before exporting or running anything, a workdir
    inside the repository (its export would copy itself) or one that
    holds an earlier A/B (its exports and log would be overwritten)."""
    ab = _ab()
    with pytest.raises(SystemExit) as inside:
        ab.main(["HEAD", "HEAD", "--workdir", str(REPO / "ab_out")])
    assert inside.value.code == 2
    assert not (REPO / "ab_out").exists()

    (tmp_path / "ab.jsonl").write_text(json.dumps(_row(0, "base", 1.0)) + "\n")
    with pytest.raises(SystemExit) as earlier:
        ab.main(["HEAD", "HEAD", "--workdir", str(tmp_path)])
    assert earlier.value.code == 2
    assert not (tmp_path / "base").exists()
    assert len((tmp_path / "ab.jsonl").read_text().splitlines()) == 1

    with pytest.raises(SystemExit):
        ab.main(["--workdir", str(tmp_path / "none"), "--summarize"])
