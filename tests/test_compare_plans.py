"""tools/compare_plans.py: which plan-shape changes gate as regressions."""

from __future__ import annotations

import json
import sys

import pytest

from tools import compare_plans


@pytest.mark.parametrize(
    "old, new, tag, code",
    [
        # joins moved under a new pin: fewer exchanges and broadcast joins
        ({"bhj": 7, "exch": 24, "scans": 16}, {"bhj": 3, "exch": 4, "scans": 0}, "improve", 0),
        # a broadcast join degraded to a sort-merge join
        ({"bhj": 1, "smj": 0}, {"bhj": 0, "smj": 1}, "REGRESS", 1),
    ],
)
def test_bhj_drop_gates_only_through_smj(tmp_path, monkeypatch, capsys, old, new, tag, code):
    paths = []
    for side, snap in (("old", old), ("new", new)):
        path = tmp_path / f"{side}.json"
        path.write_text(json.dumps({"q_jaccard_simjoin": snap}))
        paths.append(str(path))
    monkeypatch.setattr(sys, "argv", ["compare_plans.py", *paths])
    got = compare_plans.main()
    out = capsys.readouterr().out
    assert got == code, out
    assert out.split()[:2] == [tag, "q_jaccard_simjoin:"], out
