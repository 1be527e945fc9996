"""Verdicts of tools/ab_pairs.py on synthetic parent/change pairs."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import ab_pairs  # noqa: E402


def _run(**values: float) -> dict:
    return {"metrics": {k: {"value": v} for k, v in values.items()}}


def test_ab_pairs_verdicts() -> None:
    """``gain met`` needs >= 9/10 pair wins (ties count for neither side)
    and a median gap wider than the parent's Q3-Q1; ``unresolved`` marks
    a parent spread wider than the bound unless every change run beats
    every parent run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    pairs = [
        {
            # lower is better, bound 0.25: parent spread 0.25 of median
            "parent": _run(
                op_ref_ratio=10 + 0.1 * i,
                setup_s=30 + 5 * i,
                dedup_recall=0.99,
            ),
            "change": _run(
                op_ref_ratio=8 + 0.1 * i,
                setup_s=31 + 5 * i,
                # higher is better: one tie, nine wins
                dedup_recall=0.99 if i == 0 else 0.995,
            ),
        }
        for i in range(10)
    ]
    rows = {r["metric"]: r for r in ab_pairs.summarize(bench, pairs)}

    ratio = rows["op_ref_ratio"]
    assert ratio["change_wins"] == 10
    assert ratio["gain_met"] and not ratio["unresolved"]

    setup = rows["setup_s"]
    assert setup["within_bound"] and setup["unresolved"]
    assert not setup["gain_met"]

    recall = rows["dedup_recall"]
    assert recall["change_wins"] == 9  # the tie is no win
    assert recall["gain_met"]  # 9/10 and 0.005 > the parent's 0 spread
    assert not recall["unresolved"]

    # one more tie drops the wins below 9/10: no gain
    pairs[1]["change"]["metrics"]["dedup_recall"]["value"] = 0.99
    rows = {r["metric"]: r for r in ab_pairs.summarize(bench, pairs)}
    assert rows["dedup_recall"]["change_wins"] == 8
    assert not rows["dedup_recall"]["gain_met"]


def test_ab_pairs_parent_dir_needs_no_revision(
    monkeypatch, tmp_path, capsys
) -> None:
    """``--parent-dir`` alone is enough and labels the summary with the
    directory; with neither ``--parent`` nor ``--parent-dir`` the
    command line is refused before any run."""
    import pytest

    runs = []

    def fake_run(tree, workload, seed):  # noqa: ANN001, ANN202
        runs.append(tree)
        return {"correct": True, "attempted": 1, "failed": 0, **_run(op_ref_ratio=1.0)}

    monkeypatch.setattr(ab_pairs, "run_once", fake_run)
    argv = ["ab_pairs.py", "--workload", "corpus_dedup", "--seeds", "1-2"]
    monkeypatch.setattr(sys, "argv", argv)
    with pytest.raises(SystemExit) as exc:
        ab_pairs.main()
    assert exc.value.code == 2 and not runs

    monkeypatch.setattr(sys, "argv", [*argv, "--parent-dir", str(tmp_path)])
    assert ab_pairs.main() == 0
    assert len(runs) == 4 and str(tmp_path) in map(str, runs)
    assert f"2 pairs, parent {tmp_path}" in capsys.readouterr().out
