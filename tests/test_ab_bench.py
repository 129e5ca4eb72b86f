"""The Spark-free parts of scripts/ab_bench.py: the paired summary both A/B
modes print, and ``--diff`` of two query-result dumps."""

from __future__ import annotations

import importlib.util
import os
import pickle

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "scripts", "ab_bench.py")
_spec = importlib.util.spec_from_file_location("ab_bench", _PATH)
ab_bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab_bench)


def test_paired_summary_medians_quartiles_and_wins():
    a = [2.0, 4.0, 1.0, 3.0, 5.0]
    b = [1.5, 4.0, 2.0, 2.5, 4.0]  # B lower in pairs 0, 3, 4; pair 1 ties
    m = ab_bench.paired_summary(a, b)
    assert (m["a_q1"], m["a_median"], m["a_q3"]) == (2.0, 3.0, 4.0)
    assert m["b_median"] == 2.5
    assert (m["b_wins"], m["pairs"]) == (3, 5)
    # a tie is no win for either side
    assert ab_bench.paired_summary([1.0, 1.0], [1.0, 1.0])["b_wins"] == 0
    one = ab_bench.paired_summary([2.0], [3.0])
    assert (one["a_q1"], one["a_median"], one["a_q3"], one["b_wins"]) == (2.0, 2.0, 2.0, 0)


def _dump(path, results):
    with open(path, "wb") as f:
        pickle.dump({q: ab_bench.canon(cols, rows) for q, (cols, rows) in results.items()}, f)
    return str(path)


@pytest.fixture()
def dumps(tmp_path):
    base = {
        "q1": (["b", "a"], [(2, "x"), (1, "y")]),
        "q2": (["k"], [(0.1,), (0.2,)]),
    }
    same = {"q1": (["a", "b"], [("y", 1), ("x", 2)]), "q2": base["q2"]}
    changed = {"q1": base["q1"], "q2": (["k"], [(0.1,), (0.2000000001,)])}
    return (_dump(tmp_path / "a.pkl", base), _dump(tmp_path / "same.pkl", same),
            _dump(tmp_path / "changed.pkl", changed))


def test_diff_identical_dumps(dumps, capsys):
    a, same, _ = dumps
    assert ab_bench.main(["--diff", a, same]) == 0
    assert capsys.readouterr().out.strip().splitlines()[-1] == "IDENTICAL"


def test_diff_reports_a_differing_row(dumps, capsys):
    a, _, changed = dumps
    assert ab_bench.main(["--diff", a, changed]) == 1
    out = capsys.readouterr().out
    assert "ROWS DIFFER q2: 2 vs 2 rows, 1 diffs" in out
    assert "0.2000000001" in out
    assert "1 QUERIES DIFFER" in out
