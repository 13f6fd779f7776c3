"""The A/B tool's verdict rule (tools/ab_perfbench.py): a gain needs
>= 9/10 pair wins and a median gap wider than the parent's IQR; a
worse median beyond the bound is a regression; a parent spread wider
than the bound leaves the metric unresolved."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "ab_perfbench",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "ab_perfbench.py"),
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

PARENT = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]


def test_gain_needs_nine_of_ten_wins_and_gap_over_iqr():
    change = [x * 0.6 for x in PARENT]
    assert ab.verdict(PARENT, change, True, 0.25)["verdict"] == "gain"
    change[0] = change[1] = 20.0  # only 8/10 wins
    assert ab.verdict(PARENT, change, True, 0.25)["verdict"] != "gain"
    assert ab.verdict(PARENT[:5], change[2:7], True, 0.25)["verdict"] == "gain? (< 10 pairs)"
    tiny = [x - 0.01 for x in PARENT]  # wins every pair, gap inside the IQR
    assert ab.verdict(PARENT, tiny, True, 0.25)["verdict"] == "within bound"


def test_regression_and_unresolved():
    assert ab.verdict(PARENT, [x * 1.3 for x in PARENT], True, 0.25)["verdict"] == "regression"
    wide = [5.0, 15.0, 6.0, 14.0, 5.0, 15.0, 6.0, 14.0, 10.0, 10.0]
    assert ab.verdict(wide, [x * 1.05 for x in wide], True, 0.25)["verdict"] == "unresolved"
    # higher-is-better metrics flip the comparison
    assert ab.verdict(PARENT, [x * 2 for x in PARENT], False, None)["verdict"] == "gain"
    assert ab.verdict(PARENT, PARENT, False, None)["verdict"] == "no gain"
