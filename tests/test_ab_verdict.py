"""The verdict rule of tools/ab.py: a side is better only when there are
at least 10 pairs, it wins at least 9 of every 10 of them AND the
medians differ by more than the parent's interquartile range. No Spark."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(os.path.dirname(__file__), "..", "tools", "ab.py")
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

PARENT = [100.0 + i for i in range(10)]  # quartiles 102.25 / 104.5 / 106.75


def test_clear_win():
    v = ab.verdict(PARENT, [p - 50 for p in PARENT], "lower")
    assert (v["wins"], v["pairs"], v["verdict"]) == (10, 10, "better")
    assert v["parent"] == (102.25, 104.5, 106.75)
    assert v["change"][1] == 54.5


def test_nine_of_ten_wins():
    change = [p - 20 for p in PARENT]
    change[3] = PARENT[3] + 1
    v = ab.verdict(PARENT, change, "lower")
    assert (v["wins"], v["verdict"]) == (9, "better")


def test_ties_count_for_neither_side():
    # 8 wins and 2 ties: counted as wins the ties would make 10/10
    change = [p - 20 for p in PARENT]
    change[0], change[5] = PARENT[0], PARENT[5]
    v = ab.verdict(PARENT, change, "lower")
    assert (v["wins"], v["verdict"]) == (8, "unresolved")
    # and the ties are not losses either
    assert ab.verdict(change, PARENT, "lower")["wins"] == 0


def test_wins_without_a_gap_beyond_the_iqr_are_unresolved():
    parent = [100.0 + 10 * i for i in range(10)]  # IQR 45
    v = ab.verdict(parent, [p - 1 for p in parent], "lower")
    assert (v["wins"], v["verdict"]) == (10, "unresolved")


def test_regression_and_higher_is_better():
    assert ab.verdict(PARENT, [p + 50 for p in PARENT], "lower")["verdict"] == "worse"
    v = ab.verdict(PARENT, [p + 50 for p in PARENT], "higher")
    assert (v["wins"], v["verdict"]) == (10, "better")


def test_fewer_than_ten_pairs_are_unresolved():
    # 5/5 wins by far more than the IQR still cannot claim 9 in every 10
    v = ab.verdict(PARENT[:5], [p - 50 for p in PARENT[:5]], "lower")
    assert (v["wins"], v["pairs"], v["verdict"]) == (5, 5, "unresolved")
    assert ab.verdict(PARENT[:5], [p + 50 for p in PARENT[:5]], "lower")["verdict"] == "unresolved"
