"""The fold of tools/ab.py, the interleaved perfbench A/B."""

from __future__ import annotations

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(os.path.dirname(__file__), "..", "tools", "ab.py"))
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_fold_medians_iqr_and_wins():
    base = [10, 10, 11, 10, 12, 10, 10, 10, 13, 10]
    new = [9, 9, 9, 10, 9, 9, 9, 9, 9, 9]
    pairs = [({"pass_jobs": b, "rows_per_s": b}, {"pass_jobs": n, "rows_per_s": n})
             for b, n in zip(base, new)]
    rows = ab.fold(pairs, {"pass_jobs": "lower", "rows_per_s": "higher"})
    jobs = rows["pass_jobs"]
    assert (jobs["base_median"], jobs["new_median"]) == (10, 9)
    # inclusive quartiles of base: 10 and 10.75
    assert jobs["base_iqr"] == pytest.approx(0.75)
    assert jobs["new_iqr"] == 0
    assert (jobs["wins"], jobs["n"]) == (9, 10)
    assert jobs["gain"]
    # the same numbers where higher is better: NEW never wins
    assert rows["rows_per_s"]["wins"] == 0
    assert not rows["rows_per_s"]["gain"]


def test_fold_gain_needs_nine_in_ten_and_a_margin_over_base_iqr():
    # wins 8 of 10: no gain however large the median gap
    pairs = [({"m": 10}, {"m": 1})] * 8 + [({"m": 10}, {"m": 20})] * 2
    assert not ab.fold(pairs, {"m": "lower"})["m"]["gain"]
    # wins every pair, but the median moves less than base's IQR
    base = [10, 12, 14, 16, 18]
    pairs = [({"m": b}, {"m": b - 1}) for b in base]
    row = ab.fold(pairs, {"m": "lower"})["m"]
    assert row["wins"] == 5 and row["base_iqr"] == 4
    assert not row["gain"]


def test_fold_skips_pairs_missing_a_metric():
    pairs = [({"m": 2}, {"m": 1}), ({"m": 2}, {}), ({}, {})]
    assert ab.fold(pairs, {"m": "lower", "x": "lower"}) == {"m": {
        "base_median": 2, "base_iqr": 0.0, "new_median": 1, "new_iqr": 0.0,
        "wins": 1, "n": 1, "gain": True,
    }}


def test_parse_seeds():
    assert ab.parse_seeds("1-3,7") == [1, 2, 3, 7]
    assert ab.parse_seeds("5") == [5]
