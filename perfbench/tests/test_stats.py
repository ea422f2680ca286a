"""Tests of the benchmark's own helpers. Run: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import (  # noqa: E402
    compare_results,
    error_rate,
    failed_executions,
    parse_sql_metric,
    percentile,
    supports_percentile,
    tail_percentile,
)


@pytest.mark.parametrize(
    "n, q, ok",
    [(100, 90, True), (99, 90, False), (20, 50, True), (19, 50, False),
     (1000, 99, True), (999, 99, False)],
)
def test_percentile_needs_ten_samples_beyond_it(n, q, ok):
    assert supports_percentile(n, q) is ok


def test_tail_percentile_is_highest_supported():
    assert tail_percentile(100) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(40) == 75
    assert tail_percentile(19) is None
    for n in (20, 37, 100, 1000):
        q = tail_percentile(n)
        assert supports_percentile(n, q) and not supports_percentile(n, q + 1)


def test_percentile_interpolates():
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_failed_counts_raises_and_mismatched_executions():
    raised = {"a": 1}
    executed = {"a": 2, "b": 3, "c": 3}
    # a raised once and passed its check; b mismatched; c was never checked.
    checks = {"a": True, "b": False}
    assert failed_executions(raised, executed, checks) == 1 + 3 + 3
    attempted = sum(raised.values()) + sum(executed.values())
    assert error_rate(7, attempted) == pytest.approx(7 / 9)


def test_error_rate_zero_when_all_pass():
    assert failed_executions({}, {"a": 3}, {"a": True}) == 0
    assert error_rate(0, 3) == 0.0
    with pytest.raises(ValueError):
        error_rate(0, 0)


def test_comparator_ignores_row_and_column_order():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5], "s": ["x", "y", None]})
    got = want.iloc[::-1][["v", "s", "k"]].reset_index(drop=True)
    assert compare_results(got, want) is None


def test_comparator_float_tolerance_and_nan():
    want = pd.DataFrame({"v": [1.0, np.nan]})
    assert compare_results(pd.DataFrame({"v": [1.0 + 1e-12, np.nan]}), want) is None
    assert compare_results(pd.DataFrame({"v": [1.0 + 1e-6, np.nan]}), want) is not None


def test_comparator_reports_differences():
    want = pd.DataFrame({"k": [1, 2], "s": ["a", "b"]})
    assert "columns" in compare_results(want.rename(columns={"s": "t"}), want)
    assert "rows" in compare_results(want.iloc[:1], want)
    assert "s" in compare_results(pd.DataFrame({"k": [1, 2], "s": ["a", "c"]}), want)
    # Same multiset of values in each column, paired differently.
    assert compare_results(pd.DataFrame({"k": [1, 2], "s": ["b", "a"]}), want)


def test_comparator_int_width_does_not_matter():
    want = pd.DataFrame({"k": np.array([1, 2], dtype="int64")})
    got = pd.DataFrame({"k": np.array([2, 1], dtype="int32")})
    assert compare_results(got, want) is None


@pytest.mark.parametrize(
    "text, value",
    [
        ("32,000", 32000.0),
        ("7", 7.0),
        ("total (min, med, max (stageId: taskId))\n1.5 KiB (0.0 B, 0.5 KiB, 1.0 KiB (stage 3.0: task 4))", 1536.0),
        ("2.0 MiB", 2.0 * (1 << 20)),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_parse_sql_metric_unparseable_is_nan():
    assert math.isnan(parse_sql_metric("n/a"))
