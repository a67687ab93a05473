"""Tests of the benchmark's timing summaries: python3 -m pytest perfbench/tests"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402


def test_no_tail_below_twenty_samples():
    # even the median needs ten samples beyond it
    assert stats.tail(list(range(19))) is None
    assert stats.summary([3.0, 1.0, 2.0]) == {"median": 2.0, "tail": None, "n": 3}


def test_tail_is_highest_percentile_with_ten_beyond():
    assert stats.tail([float(x) for x in range(1, 21)]) == {"p": 50.0, "value": 10.0}
    assert stats.tail([float(x) for x in range(1, 41)]) == {"p": 75.0, "value": 30.0}
    assert stats.tail([float(x) for x in range(1, 101)]) == {"p": 90.0, "value": 90.0}
    assert stats.tail([float(x) for x in range(1, 200)])["p"] == 90.0
    assert stats.tail([float(x) for x in range(1, 201)]) == {"p": 95.0, "value": 190.0}
    assert stats.tail([float(x) for x in range(1, 1001)]) == {"p": 99.0, "value": 990.0}


def test_tail_leaves_at_least_ten_samples_strictly_beyond():
    for n in range(20, 400, 7):
        values = [float(x) for x in range(n)]
        t = stats.tail(values)
        assert sum(v > t["value"] for v in values) >= stats.MIN_BEYOND


def test_nearest_rank():
    assert stats.nearest_rank([5.0, 1.0, 3.0], 50) == 3.0
    assert stats.nearest_rank([5.0, 1.0, 3.0], 100) == 5.0
    assert stats.nearest_rank([5.0, 1.0, 3.0], 1) == 1.0
