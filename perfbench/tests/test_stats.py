"""A percentile is reported only with at least ten samples beyond it."""

from __future__ import annotations

import pytest

from perfbench import stats


def test_beyond_counts_samples_past_the_nearest_rank():
    assert stats.beyond(20, 0.5) == 10
    assert stats.beyond(100, 0.9) == 10
    assert stats.beyond(99, 0.9) == 9
    assert stats.beyond(200, 0.95) == 10


def test_percentile_needs_ten_samples_beyond():
    assert stats.percentile(list(range(1, 21)), 0.5) == 10
    assert stats.percentile(list(range(100, 0, -1)), 0.9) == 90
    with pytest.raises(ValueError):
        stats.percentile(list(range(19)), 0.5)
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 0.9)
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_median_and_mean():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert stats.mean([]) == 0.0
    assert stats.mean([1.0, 2.0]) == 1.5
