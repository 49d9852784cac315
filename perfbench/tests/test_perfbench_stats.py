"""The reported tail is the highest percentile with at least ten samples
beyond it, and comes with its sample count."""

from __future__ import annotations

import math

import pytest

import stats


@pytest.mark.parametrize("n", [11, 12, 20, 37, 100, 250, 1000, 5000])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    p = stats.tail_percentile(n)
    beyond = n - math.ceil(p / 100 * n)
    assert beyond >= 10
    if p < 99:  # one percentile higher would leave fewer than ten beyond
        assert n - math.ceil((p + 1) / 100 * n) < 10


def test_no_tail_below_eleven_samples():
    assert stats.tail_percentile(10) is None
    with pytest.raises(ValueError):
        stats.tail(list(range(10)))


def test_tail_reports_value_percentile_and_count():
    values = list(range(100, 0, -1))  # order must not matter
    value, p, n = stats.tail(values)
    assert (p, n) == (90, 100)
    assert value == 90.0
    assert sum(v > value for v in values) == 10
