"""The percentile rule: a tail is reported only with ten samples beyond it."""

import pytest

from perfbench.stats import (
    MIN_BEYOND,
    beyond,
    pct_label,
    percentile,
    summarize,
    tail_percentile,
)


def test_beyond_counts_samples_strictly_above_the_rank():
    assert beyond(100, 90) == 10
    assert beyond(99, 90) == 9
    assert beyond(1000, 99) == 10
    assert beyond(40, 75) == 10


@pytest.mark.parametrize(
    "n,want",
    [(9, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_is_highest_with_ten_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        assert beyond(n, want) >= MIN_BEYOND


@pytest.mark.parametrize("p,n", [(75.0, 40), (90.0, 100), (95.0, 200), (99.0, 1000)])
def test_a_tail_needs_ten_samples_beyond_it(p, n):
    assert beyond(n, p) >= MIN_BEYOND and tail_percentile(n) == p
    assert beyond(n - 1, p) < MIN_BEYOND and tail_percentile(n - 1) != p


def test_nearest_rank_percentile():
    values = list(range(1, 101))  # 1..100
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values[::-1], 99) == 99
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_states_sample_count_and_tail():
    s = summarize([float(v) for v in range(1, 101)])
    assert s == {"n": 100, "p50": 50.5, "tail": "p90", "tail_value": 90.0}
    small = summarize([1.0, 2.0, 3.0])
    assert small == {"n": 3, "p50": 2.0}
    assert summarize([]) == {"n": 0}
    assert pct_label(99.9) == "p99.9"
