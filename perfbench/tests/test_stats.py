import pytest

from perfbench import stats


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.reportable(20, 0.5)
    assert not stats.reportable(19, 0.5)
    assert stats.reportable(100, 0.9)
    assert not stats.reportable(99, 0.9)
    assert stats.reportable(1000, 0.99)
    assert not stats.reportable(999, 0.99)


def test_tail_picks_highest_supported_percentile():
    assert stats.tail(range(30)) is None  # p75 needs 40 samples
    q, v = stats.tail(range(1, 41))
    assert (q, v) == (0.75, 30)
    q, v = stats.tail(range(1, 101))
    assert (q, v) == (0.9, 90)
    q, _ = stats.tail(range(1000))
    assert q == 0.99


def test_percentile_nearest_rank():
    values = [5, 1, 4, 2, 3]
    assert stats.percentile(values, 0.5) == 3
    assert stats.percentile(values, 0.9) == 5
    assert stats.percentile(values, 0.01) == 1
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([1, 2, 3, 4]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])
