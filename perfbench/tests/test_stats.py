import pytest

import stats


def test_median_and_interpolation():
    assert stats.median([3, 1, 2]) == 2
    assert stats.percentile([0, 10], 25) == 2.5


def test_tail_percentile_needs_ten_samples_beyond_it():
    with pytest.raises(ValueError):
        stats.percentile(range(99), 90)  # 9.9 samples beyond p90
    assert stats.percentile(range(100), 90) == pytest.approx(89.1)
    with pytest.raises(ValueError):
        stats.percentile(range(39), 75)
    stats.percentile(range(40), 75)


def test_no_samples_is_an_error():
    with pytest.raises(ValueError):
        stats.median([])
