import pytest

from stats import highest_supported, median, percentile


def test_percentile_is_nearest_rank_with_its_support():
    values = [float(v) for v in range(100, 0, -1)]
    p90 = percentile(values, 90)
    assert (p90.value, p90.n, p90.beyond) == (90.0, 100, 10)
    p50 = percentile([4.0, 1.0, 3.0, 2.0], 50)
    assert (p50.value, p50.beyond) == (2.0, 2)
    assert percentile([7.0], 100).beyond == 0
    assert str(p90) == "p90=90.0000 (n=100, 10 beyond)"


def test_highest_supported_needs_ten_samples_beyond():
    assert highest_supported(list(range(100))).q == 90
    assert highest_supported(list(range(1000))).q == 99
    assert highest_supported(list(range(20))).q == 50
    assert highest_supported(list(range(19))) is None


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5


@pytest.mark.parametrize("q", [0, -1, 101])
def test_percentile_rejects_bad_q(q):
    with pytest.raises(ValueError):
        percentile([1.0], q)


def test_no_samples_raise():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        median([])
