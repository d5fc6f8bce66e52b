import pytest

import stats


@pytest.mark.parametrize(
    "n, expected",
    [(10_000, 99.9), (1000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0), (100, 90.0), (40, 75.0), (39, None)],
)
def test_highest_percentile_with_ten_samples_beyond(n, expected):
    q = stats.highest_supported(n)
    assert q == expected
    if q is not None:
        assert stats.beyond(n, q) >= 10
        higher = [x for x in stats.LADDER if x > q]
        assert all(stats.beyond(n, x) < 10 for x in higher)


def test_nearest_rank_percentile():
    values = list(range(1, 201))  # 1..200
    assert stats.percentile(values, 95.0) == 190
    assert sum(v > stats.percentile(values, 95.0) for v in values) == stats.beyond(200, 95.0) == 10
    assert stats.percentile([5.0], 99.0) == 5.0
    with pytest.raises(ValueError):
        stats.percentile([], 50.0)
