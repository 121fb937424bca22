import pytest

from perfbench import stats


def test_p90_over_100_singleton_batches_is_supported():
    p = stats.row_percentile(range(1, 101), range(100), 90)
    assert p.value == 90
    assert (p.rows, p.batches, p.rows_beyond, p.batches_beyond) == (100, 100, 10, 10)
    assert p.supported


def test_rows_are_weighted_but_support_counts_batches():
    # 10 batches of 10 rows; every row of batch i has latency i
    values = [i for i in range(10) for _ in range(10)]
    batches = [i for i in range(10) for _ in range(10)]
    p90 = stats.row_percentile(values, batches, 90)
    assert p90.value == 8
    assert p90.rows_beyond == 10 and p90.batches_beyond == 1
    assert not p90.supported
    p50 = stats.row_percentile(values, batches, 50)
    assert p50.value == 4 and p50.batches_beyond == 5 and not p50.supported


def test_p90_needs_ten_batches_beyond():
    # 99 batches: the 10% of rows above p90 come from only 9 batches
    values = list(range(99))
    assert not stats.row_percentile(values, values, 90).supported
    values = list(range(100))
    assert stats.row_percentile(values, values, 90).supported


def test_one_heavy_batch_cannot_support_the_tail():
    # 1000 rows in one slow batch dominate p90 by rows, not by batches
    values = [1.0] * 1000 + [5.0] * 1000
    batches = list(range(1000)) + [1000] * 1000
    p = stats.row_percentile(values, batches, 90)
    assert p.value == 5.0
    assert p.rows == 2000 and p.batches == 1001
    assert p.batches_beyond == 0 and not p.supported


def test_highest_supported_percentile():
    values = list(range(40))
    # 40 singleton batches: p75 has 10 beyond, p90 only 4
    best = stats.highest_supported(values, values)
    assert best.q == 75 and best.batches_beyond == 10
    assert stats.highest_supported([1, 2, 3], [0, 1, 2]) is None


def test_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.row_percentile([], [], 50)
    with pytest.raises(ValueError):
        stats.row_percentile([1, 2], [0], 50)
    with pytest.raises(ValueError):
        stats.row_percentile([1], [0], 0)
