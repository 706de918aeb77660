import pytest

from stats import nearest_rank, tail_percentile


def test_nearest_rank_matches_its_definition():
    xs = list(range(1, 101))  # 1..100
    assert nearest_rank(xs, 50).value == 50
    assert nearest_rank(xs, 99).value == 99
    assert nearest_rank(xs, 100).value == 100
    assert nearest_rank([5, 1, 3], 50).value == 3
    assert nearest_rank([5, 1, 3], 34).value == 3
    assert nearest_rank([5, 1, 3], 33).value == 1


def test_percentile_reports_its_sample_count():
    p = nearest_rank([0.2, 0.1, 0.4, 0.3], 95)
    assert (p.q, p.value, p.n) == (95, 0.4, 4)


def test_nearest_rank_rejects_bad_input():
    with pytest.raises(ValueError):
        nearest_rank([], 50)
    with pytest.raises(ValueError):
        nearest_rank([1.0], 0)


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert tail_percentile(list(range(1000))).q == 99.0
    assert tail_percentile(list(range(999))).q == 95.0
    assert tail_percentile(list(range(200))).q == 95.0
    assert tail_percentile(list(range(100))).q == 90.0
    assert tail_percentile(list(range(50))) is None
