from stats import nearest_rank, tail


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(19))) is None
    assert tail(list(range(20))) == (50, 9)


def test_tail_picks_highest_percentile_with_ten_beyond():
    s = [float(i) for i in range(1, 101)]
    assert tail(s) == (90, 90.0)  # exactly 10 samples above p90
    assert tail(list(range(1, 201))) == (95, 190)
    assert tail(list(range(1, 1001))) == (99, 990)
    p, v = tail(list(range(1, 151)))
    assert 150 - sum(1 for x in range(1, 151) if x <= v) >= 10
    assert 150 - sum(1 for x in range(1, 151) if x <= nearest_rank(list(range(1, 151)), p + 1)) < 10


def test_tail_ignores_input_order():
    s = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail(s) == tail(sorted(s))
