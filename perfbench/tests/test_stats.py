from perfbench.stats import percentile, tail_percentile


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == 50.0
    assert percentile(xs, 90) == 90.0
    assert percentile(xs, 100) == 100.0
    assert percentile([3.0], 90) == 3.0


def test_tail_needs_ten_samples_beyond_it():
    assert tail_percentile([1.0] * 99) is None
    p, v = tail_percentile([float(i) for i in range(100)])
    assert (p, v) == (90.0, 89.0)


def test_tail_picks_the_highest_supported_percentile():
    assert tail_percentile([float(i) for i in range(999)])[0] == 90.0
    assert tail_percentile([float(i) for i in range(1000)])[0] == 99.0
    assert tail_percentile([float(i) for i in range(9999)])[0] == 99.0
    assert tail_percentile([float(i) for i in range(10_000)])[0] == 99.9

