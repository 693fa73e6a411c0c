from perfbench import stats


def test_even_count_median_is_mean_of_middle_pair():
    # the upper-middle index picks 0.961 here: the better of two trials
    trials = [0.824, 0.961]
    assert sorted(trials)[len(trials) // 2] == 0.961
    assert abs(stats.median(trials) - 0.8925) < 1e-12
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_quartiles_match_statistics_quantiles():
    assert stats.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (1.5, 4.5)
    assert stats.quartiles([7.0]) == (7.0, 7.0)


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert stats.tail_percentile([1.0] * 39) is None
    assert stats.tail_percentile([float(i) for i in range(40)]) == (75.0, 30.0)
    p, v = stats.tail_percentile([float(i) for i in range(100)])
    assert (p, v) == (90.0, 90.0)


def test_summary_reports_count():
    s = stats.summary([3.0, 1.0, 2.0])
    assert s["n"] == 3 and s["median"] == 2.0 and "p90" not in s
