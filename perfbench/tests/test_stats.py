"""Percentiles, the latency histogram and failure accounting."""

import math
import statistics

import pytest

from stats import LogHistogram, Outcomes, median, percentile, quartile_spread, supported_tail


def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))  # 1..100
    assert percentile(vals, 50) == 50
    assert percentile(vals, 99) == 99
    assert percentile(vals, 100) == 100
    assert percentile(vals, 0) == 1
    assert percentile([7.0], 99) == 7.0
    assert percentile([3, 1, 2], 50) == 2  # order of input does not matter


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1, 2], 101)


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_supported_tail_needs_ten_beyond():
    assert supported_tail(1000) == 99.0  # 10 samples beyond p99
    assert supported_tail(999) == 95.0  # p99 leaves 9.99
    assert supported_tail(100_000, wanted=99.9) == 99.9
    assert supported_tail(40) == 75.0
    assert supported_tail(19) is None
    assert supported_tail(20) == 50.0


@pytest.mark.parametrize("v", [0, 0.4, 1, 57.9, 99.99, 100, 101, 250, 1234.5, 98765])
def test_histogram_bucket_contains_value(v):
    h = LogHistogram()
    b = h.bucket(v)
    lower = 0.0 if b == 0 else h.upper(b - 1)
    assert lower <= v < h.upper(b) or math.isclose(v, lower)


def test_histogram_percentile_is_upper_edge_of_rank_bucket():
    h = LogHistogram(linear_ms=10, growth=2.0)
    for v in [1, 2, 3, 15, 30, 70]:
        h.add(v)
    assert h.total == 6
    assert h.percentile(50) == 4.0  # rank 3 -> value 3 -> bucket [3, 4)
    assert h.percentile(100) == 80.0  # 70 lies in [40, 80)
    # the histogram never reports less than the exact percentile
    assert h.percentile(50) >= percentile([1, 2, 3, 15, 30, 70], 50)


def test_histogram_relative_error_bounded_by_growth():
    h = LogHistogram()
    vals = [100 + 7.3 * i for i in range(2000)]
    for v in vals:
        h.add(v)
    for p in (50, 90, 99):
        exact = percentile(vals, p)
        assert exact <= h.percentile(p) <= exact * h.growth


def test_histogram_add_bucket_and_empty():
    h = LogHistogram()
    h.add(5, 3)
    h.add_bucket(h.bucket(500), 2)
    assert h.total == 5
    with pytest.raises(ValueError):
        h.add_bucket(1, -1)
    with pytest.raises(ValueError):
        LogHistogram().percentile(50)
    with pytest.raises(ValueError):
        LogHistogram(growth=1.0)


def test_outcomes_error_ratio():
    oc = Outcomes()
    oc.record("query.run", True)
    oc.record("query.run", False, "q1")
    assert oc.check("deliver.count", 3 == 3, "never shown")
    assert not oc.check("deliver.order", False, "key-0001 out of order")
    assert oc.n_attempted == 4
    assert oc.n_failed == 2
    assert oc.error_ratio == 0.5
    assert oc.notes == ["query.run: q1", "deliver.order: key-0001 out of order"]


def test_outcomes_nothing_attempted_counts_as_failure():
    assert Outcomes().error_ratio == 1.0


def test_quartile_spread_matches_statistics():
    vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 9.7]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == (q3 - q1) / q2
