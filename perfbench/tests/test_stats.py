"""The stats helper and the span arithmetic it relies on."""

import pytest

from perfbench.stats import high_percentile, overhead, summarize
from perfbench.trace import self_times, union_length


def test_summarize_quartiles_and_count():
    s = summarize([1.0, 2.0, 3.0, 4.0, 5.0])
    assert s["n"] == 5 and s["median"] == 3.0
    assert (s["q1"], s["q3"]) == (1.5, 4.5)
    assert s["spread"] == pytest.approx(1.0)
    assert not any(k.startswith("p") and k[1:].isdigit() for k in s)


def test_high_percentile_keeps_ten_samples_beyond():
    values = [float(v) for v in range(1, 21)]
    p, v = high_percentile(values)
    assert sum(x > v for x in values) == 10
    assert p == 50 and v == 10.0
    p, v = high_percentile([float(v) for v in range(1, 101)])
    assert (p, v) == (90, 90.0)
    assert high_percentile([1.0] * 10) is None
    assert "p50" in summarize(values)


def test_overhead_is_relative_to_untraced_median():
    assert overhead([10.0, 10.0, 12.0], [11.0, 11.0, 13.0]) == pytest.approx(0.1)


def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    spans = [{"id": 0, "parent": None, "start": 0.0, "end": 10.0},
             {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
             {"id": 2, "parent": 0, "start": 3.0, "end": 5.0}]
    assert self_times(spans) == {0: 6.0, 1: 3.0, 2: 2.0}
