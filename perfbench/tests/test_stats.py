"""Summary statistics and span self time."""

import statistics

import pytest

from perfbench.stats import (Span, Tracer, median, percentile, quartiles,
                             self_times, tail_percentile)


def test_median_and_quartiles_match_statistics_quantiles():
    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
    q1, q2, q3 = quartiles(values)
    assert (q1, q2, q3) == tuple(statistics.quantiles(values, n=4))
    assert median(values) == q2 == 5.5
    assert quartiles([4.0]) == (4.0, 4.0, 4.0)


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 100) == 100
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n, p", [(1000, 99.0), (100, 90.0), (40, 75.0),
                                  (20, 50.0), (5, 50.0)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    values = list(range(n))
    got_p, got_v = tail_percentile(values)
    assert got_p == p
    assert got_v == percentile(values, p)
    if n >= 20:
        assert sum(1 for v in values if v > got_v) >= 10


def _span(sid, start, end, parent=None):
    return Span("s", start, end, sid, parent, "run", {})


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [_span(1, 0.0, 10.0), _span(2, 1.0, 3.0, 1),
             _span(3, 2.0, 5.0, 1), _span(4, 8.0, 12.0, 1),
             _span(5, 2.5, 2.75, 3)]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[3] == pytest.approx(3.0 - 0.25)
    assert st[2] == pytest.approx(2.0)


def test_tracer_nests_spans_and_a_disabled_tracer_only_times():
    tr = Tracer(True)
    with tr.span("outer") as outer:
        with tr.span("inner"):
            pass
    inner = next(s for s in tr.spans if s.name == "inner")
    assert inner.parent == outer.span_id
    assert {s.run_id for s in tr.spans} == {tr.run_id}
    off = Tracer(False)
    with off.span("x") as s:
        pass
    assert off.spans == [] and s.seconds >= 0.0
    assert off.add("y", 0.0, 1.0) is None
