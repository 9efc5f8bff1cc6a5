import types

import pytest

from perfbench import tracing
from perfbench.run import timed_calls
from perfbench.stats import percentile, summarize, tail_percentile
from perfbench.tracing import Tracer, covered


@pytest.mark.parametrize(
    "n, expected",
    [(1, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond_it(n, expected):
    assert tail_percentile(n) == expected


def test_summarize_reports_count_median_and_supported_tail():
    assert summarize([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}
    out = summarize([float(i) for i in range(100)])
    assert out["n"] == 100 and out["p50"] == 49.5
    assert out["p90"] == pytest.approx(89.1)
    assert set(out) == {"n", "p50", "p90"}


def test_timed_calls_fit_the_seconds_at_the_nominal_wall():
    wl = types.SimpleNamespace(nominal_call_s=10.0)
    assert [timed_calls(wl, s) for s in (1, 10, 29.9, 30)] == [1, 1, 2, 3]


def test_percentile_interpolates_between_ranks():
    assert percentile([10.0, 20.0], 50) == 15.0
    assert percentile([5.0], 99) == 5.0


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-2, 1), (9, 12)], 0, 10) == 2
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    t = Tracer("r")
    t.spans.append(tracing.Span("root", 0.0, 10.0, None, "r"))
    t.add("a", 1.0, 3.0, 0)
    t.add("b", 2.0, 5.0, 0)  # overlaps a: the union is subtracted, not the sum
    t.add("c", 4.0, 4.5, 2)  # grandchild: only b's self time loses it
    assert t.self_time(0) == pytest.approx(6.0)
    assert t.self_time(2) == pytest.approx(2.5)
    assert t.self_time(3) == pytest.approx(0.5)
    assert t.subtree(0) == [0, 1, 2, 3]
    assert t.total("a") == pytest.approx(2.0)


class _Context:
    def __init__(self):
        self.tags = []

    def setLocalProperty(self, key, value):
        self.tags.append((key, value))


def test_spans_nest_tag_job_groups_and_wrappers_restore():
    sc = _Context()
    t = Tracer("r")
    t.attach(sc)
    module = types.SimpleNamespace(work=lambda x: x + 1)
    orig = module.work
    with t.wrapped(module, "work", "layer.work"):
        with t.span("outer") as outer:
            assert module.work(1) == 2
    assert module.work is orig
    assert [s.name for s in t.spans] == ["outer", "layer.work"]
    assert t.spans[1].parent == outer and t.spans[0].parent is None
    assert [v for _, v in sc.tags] == ["r/0", "r/1", "r/0", None]
