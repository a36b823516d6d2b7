"""Span nesting and self time."""

from spans import Span, Tracer, covered, self_time


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5  # [1,5] + [7,8]
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3  # clipped to the window
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    parent = Span(0, "p", "bench", 0.0, None, end=10.0)
    kids = [Span(1, "a", "x", 1.0, 0, end=4.0), Span(2, "b", "x", 3.0, 0, end=6.0)]
    assert self_time(parent, kids) == 5.0  # 10 - |[1, 6]|


def test_tracer_nesting_and_layer_self_times():
    clk = FakeClock()
    tr = Tracer(clock=clk)
    with tr.span("pass", "bench") as root:
        clk.t = 1
        with tr.span("query.q1", "registry"):
            clk.t = 1.5
            with tr.span("build", "operators.build"):
                clk.t = 2
            with tr.span("write", "operators.exec"):
                clk.t = 5
        clk.t = 6
    assert [s.parent for s in tr.spans] == [None, 0, 1, 1]
    assert root.duration == 6
    layers = tr.self_by_layer(root)
    assert layers == {"bench": 2, "registry": 0.5, "operators.build": 0.5, "operators.exec": 3}
    # self times of a subtree add up to the root's wall time
    assert sum(layers.values()) == root.duration
    assert tr.total_by_name("build") == 0.5


def test_subtree_excludes_siblings():
    clk = FakeClock()
    tr = Tracer(clock=clk)
    with tr.span("setup", "bench"):
        clk.t = 3
    with tr.span("pass", "bench") as root:
        with tr.span("q", "registry"):
            clk.t = 4
    assert tr.self_by_layer(root) == {"bench": 0, "registry": 1}
    assert tr.self_by_layer() == {"bench": 3, "registry": 1}


def test_span_closed_on_exception():
    tr = Tracer(clock=FakeClock())
    try:
        with tr.span("boom", "bench"):
            raise KeyError("x")
    except KeyError:
        pass
    assert tr.spans[0].end is not None
    with tr.span("next", "bench"):
        pass
    assert tr.spans[1].parent is None  # the failed span was popped


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("pass", "bench") as s:
        assert s is None
    assert tr.spans == []
