"""Self-time arithmetic and the tail-percentile reporting rule."""

from kgbench.tracing import Span, Tracer, covered, self_times, tail_percentile


def _spans(*rows):
    return [Span(name, start, end, parent)
            for name, start, end, parent in rows]


def test_self_time_subtracts_direct_children_only():
    spans = _spans(("root", 0.0, 10.0, None),
                   ("a", 1.0, 4.0, 0),
                   ("a.x", 2.0, 3.0, 1),
                   ("b", 5.0, 6.5, 0))
    assert self_times(spans) == [10.0 - 3.0 - 1.5, 3.0 - 1.0, 1.0, 1.5]


def test_self_time_counts_overlapping_children_once():
    spans = _spans(("root", 0.0, 10.0, None),
                   ("a", 1.0, 5.0, 0),
                   ("b", 3.0, 7.0, 0))
    assert self_times(spans)[0] == 10.0 - 6.0


def test_children_outside_the_parent_are_clipped():
    assert covered([(-2.0, 1.0), (9.0, 12.0)], 0.0, 10.0) == 2.0


def test_self_times_of_a_tree_sum_to_the_root():
    spans = _spans(("root", 0.0, 8.0, None),
                   ("a", 0.5, 3.0, 0),
                   ("a.x", 1.0, 2.0, 1),
                   ("b", 4.0, 7.5, 0))
    assert abs(sum(self_times(spans)) - 8.0) < 1e-12


def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    class Holder:
        @staticmethod
        def work(x):
            return x + 1

    tracer = Tracer(enabled=True)
    undo = tracer.wrap(Holder, "work", "work")
    with tracer.span("outer"):
        assert Holder.work(1) == 2
    undo()
    assert [s.name for s in tracer.spans] == ["outer", "work"]
    assert tracer.spans[1].parent == 0

    off = Tracer(enabled=False)
    off.wrap(Holder, "work", "work")
    with off.span("outer"):
        assert Holder.work(1) == 2
    assert off.spans == []


def test_tail_is_reported_only_with_ten_samples_beyond_it():
    assert tail_percentile([1.0] * 5 + [2.0] * 5) is None
    # 100 samples: only 9 lie beyond p90, so no tail is reported
    assert tail_percentile([float(i) for i in range(100)]) is None
    # 110 samples: p90 is sample 99, with 10 beyond it
    assert tail_percentile([float(i) for i in range(110)]) == ("p90", 99.0)
    # 1,100 samples support p99 (10 beyond) but not p99.9 (1 beyond)
    assert tail_percentile([float(i) for i in range(1100)]) == \
        ("p99", 1089.0)
