"""Span recorder: self time, and nothing recorded or wrapped when off."""

import pytest

from perfbench.trace import Span, Tracer, self_times, union_length


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_children_clipped_to_parent():
    spans = [
        Span(0, "batch", 0.0, 10.0, None),
        Span(1, "push", 1.0, 6.0, 0),
        Span(2, "write", 2.0, 4.0, 1),
        Span(3, "dlq", 3.0, 5.0, 1),  # overlaps write: counted once
        Span(4, "commit", 9.0, 12.0, 0),  # clipped to the parent's end
    ]
    own = self_times(spans)
    assert own["batch"] == pytest.approx(10 - 5 - 1)
    assert own["push"] == pytest.approx(5 - 3)
    assert own["write"] == pytest.approx(2)
    assert own["commit"] == pytest.approx(3)


def test_nested_spans_record_parents():
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        tr.wrap(lambda: None, "inner")()
    outer, inner = tr.spans
    assert (outer.parent, inner.parent) == (None, outer.id)
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_disabled_tracer_records_and_wraps_nothing():
    tr = Tracer(enabled=False)

    def fn():
        return 1

    class Obj:
        def method(self):
            return 2

    obj = Obj()
    tr.wrap_method(obj, "method", "m")
    with tr.span("s"):
        assert tr.wrap(fn, "f") is fn
    assert "method" not in vars(obj)
    assert tr.spans == []
