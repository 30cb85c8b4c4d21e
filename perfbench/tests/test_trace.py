import pytest

from perfbench.trace import Span, Tracer, self_times, union_length


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(1, 3), (0, 4), (5, 6)]) == 5


def test_self_time_subtracts_children():
    spans = [
        Span(1, "root", None, 0.0, 10.0),
        Span(2, "a", 1, 1.0, 4.0),
        Span(3, "b", 1, 3.0, 6.0),     # overlaps a: counted once
        Span(4, "a.child", 2, 2.0, 3.0),
        Span(5, "late", 1, 9.0, 12.0),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 5 - 1)
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(1)
    assert st[5] == pytest.approx(3)


def test_self_times_of_a_nested_tree_sum_to_the_root():
    spans = [Span(1, "root", None, 0.0, 8.0), Span(2, "x", 1, 1.0, 5.0),
             Span(3, "y", 2, 2.0, 3.0), Span(4, "z", 1, 6.0, 7.5)]
    assert sum(self_times(spans).values()) == pytest.approx(8.0)


def test_tracer_nests_spans_per_thread_and_disabled_records_nothing():
    tr = Tracer()
    with tr.span("outer") as o:
        with tr.span("inner") as i:
            pass
    assert i.parent == o.sid and o.parent is None
    assert o.t0 <= i.t0 <= i.t1 <= o.t1
    off = Tracer(enabled=False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


def test_sched_wait_is_span_wall_not_covered_by_tasks():
    tr = Tracer()
    s = Span(1, "spark.exec", None, 100.0, 101.0)
    e = tr.epoch_offset
    s.spark["task_intervals"] = [(e + 100.2, e + 100.5), (e + 100.4, e + 100.6),
                                 (e + 100.9, e + 101.3)]
    assert tr.sched_wait(s) == pytest.approx(1.0 - 0.4 - 0.1)
