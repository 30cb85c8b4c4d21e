from types import SimpleNamespace

import pytest

from perfbench.querymix import CLASSES, QueryMix
from perfbench.trace import Span, Tracer
from perfbench.workloads import (
    MIN_CALLS, MIN_ROUNDS, Workload, batch_traced, http_schedule,
)


class FakeServer:
    def __init__(self):
        self.spanned = SimpleNamespace(request=None)

    def get(self, query):
        return 200, {"results": []}


def loop_ops(traced: bool, min_rounds: int) -> list[dict]:
    """Run the real HTTP loop with a zero-second window against a server
    that answers at once: only the minimum round count runs."""
    wl = Workload.__new__(Workload)
    wl.tracer = Tracer(enabled=traced)
    wl.traced = traced
    wl.inp = SimpleNamespace(interactive=QueryMix(3, 4))
    wl.http_ops = []
    wl.http_loop(FakeServer(), 0.0, min_rounds)
    return wl.http_ops


@pytest.mark.parametrize("workload", sorted(MIN_ROUNDS))
def test_every_class_is_traced_at_the_minimum_round_count(workload):
    ops = loop_ops(traced=True, min_rounds=MIN_ROUNDS[workload])
    for c in CLASSES:
        sent = [op for op in ops if op["c"] == c]
        assert any(op["span"] is not None for op in sent), c
        assert any(op["span"] is None for op in sent), c
    # each traced request has an untraced twin of the same query
    traced = sorted(op["q"] for op in ops if op["span"] is not None)
    plain = sorted(op["q"] for op in ops if op["span"] is None)
    assert traced == plain


def test_untraced_loop_runs_whole_rounds_untraced():
    ops = loop_ops(traced=False, min_rounds=MIN_ROUNDS["query"])
    assert len(ops) == MIN_ROUNDS["query"] * len(CLASSES)
    assert all(op["span"] is None for op in ops)
    assert [op["c"] for op in ops[:len(CLASSES)]] == list(CLASSES)


def test_traced_schedule_alternates_which_send_goes_first():
    firsts = [t for (_, t) in http_schedule(4, True)[::2]]
    assert firsts == [True, False, True, False]
    assert http_schedule(3, False) == [(0, False), (1, False), (2, False)]


def test_batch_calls_at_the_minimum_include_both_kinds():
    kinds = {batch_traced(i) for i in range(MIN_CALLS)}
    assert kinds == {True, False}


def test_trace_accounting_arithmetic():
    wl = Workload.__new__(Workload)
    wl.run = SimpleNamespace(layer={})
    wl.tracer = Tracer()
    build = Span(1, "pipeline.build", None, 0.0, 10.0)
    req = Span(3, "serve.request", None, 20.0, 21.9)
    wl.tracer.spans = [
        build, Span(2, "write.docs", 1, 1.0, 7.0),
        req, Span(4, "wand.plan", 3, 20.1, 20.5),
        Span(5, "spark.exec", 3, 20.5, 21.5),
    ]
    wl.steps = {"pipeline.build": (0.0, 10.0, build)}
    wl.http_ops = [{"wall": 2.0, "span": req}, {"wall": 1.0, "span": None}]
    wl.batch_ops = []
    wl.trace_accounting()
    # build self time 4 s; request self time 0.5 s plus 0.1 s of client
    # wall outside the request span; over 10 + 2 s of traced wall
    assert wl.run.layer["trace.unattributed_frac"] == pytest.approx(4.6 / 12)
    assert wl.run.layer["trace.overhead_frac"] == pytest.approx(1.0)
