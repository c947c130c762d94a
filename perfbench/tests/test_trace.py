"""The traced run's self-time check fails when spans do not nest inside
their operation's timed window."""

import time

from perfbench.harness import Op
from perfbench.trace import Span, Tracer, op_key


class _Context:
    def setJobDescription(self, desc):
        pass


class _Spark:
    sparkContext = _Context()


def _tracer(*spans):
    tr = Tracer(_Spark(), "w")
    tr.spans = [Span(i, *s) for i, s in enumerate(spans)]
    return tr


OP = op_key("x", 0, 0)


def test_nested_spans_add_up_to_latency():
    tr = _tracer(("x", "op", OP, None, 10.0, 12.0),
                 ("a", "rml", OP, 0, 10.5, 11.0),
                 ("b", "catalyst", OP, 1, 10.6, 10.7))
    assert tr.self_gap({OP: 2.0}) < 1e-9


def test_span_past_its_operation_is_caught():
    tr = _tracer(("x", "op", OP, None, 10.0, 12.0),
                 ("a", "rml", OP, 0, 10.5, 12.5))
    assert abs(tr.self_gap({OP: 2.0}) - 0.5) < 1e-9


def test_overlapping_spans_are_caught():
    tr = _tracer(("x", "op", OP, None, 10.0, 12.0),
                 ("a", "rml", OP, 0, 10.0, 11.0),
                 ("b", "exec", OP, 0, 10.5, 11.5))
    assert abs(tr.self_gap({OP: 2.0}) - 0.5) < 1e-9


def test_span_left_open_is_caught():
    tr = Tracer(_Spark(), "w")
    op = Op("x", lambda: None)
    t0 = time.perf_counter()
    tr.begin_op(op, 0, 0, t0)
    tr.open("a", "rml")  # never closed by its wrapper
    t1 = time.perf_counter()
    tr.end_op(op, True, t1)
    assert tr.self_gap({OP: t1 - t0}) > 1e-9
