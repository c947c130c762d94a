"""BENCHMARK.json declares exactly the metrics the runs print."""

import json
import os

from perfbench import harness
from perfbench.trace import per_layer_names

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_metrics_match():
    b = _declared()
    assert [m["name"] for m in b["per_layer"]] == per_layer_names()
    assert all(m["unit"] == harness.unit(m["name"]) for m in b["per_layer"])


def test_end_to_end_metrics_match():
    class W:
        turns_per_pass = triples_per_pass = 10

    p = harness.PassRecord()
    p.ops = [harness.OpRecord("op", 0, i, 1.0 + i, 0.1, 0.2, 100.0, True)
             for i in range(3)]
    got = harness.end_to_end([p], W(), setup_s=1.0)
    b = _declared()
    assert [m["name"] for m in b["end_to_end"]] == list(got)
    assert all(m["unit"] == harness.unit(m["name"]) for m in b["end_to_end"])
    assert all(v > 0 for v in got.values())


def test_tail_percentile():
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100)
    xs = [float(i) for i in range(100)]
    value, pct = harness.tail(xs)
    assert pct == 90 and sum(x > value for x in xs) == 10
