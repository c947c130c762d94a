"""Unit tests for the unified closure module (kgloom/ops/closure.py)
— the single policy point for every transitive closure in the engine
— plus the regression cases from the round-3 review: instance-scale
closures must never take a broadcast-hinted path, and the OWL property
closure must match the rdfp3/rdfp4/rdfp8 fixpoint on the axiom shapes
a single ordered rule pass misses."""

import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F

from kgloom.ops import closure as cl


def _pairs(spark, rows, cols=("a", "b")):
    return spark.createDataFrame(rows, f"{cols[0]} string, {cols[1]} string")


def _got(df):
    return {tuple(r) for r in df.collect()}


def _naive_closure(rows):
    closed = set(rows)
    while True:
        new = {(a, d) for a, b in closed for c, d in closed if b == c}
        if new <= closed:
            return closed
        closed |= new


CHAIN = [("1", "2"), ("2", "3"), ("3", "4")]
CYCLE = [("x", "y"), ("y", "x")]
FOREST = CHAIN + CYCLE + [("p", "q")]


def test_doubling_closure_chain_and_cycle(spark):
    assert _got(cl.doubling_closure(_pairs(spark, FOREST))) == \
        _naive_closure(set(FOREST))
    # cycle derives the self-pairs unless drop_self
    assert ("x", "x") in _got(cl.doubling_closure(_pairs(spark, CYCLE)))
    assert ("x", "x") not in _got(
        cl.doubling_closure(_pairs(spark, CYCLE), drop_self=True))


def test_doubling_closure_empty(spark):
    assert _got(cl.doubling_closure(_pairs(spark, []))) == set()


def test_doubling_closure_raises_on_round_exhaustion(spark):
    deep = [(str(i), str(i + 1)) for i in range(9)]  # depth 9 > 2^2
    with pytest.raises(RuntimeError, match="doubling_closure"):
        cl.doubling_closure(_pairs(spark, deep), max_rounds=2)
    # 4 doubling rounds reach depth 16 >= 9, a 5th confirms the fixpoint
    with pytest.raises(RuntimeError):
        cl.doubling_closure(_pairs(spark, deep), max_rounds=4)
    assert _got(cl.doubling_closure(_pairs(spark, deep), max_rounds=5)) \
        == _naive_closure(set(deep))


def test_fixpoint_operators_launch_pinned_jobs(spark):
    """k_core and doubling_closure run on the fixpoint driver: one
    checkpoint and one row count per round.  Their job counts on a
    fixed 5-edge graph are pinned, so an extra probe per round fails
    here instead of slowing every iterative operator unnoticed."""
    from kgloom.ops.graph import k_core
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]
    assert spark_jobs(spark, "fixpoint-k-core", lambda: k_core(
        _pairs(spark, edges, ("src", "dst")), k=2).collect()) == 27
    assert spark_jobs(spark, "fixpoint-doubling", lambda: (
        cl.doubling_closure(_pairs(spark, edges)).collect())) == 26


def test_transitive_closure_matches_naive_both_paths(spark):
    want = _naive_closure(set(FOREST))
    assert _got(cl.transitive_closure(_pairs(spark, FOREST))) == want
    # force every component through the doubling fallback
    assert _got(cl.transitive_closure(_pairs(spark, FOREST),
                                      local_max_edges=0)) == want


def test_transitive_closure_custom_column_names(spark):
    df = _pairs(spark, CHAIN, cols=("__ps", "__po"))
    out = cl.transitive_closure(df)
    assert out.columns == ["__ps", "__po"]
    assert _got(out) == _naive_closure(set(CHAIN))


def test_anchored_closure_forward(spark):
    out = cl.anchored_closure(_pairs(spark, FOREST), ["2"])
    assert _got(out) == {("2", "3"), ("2", "4")}


def test_anchored_closure_backward(spark):
    out = cl.anchored_closure(_pairs(spark, FOREST), ["3"], forward=False)
    assert _got(out) == {("1", "3"), ("2", "3")}


def test_anchored_closure_absent_seed_and_empty_seeds(spark):
    df = _pairs(spark, FOREST)
    assert _got(cl.anchored_closure(df, ["zzz"])) == set()
    assert _got(cl.anchored_closure(df, [])) == set()


def test_anchored_closure_cycle_self_pair(spark):
    out = cl.anchored_closure(_pairs(spark, CYCLE), ["x"])
    assert _got(out) == {("x", "y"), ("x", "x")}


def test_anchored_closure_prunes_to_seed_component(spark, monkeypatch):
    """The anchored path must close only the seeds' components: feed
    the dispatcher a recording wrapper and check the edge relation it
    closes excludes the other components' edges."""
    seen = []
    real = cl.transitive_closure

    def recording(edges, **kw):
        seen.append({tuple(r) for r in edges.collect()})
        return real(edges, **kw)

    monkeypatch.setattr(cl, "transitive_closure", recording)
    out = cl.anchored_closure(_pairs(spark, FOREST), ["1"])
    assert _got(out) == {("1", "2"), ("1", "3"), ("1", "4")}
    assert seen == [set(CHAIN)]  # CYCLE and (p,q) never entered closure


def test_owl_closure_one_sided_transitive_inverse(spark):
    """Round-3 review repro (a): p transitive, p owl:inverseOf q, q NOT
    declared transitive — the inverse rule must still apply to the
    closure-derived edges: {(1,p,2),(2,p,3)} entails (3,q,1)."""
    from kgloom.ops.reasoning import (OWL_INVERSE_OF, OWL_TRANSITIVE,
                                      RDF_TYPE, owl_property_closure)
    T = "subj string, pred string, obj string"
    axioms = spark.createDataFrame(
        [("<p>", RDF_TYPE, OWL_TRANSITIVE),
         ("<p>", OWL_INVERSE_OF, "<q>")], T)
    inst = spark.createDataFrame(
        [("<1>", "<p>", "<2>"), ("<2>", "<p>", "<3>")], T)
    got = _got(owl_property_closure(inst, axioms))
    assert ("<1>", "<p>", "<3>") in got
    assert ("<3>", "<q>", "<1>") in got          # inverse of the derived edge
    # and q behaves transitively through p: (3,q,2),(2,q,1) ⊢ (3,q,1)
    assert {("<3>", "<q>", "<2>"), ("<2>", "<q>", "<1>")} <= got


def test_owl_closure_inverse_fed_symmetric(spark):
    """Round-3 review repro (b): q symmetric, p owl:inverseOf q, edge
    only on p — symmetric expansion must reach the inverse-derived
    edge and flow back: {(a,p,b)} entails (a,q,b) and (b,p,a)."""
    from kgloom.ops.reasoning import (OWL_INVERSE_OF, OWL_SYMMETRIC,
                                      RDF_TYPE, owl_property_closure)
    T = "subj string, pred string, obj string"
    axioms = spark.createDataFrame(
        [("<q>", RDF_TYPE, OWL_SYMMETRIC),
         ("<p>", OWL_INVERSE_OF, "<q>")], T)
    inst = spark.createDataFrame([("<a>", "<p>", "<b>")], T)
    got = _got(owl_property_closure(inst, axioms))
    assert got == {("<a>", "<p>", "<b>"), ("<b>", "<q>", "<a>"),
                   ("<a>", "<q>", "<b>"), ("<b>", "<p>", "<a>")}


def test_owl_closure_routes_instance_edges_through_size_gate(
        spark, monkeypatch):
    """The instance-scale transitive closure must go through the
    size-gated dispatcher (kgloom.ops.closure.transitive_closure) —
    never the broadcast-hinted schema doubling (the round-3
    scale-killer)."""
    from kgloom.ops import reasoning as rs
    calls = []
    real = cl.transitive_closure

    def recording(edges, **kw):
        calls.append(edges)
        return real(edges, **kw)

    monkeypatch.setattr(cl, "transitive_closure", recording)
    T = "subj string, pred string, obj string"
    axioms = spark.createDataFrame(
        [("<p>", rs.RDF_TYPE, rs.OWL_TRANSITIVE)], T)
    inst = spark.createDataFrame(
        [("<1>", "<p>", "<2>"), ("<2>", "<p>", "<3>")], T)
    out = rs.owl_property_closure(inst, axioms)
    assert ("<1>", "<p>", "<3>") in _got(out)
    assert len(calls) == 1
    # and the optimized plan of the closure input carries no broadcast
    # hint (ResolvedHint) on the instance relation
    plan = calls[0]._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in plan and "broadcast" not in plan.lower()


@pytest.mark.parametrize("trial", range(5))
def test_owl_closure_random_axioms_match_fixpoint(spark, trial):
    """Seeded-random axiom graphs (inverse chains, symmetric marks,
    partial transitivity) vs the naive three-rule fixpoint — the shapes
    that broke the round-3 ordered single pass."""
    import random

    from kgloom.ops.reasoning import (OWL_INVERSE_OF, OWL_SYMMETRIC,
                                      OWL_TRANSITIVE, RDF_TYPE,
                                      owl_property_closure)
    from test_reasoning import _naive_owl_fixpoint
    rng = random.Random(20260818 + trial)
    props = [f"<p:{i}>" for i in range(4)]
    nodes = [f"<n:{i}>" for i in range(6)]
    axioms = set()
    for _ in range(rng.randint(1, 3)):
        axioms.add((rng.choice(props), OWL_INVERSE_OF, rng.choice(props)))
    for _ in range(rng.randint(0, 2)):
        axioms.add((rng.choice(props), RDF_TYPE, OWL_SYMMETRIC))
    for _ in range(rng.randint(0, 2)):
        axioms.add((rng.choice(props), RDF_TYPE, OWL_TRANSITIVE))
    inst = {(rng.choice(nodes), rng.choice(props), rng.choice(nodes))
            for _ in range(rng.randint(3, 10))}
    T = "subj string, pred string, obj string"
    got = _got(owl_property_closure(
        spark.createDataFrame(sorted(inst), T),
        spark.createDataFrame(sorted(axioms), T)))
    assert got == _naive_owl_fixpoint(inst, axioms)


def test_transitive_closure_int_typed_edges(spark):
    """The applyInPandas output schema mirrors the INPUT edge types —
    ER-style bigint node ids must close without a schema mismatch."""
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint")
    got = _got(cl.transitive_closure(df, local_max_edges=10))
    assert got == {(1, 2), (2, 3), (1, 3), (10, 11)}
    assert [f.dataType.simpleString() for f in
            cl.transitive_closure(df).schema.fields] == ["bigint", "bigint"]
