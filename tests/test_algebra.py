"""Unit tests for the operator IR (mirrors operator/src/value.rs +
plangenerator/src/plan.rs:624-695 test strategy — SURVEY.md §5)."""

import pytest

from kgloom.algebra import (
    ExtendOp,
    FragmentOp,
    Function,
    JoinType,
    ProjectOp,
    RenameOp,
    SerializerOp,
    SourceOp,
    TargetOp,
    template_attributes,
    template_split,
)
from kgloom.plan import Plan, PlanError, join

from conftest import REFERENCE, requires_reference


def test_template_attribute_extraction():
    # mirrors rml_model/term_map.rs:24-30 semantics
    assert template_attributes("http://ex.com/{ID}/{Name}") == ["ID", "Name"]
    assert template_attributes("no attrs") == []
    assert template_attributes(r"esc \{x\} {y}") == ["y"]


def test_template_split_roundtrip():
    parts = template_split("http://ex.com/{ID};{Name}")
    assert parts == [("lit", "http://ex.com/"), ("attr", "ID"),
                     ("lit", ";"), ("attr", "Name")]
    assert template_split(r"\{lit\}{a}") == [("lit", "{lit}"), ("attr", "a")]


def test_function_references():
    f = Function.iri(Function.uri_encode(Function.template("{A}/{B}")))
    assert f.references() == {"A", "B"}
    g = Function.concatenate(Function.reference("x"), "_", Function.constant("k"))
    assert g.references() == {"x"}


def test_extend_merge():
    a = ExtendOp.make({"x": Function.constant("1")})
    b = ExtendOp.make({"y": Function.constant("2")})
    merged = a.extend_with(b)
    assert set(dict(merged.extend_pairs)) == {"x", "y"}


def test_operator_json_tags():
    # serde-compatible {"type": ...} tagging (operator/src/lib.rs:18-19)
    ops = [
        SourceOp.make({"source": "s.csv"}),
        ProjectOp(projection_attributes=frozenset({"a"})),
        RenameOp.make({"a": "b"}),
        ExtendOp.make({"v": Function.constant("c")}),
        FragmentOp(from_fragment="default", to_fragments=("default", "f1")),
        SerializerOp(template="?s ?p ?o ."),
        TargetOp.make({}),
    ]
    tags = [op.to_json()["type"] for op in ops]
    assert tags == ["SourceOp", "ProjectOp", "RenameOp", "ExtendOp",
                    "FragmentOp", "SerializerOp", "TargetOp"]


def test_plan_state_machine():
    # plan.rs:624-695 invariants: states + node/edge counts
    p = Plan()
    src = SourceOp.make({"source": "s.csv"})
    with pytest.raises(PlanError):
        p.apply(ProjectOp(projection_attributes=frozenset()), "Projection")
    p1 = p.source(src)
    p2 = p1.apply(ProjectOp(projection_attributes=frozenset({"a"})), "Projection")
    with pytest.raises(PlanError):
        p2.apply(src, "Source")  # blacklist (plan.rs:249-257)
    p3 = p2.serialize(SerializerOp(template="?s ?p ?o ."))
    with pytest.raises(PlanError):
        p3.apply(ProjectOp(projection_attributes=frozenset()), "Projection")
    p4 = p3.sink(TargetOp.make({}))
    assert p4.state == "Sunk"
    assert len(p1.graph.nodes) == 4
    assert len(p1.graph.edges) == 3


def test_plan_join_dsl():
    g = Plan()
    left = g.source(SourceOp.make({"source": "l.csv"}))
    right = Plan(left.graph).source(SourceOp.make({"source": "r.csv"}))
    joined = join(left, right).alias("join_1").where_by(["a"]).compared_to(["b"])
    node = joined.graph.nodes[joined.node_id]
    assert node.operator.join_alias == "join_1"
    assert node.operator.left_right_attr_pairs == (("a", "b"),)
    # edge order: child first, parent second
    preds = joined.graph.predecessors(joined.node_id)
    assert preds[0].src == left.node_id and preds[1].src == right.node_id


def test_fragment_consistency():
    g = Plan()
    p = g.source(SourceOp.make({"source": "s.csv"}))
    with pytest.raises(PlanError):
        p.fragment(FragmentOp(from_fragment="nope", to_fragments=("a",)))
    f = p.fragment(FragmentOp(from_fragment="default",
                              to_fragments=("default", "f1")))
    assert f.with_fragment("f1").frag == "f1"
    with pytest.raises(PlanError):
        f.with_fragment("missing")


def test_natural_and_cross_join():
    g = Plan()
    left = g.source(SourceOp.make({"source": "l.csv"}))
    right = Plan(left.graph).source(SourceOp.make({"source": "r.csv"}))
    n = join(left, right).alias("j").natural_join()
    assert n.graph.nodes[n.node_id].operator.join_type == JoinType.NATURAL
    c = join(left, right).alias("j2").cross_join()
    assert c.graph.nodes[c.node_id].operator.join_type == JoinType.CROSS


def test_plan_json_roundtrip_shape():
    g = Plan()
    p = g.source(SourceOp.make({"source": "s.csv"}))
    p.apply(ProjectOp(projection_attributes=frozenset({"x"})), "Projection")
    doc = p.graph.to_json()
    assert {n["id"] for n in doc["nodes"]} == {"Source_0", "Projection_1"}
    assert doc["edges"][0]["from"] == "Source_0"


@requires_reference
def test_plan_json_round_trip_executes(spark):
    """Plans are data in BOTH directions (reference serde derives
    Deserialize too): compile a golden-corpus mapping, serialize the
    plan to JSON, load it back, execute — identical quads."""
    from kgloom.engine import compile_rml, nquads, run_plan
    from kgloom.exec.binder import SparkBinder, write_sinks
    from kgloom.plan import PlanGraph

    case = f"{REFERENCE}/resources/csv-testcases/RMLTC0009b-CSV"
    compiled = compile_rml(open(f"{case}/mapping.ttl").read())
    text = compiled.graph.to_json_string()

    reloaded = PlanGraph.from_json_string(text)
    # structural round trip: identical re-serialization
    assert reloaded.to_json() == compiled.graph.to_json()

    from functools import reduce
    binder = SparkBinder(spark, base_dir=case)
    direct = reduce(lambda a, b: a.unionByName(b),
                    write_sinks(binder.execute(compiled.graph)).values()) \
        .distinct()
    via_json = run_plan(spark, text, base_dir=case)
    assert nquads(via_json) == nquads(direct)
    want = sorted(ln for ln in open(f"{case}/output.nq").read().splitlines()
                  if ln.strip())
    assert nquads(via_json) == want


def test_function_json_round_trip():
    from kgloom.algebra import Function, function_from_json
    fns = [
        Function.iri(Function.uri_encode(
            Function.template("http://e/{A}/{B}")), base="http://b/"),
        Function.literal(Function.reference("x"),
                         dtype=Function.constant("http://dt"),
                         langtype=None),
        Function.replace({"K": {"a", "b"}}, Function.lower(
            Function.concatenate(Function.reference("l"), "-",
                                 Function.constant("c")))),
        Function.fno("http://f#up", {"p": Function.reference("v")}),
        Function.template_function("t{v}", {"v": Function.reference("w")}),
        Function.blank_node(Function.upper(Function.reference("z"))),
    ]
    for fn in fns:
        assert function_from_json(fn.to_json()) == fn
