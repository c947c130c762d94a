"""Distributed Turtle writer (kgloom/exec/ttl.py): deterministic
text, prefix-compaction safety, and a full write→parse round trip
through the package's own Turtle parser."""

import pytest
from pyspark.sql import functions as F

from kgloom.exec.ttl import (compact_term, turtle_blocks,
                             turtle_document_lines)

from conftest import REFERENCE, requires_reference

EX = "http://ex.org/"


@pytest.fixture(scope="module")
def kg(spark):
    rows = [
        (f"<{EX}s1>", f"<{EX}name>", '"Alice"', None),
        (f"<{EX}s1>", f"<{EX}name>", '"Alice"', None),  # dup collapses
        (f"<{EX}s1>", f"<{EX}knows>", f"<{EX}s2>", None),
        (f"<{EX}s1>", f"<{EX}knows>", f"<{EX}s3>", None),
        (f"<{EX}s1>",
         "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
         f"<{EX}Person>", None),
        (f"<{EX}s2>", f"<{EX}name>", '"Bob"@en', None),
        (f"<{EX}s3>", f"<{EX}age>",
         '"30"^^<http://www.w3.org/2001/XMLSchema#integer>', None),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")


def test_blocks_deterministic_shape(spark, kg):
    got = {r.subj: r.ttl for r in
           turtle_blocks(kg, {"ex": EX}).collect()}
    # rdf:type first as 'a', predicates then objects sorted, dup gone
    assert got["ex:s1"] == \
        "ex:s1 a ex:Person ; ex:knows ex:s2 , ex:s3 ; ex:name \"Alice\" ."
    assert got["ex:s2"] == 'ex:s2 ex:name "Bob"@en .'
    assert got["ex:s3"] == \
        'ex:s3 ex:age "30"^^<http://www.w3.org/2001/XMLSchema#integer> .'


def test_blocks_stable_across_partitionings(spark, kg):
    a = sorted(r.ttl for r in
               turtle_blocks(kg.repartition(1), {"ex": EX}).collect())
    b = sorted(r.ttl for r in
               turtle_blocks(kg.repartition(16), {"ex": EX}).collect())
    assert a == b


def test_compaction_safety(spark):
    df = spark.createDataFrame(
        [(f"<{EX}ok_name>",),      # safe local → compacts
         (f"<{EX}has.dot>",),      # dot not in safe subset → full IRI
         (f"<{EX}9starts>",),      # digit start → full IRI
         (f"<{EX}path/deep>",),    # slash → full IRI
         ("<http://other.org/x>",)],  # no matching namespace
        "t string")
    got = [r.c for r in df.select(
        compact_term(F.col("t"), {"ex": EX}).alias("c"))
        .orderBy("t").collect()]
    assert got == [f"<{EX}9starts>", f"<{EX}has.dot>",
                   "ex:ok_name", f"<{EX}path/deep>",
                   "<http://other.org/x>"]


def test_compaction_longest_namespace_wins(spark):
    df = spark.createDataFrame([(f"<{EX}sub/leaf>",)], "t string")
    got = df.select(compact_term(
        F.col("t"), {"ex": EX, "sub": EX + "sub/"}).alias("c")) \
        .collect()[0].c
    assert got == "sub:leaf"


def _render(term):
    """Parser tagged tuple → the engine's rendered form."""
    if term[0] == "iri":
        return f"<{term[1]}>"
    if term[0] == "bnode":
        return f"_:{term[1]}"
    _, lex, dtype, lang = term
    if lang:
        return f'"{lex}"@{lang}'
    if dtype and dtype != "http://www.w3.org/2001/XMLSchema#string":
        return f'"{lex}"^^<{dtype}>'
    return f'"{lex}"'


def test_roundtrip_through_own_parser(spark, kg):
    from kgloom.rml.turtle import parse_turtle
    doc = "\n".join(r.value for r in
                    turtle_document_lines(kg, {"ex": EX}).collect())
    assert doc.startswith(f"@prefix ex: <{EX}> .")
    g = parse_turtle(doc)
    got = {(_render(s), _render(p), _render(o)) for s, p, o in g.triples}
    want = {(r.subj, r.pred, r.obj) for r in kg.collect()}
    assert got == want


@requires_reference
def test_roundtrip_corpus_case(spark):
    """Write an RML-constructed KG as Turtle, parse it back, and
    compare the triple set — the writer must round-trip real data."""
    from kgloom.engine import run_rml_file
    from kgloom.rml.turtle import parse_turtle
    case = f"{REFERENCE}/resources/csv-testcases/RMLTC0009b-CSV"
    quads = run_rml_file(spark, f"{case}/mapping.ttl", base_dir=case)
    doc = "\n".join(r.value for r in
                    turtle_document_lines(quads).collect())
    g = parse_turtle(doc)
    got = {(_render(s), _render(p), _render(o)) for s, p, o in g.triples}
    want = {(r.subj, r.pred, r.obj) for r in quads.collect()}
    assert got == want and len(want) > 0


@requires_reference
def test_binder_accepts_ttl_format(spark):
    """SerializerOp with format TTL binds (the reference leaves TTL
    unimplemented); the FILE sink writes a parseable Turtle doc."""
    from kgloom.algebra import DataFormat
    from kgloom.engine import compile_rml
    from kgloom.exec.binder import SparkBinder

    case = f"{REFERENCE}/resources/csv-testcases/RMLTC0000-CSV"
    with open(f"{case}/mapping.ttl") as f:
        plan = compile_rml(f.read())
    import dataclasses
    ser_nodes = [n for n in plan.graph.nodes.values()
                 if type(n.operator).__name__ == "SerializerOp"]
    assert ser_nodes
    for n in ser_nodes:
        object.__setattr__(n, "operator", dataclasses.replace(
            n.operator, format=DataFormat.TTL))
    binder = SparkBinder(spark, base_dir=case)
    sinks = binder.execute(plan.graph)
    assert all(s.format == DataFormat.TTL for s in sinks)


def test_no_python_in_plan(spark, kg):
    plan = turtle_blocks(kg, {"ex": EX})._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_trig_named_and_default_graphs(spark):
    from kgloom.exec.ttl import trig_document_lines
    rows = [
        (f"<{EX}s1>", f"<{EX}p>", '"x"', f"<{EX}g1>"),
        (f"<{EX}s1>", f"<{EX}p>", '"y"', f"<{EX}g1>"),
        (f"<{EX}s1>", f"<{EX}p>", '"z"', None),
        (f"<{EX}s2>",
         "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
         f"<{EX}T>", f"<{EX}g2>"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")
    got = sorted(r.value for r in
                 trig_document_lines(df, {"ex": EX}).collect())
    assert got == [
        '@prefix ex: <http://ex.org/> .',
        'ex:g1 { ex:s1 ex:p "x" , "y" . }',
        'ex:g2 { ex:s2 a ex:T . }',
        'ex:s1 ex:p "z" .',
    ]


def test_trig_degrades_to_turtle_without_graphs(spark, kg):
    from kgloom.exec.ttl import (trig_document_lines,
                                 turtle_document_lines)
    a = sorted(r.value for r in
               trig_document_lines(kg, {"ex": EX}).collect())
    b = sorted(r.value for r in
               turtle_document_lines(kg, {"ex": EX}).collect())
    assert a == b
