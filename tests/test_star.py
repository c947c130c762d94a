"""RDF-star quoted triples: constructors (kgloom/ops/star.py), the
N-Triples-star reader grammar (kgloom/exec/rdfsource.py), and the
serializer round trip."""

import pytest
from pyspark.sql import functions as F

from kgloom.exec.binder import to_nquads_lines
from kgloom.exec.rdfsource import parse_nquads_lines
from kgloom.ops.star import (annotate, deconstruct, is_quoted,
                             quote_triple, unquote_triple)

TRIPLES = [
    ("<http://ex/t1>", "<http://ex/usedTool>", "<http://ex/bash>"),
    ("<http://ex/t2>", "<http://ex/note>", '"has >> inside"'),
    ("_:b0", "<http://ex/note>", '"fr text"@fr'),
]


@pytest.fixture()
def tri(spark):
    return spark.createDataFrame(TRIPLES, ["subj", "pred", "obj"])


def test_quote_unquote_identity(spark, tri):
    q = tri.select(quote_triple(F.col("subj"), F.col("pred"),
                                F.col("obj")).alias("qt"),
                   "subj", "pred", "obj")
    rows = q.select("subj", "pred", "obj",
                    unquote_triple(F.col("qt")).alias("u"),
                    is_quoted(F.col("qt")).alias("isq")).collect()
    for r in rows:
        assert r.isq
        assert (r.u.subj, r.u.pred, r.u.obj) == (r.subj, r.pred, r.obj)


def test_is_quoted_false_for_plain_terms(spark, tri):
    rows = tri.select(is_quoted(F.col("subj")).alias("a"),
                      is_quoted(F.col("obj")).alias("b")).collect()
    assert not any(r.a or r.b for r in rows)


def test_annotation_roundtrip_through_nquads_text(spark, tri):
    ann = annotate(tri, "<http://ex/conf>", F.lit('"0.9"'))
    lines = to_nquads_lines(ann)
    back = parse_nquads_lines(lines)
    got = sorted(map(tuple, back.select("subj", "pred", "obj").collect()))
    want = sorted(map(tuple, ann.select("subj", "pred", "obj").collect()))
    assert got == want and len(got) == 3


def test_deconstruct_joins_back(spark, tri):
    ann = annotate(tri, "<http://ex/conf>", F.lit('"0.9"'))
    flat = deconstruct(ann)
    got = sorted((r.inner_subj, r.inner_pred, r.inner_obj, r.obj)
                 for r in flat.collect())
    assert got == sorted((s, p, o, '"0.9"') for s, p, o in TRIPLES)


def test_quoted_object_position_parses(spark):
    line = ('<http://ex/s> <http://ex/saw> '
            '<< <http://ex/a> <http://ex/b> "c d" >> <http://ex/g> .')
    df = spark.createDataFrame([(line,)], "value string")
    r = parse_nquads_lines(df).collect()[0]
    assert r.subj == "<http://ex/s>"
    assert r.obj == '<< <http://ex/a> <http://ex/b> "c d" >>'
    assert r.graph == "<http://ex/g>"


def test_unspaced_quoted_triple_reads_canonical(spark):
    """N-Triples-star without inner spacing reads back in the engine's
    ``<< s p o >>`` form, so a ground quoted SPARQL pattern finds it
    (in subject and in object position)."""
    from kgloom.sparql import sparql_select
    df = spark.createDataFrame([("<<<a> <p> <o>>> <q> <z> .",),
                                ('<s> <q> <<  <a>\t<p> "o"@en>> .',)],
                               "value string")
    quads = parse_nquads_lines(df)
    assert sorted(r.t for r in quads.select(F.concat_ws(
        " ", "subj", "obj").alias("t")).collect()) == [
        '<< <a> <p> <o> >> <z>', '<s> << <a> <p> "o"@en >>']
    rows = sparql_select(
        quads, "SELECT ?x WHERE { << <a> <p> <o> >> <q> ?x }").collect()
    assert [r.x for r in rows] == ["z"]
    rows = sparql_select(
        quads, 'SELECT ?x WHERE { ?x <q> << <a> <p> "o"@en >> }').collect()
    assert [r.x for r in rows] == ["s"]


def test_nested_quoting_is_malformed(spark):
    line = ('<< << <http://ex/a> <http://ex/b> "c" >> '
            '<http://ex/p> "x" >> <http://ex/q> "y" .')
    df = spark.createDataFrame([(line,)], "value string")
    assert parse_nquads_lines(df, mode="permissive").count() == 0
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    with pytest.raises(Exception, match="malformed"):
        parse_nquads_lines(df, mode="failfast").collect()


# --- SPARQL-star ------------------------------------------------------------

@pytest.fixture()
def star_kg(spark, tri):
    """Asserted triples + RDF-star annotations over them."""
    ann = annotate(tri, "<http://ex/conf>",
                   F.concat(F.lit('"c-'), F.col("subj"), F.lit('"')))
    base = tri.withColumn("graph", F.lit(None).cast("string"))
    return base.unionByName(ann)


def test_sparql_star_bgp_subject(spark, star_kg):
    from kgloom.sparql import sparql_select
    rows = sparql_select(star_kg, """
        SELECT ?s ?o ?c WHERE {
          << ?s <http://ex/note> ?o >> <http://ex/conf> ?c .
        } ORDER BY ?s
    """).collect()
    assert [(r.s, r.o) for r in rows] == [
        ("_:b0", "fr text"),  # lexical forms projected
        ("http://ex/t2", 'has >> inside')]


def test_sparql_star_join_with_asserted(spark, star_kg):
    """Inner vars unify with the asserted graph across patterns."""
    from kgloom.sparql import sparql_select
    rows = sparql_select(star_kg, """
        SELECT ?s ?tool ?c WHERE {
          ?s <http://ex/usedTool> ?tool .
          << ?s <http://ex/usedTool> ?tool >> <http://ex/conf> ?c .
        }
    """).collect()
    assert len(rows) == 1 and rows[0].tool == "http://ex/bash"


def test_sparql_star_ground_quoted_term(spark, star_kg):
    from kgloom.sparql import sparql_select
    rows = sparql_select(star_kg, """
        SELECT ?c WHERE {
          << <http://ex/t1> <http://ex/usedTool> <http://ex/bash> >>
            <http://ex/conf> ?c .
        }
    """).collect()
    assert [r.c for r in rows] == ["c-<http://ex/t1>"]


def test_construct_star_emits_annotations(spark, tri):
    from kgloom.sparql import sparql_construct
    base = tri.withColumn("graph", F.lit(None).cast("string"))
    out = sparql_construct(base, """
        CONSTRUCT { << ?s <http://ex/note> ?o >> <http://ex/src> "kg" }
        WHERE { ?s <http://ex/note> ?o . }
    """)
    got = sorted(map(tuple,
                     out.select("subj", "pred", "obj").collect()))
    assert got == [
        ('<< <http://ex/t2> <http://ex/note> "has >> inside" >>',
         "<http://ex/src>", '"kg"'),
        ('<< _:b0 <http://ex/note> "fr text"@fr >>',
         "<http://ex/src>", '"kg"'),
    ]


def test_sparql_star_nested_rejected(spark, star_kg):
    from kgloom.sparql import SparqlError, sparql_select
    with pytest.raises(SparqlError, match="nested"):
        sparql_select(star_kg, """
            SELECT ?c WHERE {
              << << ?a ?b ?x >> ?p ?o >> <http://ex/conf> ?c .
            }
        """)


# --- RDF merge / bnode standardization --------------------------------------

def test_standardize_bnodes_terms_only(spark):
    from kgloom.ops.star import standardize_bnodes
    df = spark.createDataFrame(
        [("_:b0", "<http://ex/p>", '"see _:b0 here"'),
         ("<http://ex/s>", "<http://ex/p>", "_:b0"),
         ('<< _:b0 <http://ex/p> "x" >>', "<http://ex/conf>", '"0.9"')],
        ["subj", "pred", "obj"])
    got = sorted(map(tuple,
                     standardize_bnodes(df, "g1")
                     .select("subj", "pred", "obj").collect()))
    assert got == sorted([
        ("_:g1.b0", "<http://ex/p>", '"see _:b0 here"'),  # literal kept
        ("<http://ex/s>", "<http://ex/p>", "_:g1.b0"),
        ('<< _:g1.b0 <http://ex/p> "x" >>', "<http://ex/conf>",
         '"0.9"'),
    ])


def test_rdf_merge_keeps_colliding_bnodes_apart(spark):
    from kgloom.ops.star import rdf_merge
    g1 = spark.createDataFrame(
        [("_:b", "<http://ex/name>", '"alice"')],
        ["subj", "pred", "obj"])
    g2 = spark.createDataFrame(
        [("_:b", "<http://ex/name>", '"bob"')],
        ["subj", "pred", "obj"])
    merged = rdf_merge({"a": g1, "b": g2}).collect()
    subs = sorted(r.subj for r in merged)
    assert subs == ["_:a.b", "_:b.b"]  # two distinct individuals
    # a plain union would have ONE bnode with two names
    with pytest.raises(ValueError):
        rdf_merge({"bad tag!": g1})


def test_sparql_star_builtins(spark, star_kg):
    """TRIPLE / SUBJECT / PREDICATE / OBJECT / isTRIPLE (RDF-star CG
    report §7) in BIND and FILTER."""
    from kgloom.sparql import sparql_select
    rows = sparql_select(star_kg, """
        SELECT ?t ?s2 ?p2 ?o2 WHERE {
          ?t <http://ex/conf> ?c .
          FILTER(isTRIPLE(?t))
          BIND(SUBJECT(?t) AS ?s2)
          BIND(PREDICATE(?t) AS ?p2)
          BIND(OBJECT(?t) AS ?o2)
        } ORDER BY ?t
    """).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.t.startswith("<< ") and r.p2 is not None
    # TRIPLE() reconstructs the quoted term from its parts
    rows2 = sparql_select(star_kg, """
        SELECT ?t ?qt WHERE {
          ?t <http://ex/conf> ?c .
          BIND(TRIPLE(SUBJECT(?t), PREDICATE(?t), OBJECT(?t)) AS ?qt)
        }
    """).collect()
    assert len(rows2) == 3 and all(r.qt == r.t for r in rows2)
    # SUBJECT of a non-triple is unbound -> row dropped by FILTER
    n = sparql_select(star_kg, """
        SELECT ?s WHERE {
          ?s <http://ex/usedTool> ?o .
          FILTER(isTRIPLE(?s))
        }
    """).count()
    assert n == 0


def test_update_insert_data_quoted_triple(spark):
    """SPARQL-star Update: a GROUND quoted triple collapses to a
    constant term at parse time, so INSERT DATA carries annotations."""
    from kgloom.sparql import sparql_update
    quads = spark.createDataFrame(
        [("<http://e/a>", "<http://e/p>", '"1"', None)],
        "subj string, pred string, obj string, graph string")
    out = sparql_update(quads, '''
        INSERT DATA { << <http://e/a> <http://e/p> "1" >>
                        <http://e/conf> "0.8" }
    ''')
    got = sorted(map(tuple, out.collect()))
    assert ('<< <http://e/a> <http://e/p> "1" >>',
            "<http://e/conf>", '"0.8"', None) in got
    assert len(got) == 2


def test_annotation_syntax_select(spark, star_kg):
    """SPARQL-star annotation syntax: ?s ?p ?o {| m v |} matches the
    asserted triple AND its annotation in one pattern."""
    from kgloom.sparql import sparql_select
    rows = sparql_select(star_kg, """
        SELECT ?s ?o ?c WHERE {
          ?s <http://ex/note> ?o {| <http://ex/conf> ?c |} .
        } ORDER BY ?s
    """).collect()
    # both note triples are asserted AND annotated
    assert [(r.s, r.o) for r in rows] == [
        ("_:b0", "fr text"), ("http://ex/t2", "has >> inside")]
    assert all(r.c.startswith("c-") for r in rows)
    # equivalent to spelling asserted + quoted patterns separately
    manual = sparql_select(star_kg, """
        SELECT ?s ?o ?c WHERE {
          ?s <http://ex/note> ?o .
          << ?s <http://ex/note> ?o >> <http://ex/conf> ?c .
        } ORDER BY ?s
    """).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in manual]


def test_annotation_syntax_construct(spark, tri):
    """CONSTRUCT templates accept annotation syntax: emits the
    asserted triple plus its annotation."""
    from kgloom.sparql import sparql_construct
    base = tri.withColumn("graph", F.lit(None).cast("string"))
    out = sparql_construct(base, """
        CONSTRUCT {
          ?s <http://ex/note> ?o {| <http://ex/src> "kg" |}
        }
        WHERE { ?s <http://ex/note> ?o . }
    """)
    got = sorted(map(tuple, out.select("subj", "pred", "obj").collect()))
    assert ("_:b0", "<http://ex/note>", '"fr text"@fr') in got
    assert ('<< _:b0 <http://ex/note> "fr text"@fr >>',
            "<http://ex/src>", '"kg"') in got
    assert len(got) == 4  # 2 asserted + 2 annotations


def test_annotation_block_errors(spark, star_kg):
    from kgloom.sparql import SparqlError, sparql_select
    with pytest.raises(SparqlError, match="missing"):
        sparql_select(star_kg, """
            SELECT ?c WHERE {
              ?s <http://ex/note> ?o {| <http://ex/conf> ?c .
            }
        """)
