"""One literal form across the readers (kgloom/syntax.py): every legal
escape of RDF 1.1 Turtle §6.4 (``ECHAR`` and ``UCHAR``, which N-Quads
and SPARQL 1.1 §19.7 share) reads to the same rendered term from a
Turtle mapping constant, a SPARQL constant and an N-Quads line, and an
illegal escape raises the reader's parse error."""

import pytest

from kgloom.engine import run_rml
from kgloom.exec.rdfsource import parse_nquads_lines
from kgloom.rml.turtle import TurtleParseError, parse_turtle
from kgloom.sparql import SparqlError, parse_sparql
from kgloom.syntax import render_literal

MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .

<http://ex/TM> rml:logicalSource [ rml:source "one.csv";
                                   rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex/{ID}" ];
  rr:predicateObjectMap [ rr:predicate <http://ex/p>;
                          rr:objectMap [ rr:constant "a%sb" ] ] .
"""
QUERY = 'SELECT ?s WHERE { ?s <http://ex/p> "a%sb" }'
NQUADS = '<http://ex/1> <http://ex/p> "a%sb" .'

#: (escape as written, the character it stands for)
LEGAL = [("\\t", "\t"), ("\\b", "\b"), ("\\n", "\n"), ("\\r", "\r"),
         ("\\f", "\f"), ('\\"', '"'), ("\\'", "'"), ("\\\\", "\\"),
         ("\\u0041", "A"), ("\\U0001F600", "\U0001F600")]


@pytest.mark.parametrize("escape,char", LEGAL, ids=[e for e, _ in LEGAL])
def test_legal_escape_reads_to_one_term(spark, tmp_path, escape, char):
    (tmp_path / "one.csv").write_text("ID\n1\n")
    mapped = run_rml(spark, MAPPING % escape, base_dir=str(tmp_path))
    line = spark.createDataFrame([(NQUADS % escape,)], "value string")
    want = render_literal(f"a{char}b")
    assert [r.obj for r in mapped.collect()] == [want]
    assert parse_sparql(QUERY % escape).patterns[0][2] == want
    assert [r.obj for r in parse_nquads_lines(line).collect()] == [want]


@pytest.mark.parametrize("escape", ["\\q", "\\uZZZZ"])
def test_illegal_escape_raises(escape):
    with pytest.raises(TurtleParseError, match="illegal escape"):
        parse_turtle(MAPPING % escape)
    with pytest.raises(SparqlError, match="illegal escape"):
        parse_sparql(QUERY % escape)
