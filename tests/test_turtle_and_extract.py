"""Unit tests: Turtle parser + RML extractors (mirror the reference's
extractor tests against small fixture mappings — SURVEY.md §5.1)."""

import glob

import pytest

from kgloom.rml.extract import RmlValidationError, extract_document
from kgloom.rml.turtle import parse_turtle, parse_turtle_file

from conftest import REFERENCE, requires_reference

SAMPLE = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
@base <http://example.com/base/> .

<TM1> a rr:TriplesMap;
  rml:logicalSource [ rml:source "s.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.com/{ID}"; rr:class foaf:Person ];
  rr:predicateObjectMap [
    rr:predicate foaf:name;
    rr:objectMap [ rml:reference "Name"; rr:language "en" ]
  ] .
"""


def test_parse_basic_terms():
    g = parse_turtle(SAMPLE)
    assert g.base == "http://example.com/base/"
    tms = g.subjects_with("http://www.w3.org/ns/r2rml#subjectMap")
    assert tms == [("iri", "http://example.com/base/TM1")]


def test_parse_literals_and_escapes():
    g = parse_turtle('@prefix ex: <http://e/> . ex:s ex:p "a\\"b\\nc"@en, 42, 4.2, true .')
    objs = {o for _, _, o in g.triples}
    assert ("literal", 'a"b\nc', None, "en") in objs
    assert ("literal", "42", "http://www.w3.org/2001/XMLSchema#integer", None) in objs
    assert ("literal", "true", "http://www.w3.org/2001/XMLSchema#boolean", None) in objs


def test_parse_collections_and_nested_bnodes():
    g = parse_turtle('@prefix ex: <http://e/> . ex:s ex:p [ ex:q ( ex:a ex:b ) ] .')
    assert len(g.triples) >= 5  # s-p-bnode, bnode-q-list, 2×first, 2×rest


@requires_reference
def test_all_corpus_mappings_parse():
    files = sorted(glob.glob(
        f"{REFERENCE}/resources/csv-testcases/*/mapping.ttl"))
    assert len(files) == 39
    for f in files:
        parse_turtle_file(f)


def test_extract_document_model():
    doc = extract_document(parse_turtle(SAMPLE))
    assert len(doc.triples_maps) == 1
    tm = doc.triples_maps[0]
    assert tm.logical_source.source == "s.csv"
    assert tm.subject_map.tm_info.term_map_type == "Template"
    assert tm.subject_map.classes == ["http://xmlns.com/foaf/0.1/Person"]
    om = tm.po_maps[0].object_maps[0]
    assert om.language == "en"
    assert om.tm_info.term_type == "Literal"


def test_invalid_two_subject_maps():
    bad = SAMPLE.replace(
        'rr:subjectMap [ rr:template "http://ex.com/{ID}"; rr:class foaf:Person ];',
        'rr:subjectMap [ rr:template "http://ex.com/{ID}" ];\n'
        '  rr:subjectMap [ rr:template "http://ex.com/x/{ID}" ];')
    with pytest.raises(RmlValidationError):
        extract_document(parse_turtle(bad))


def test_invalid_language_tag():
    bad = SAMPLE.replace('rr:language "en"', 'rr:language "english"')
    with pytest.raises(RmlValidationError):
        extract_document(parse_turtle(bad))


def test_invalid_literal_graph_map():
    bad = SAMPLE.replace(
        'rr:template "http://ex.com/{ID}"; rr:class foaf:Person',
        'rr:template "http://ex.com/{ID}"; '
        'rr:graphMap [ rml:reference "G"; rr:termType rr:Literal ]')
    with pytest.raises(RmlValidationError):
        extract_document(parse_turtle(bad))


def test_join_condition_extraction():
    ttl = SAMPLE + """
<TM2> a rr:TriplesMap;
  rml:logicalSource [ rml:source "t.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.com/t/{K}" ];
  rr:predicateObjectMap [
    rr:predicate foaf:knows;
    rr:objectMap [ rr:parentTriplesMap <TM1>;
                   rr:joinCondition [ rr:child "Ref"; rr:parent "ID" ] ]
  ] .
"""
    doc = extract_document(parse_turtle(ttl))
    tm2 = [t for t in doc.triples_maps if t.identifier.endswith("TM2")][0]
    om = tm2.po_maps[0].object_maps[0]
    assert om.parent_tm.endswith("TM1")
    assert om.join_condition.child_attributes == ["Ref"]
    assert om.join_condition.parent_attributes == ["ID"]
