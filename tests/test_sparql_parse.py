"""Parse-only tests of the SPARQL lexer and parser (no Spark): text
inside a literal or an IRI is content, never syntax, so a query
parses to the same tree as its twin with that content renamed away."""

import dataclasses

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kgloom.sparql import AggExpr, SparqlError, _Parser, parse_sparql

#: stands in for the content under test; occurs in no other tree leaf
TWIN = "zq0"
XSD = "http://www.w3.org/2001/XMLSchema#"
O, S = ("var", "o"), ("var", "s")


def _num(lexical: str, value: float, dtype: str = "integer"):
    """The expression node of a number token."""
    return ("num", f'"{lexical}"^^<{XSD}{dtype}>', value)


def _replaced(tree, old: str, new: str):
    """``tree`` with ``old`` replaced by ``new`` inside every string."""
    if isinstance(tree, str):
        return tree.replace(old, new)
    if isinstance(tree, (list, tuple)):
        return type(tree)(_replaced(x, old, new) for x in tree)
    if dataclasses.is_dataclass(tree):
        return dataclasses.replace(tree, **{
            f.name: _replaced(getattr(tree, f.name), old, new)
            for f in dataclasses.fields(tree)})
    return tree


def _parses_like_twin(parse, query: str, **holes: str):
    """Fill each ``@NAME@`` hole of ``query`` with its content and with
    the twin stand-in; both must parse to the same tree."""
    text, twin = query, query
    for i, (name, content) in enumerate(holes.items()):
        text = text.replace(f"@{name}@", content)
        twin = twin.replace(f"@{name}@", f"{TWIN}{i}")
    tree, twin_tree = parse(text), parse(twin)
    for i, content in enumerate(holes.values()):
        twin_tree = _replaced(twin_tree, f"{TWIN}{i}", content)
    assert tree == twin_tree
    return tree


def _form(method):
    """The parser of one query form, as a text → tree function."""
    return lambda text: _Parser(text).parse(method)


_construct = _form(_Parser.construct)


def test_prefix_inside_literal_is_content():
    q = _parses_like_twin(
        parse_sparql, 'PREFIX ex: <http://ex/> '
        'SELECT ?s WHERE { ?s ex:p "@L@" }', L="PREFIX a: <http://z/> x")
    assert q.patterns[0][2] == '"PREFIX a: <http://z/> x"'


def test_from_inside_literal_adds_no_dataset_clause():
    q = _parses_like_twin(parse_sparql, 'SELECT ?s WHERE { ?s <p> "@L@" }',
                          L="FROM <http://g/> y")
    assert q.patterns[0][2] == '"FROM <http://g/> y"'
    assert q.from_graphs == [] and q.from_named == []


def test_construct_template_literal_is_content():
    template, _, _ = _parses_like_twin(
        _construct, 'PREFIX ex: <http://ex/> CONSTRUCT { ?s ex:p "@L@" } '
        'WHERE { ?s ex:q "@M@" }',
        L="PREFIX a: <http://z/> x", M="FROM <http://g/> y")
    assert template[0][2] == '"PREFIX a: <http://z/> x"'


def test_service_inside_literal_is_content():
    _parses_like_twin(parse_sparql, 'SELECT ?s WHERE { ?s <p> "@L@" }',
                      L="SERVICE desk")
    with pytest.raises(SparqlError, match="SERVICE"):
        parse_sparql("SELECT ?s WHERE { SERVICE <http://x> { ?s ?p ?o } }")


@pytest.mark.parametrize("content", ["LIMIT 3", "HAVING (?s = 1)"])
def test_order_by_literal_is_content(content):
    q = _parses_like_twin(
        parse_sparql, 'SELECT ?o WHERE { ?s <p> ?o } '
        'ORDER BY (CONCAT(?o, "@L@"))', L=content)
    assert q.limit is None and q.having == []
    assert q.order_by == [(("call", "concat", [
        ("var", "o"), ("const", f'"{content}"')]), False)]


def test_parenthesis_inside_iri_is_content():
    q = _parses_like_twin(
        parse_sparql,
        "SELECT ?s WHERE { ?s <p> ?o FILTER(?o = <http://e/@I@>) }", I="a(b")
    assert q.filters == [("cmp", "=", O, ("const", "<http://e/a(b>"))]


def test_where_brace_inside_projection_literal_is_content():
    q = _parses_like_twin(
        parse_sparql, 'SELECT (CONCAT(?o, "@L@") AS ?x) WHERE { ?s <p> ?o }',
        L=" WHERE {")
    assert q.select_exprs == [("x", ("call", "concat", [
        ("var", "o"), ("const", '" WHERE {"')]))]


def test_filter_values_are_resolved_terms():
    """FILTER, HAVING and IF comparisons carry resolved terms/numbers."""
    q = parse_sparql("""PREFIX ex: <http://ex/>
        SELECT ?s (COUNT(?o) AS ?n) WHERE {
          ?s ex:p ?o . FILTER(?o != ex:z && ?o > -2.5 && ?o = ?s)
          BIND(IF(?o = "x"@en, 1, 2) AS ?b)
        } GROUP BY ?s HAVING (?s != ex:y) (COUNT(?o) >= 2)""")
    assert q.filters[0] == ("and", [
        ("cmp", "!=", O, ("const", "<http://ex/z>")),
        ("cmp", ">", O, _num("-2.5", -2.5, "decimal")),
        ("cmp", "=", O, S)])
    assert q.group.binds[0][0][2][0] == ("cmp", "=", O, ("const", '"x"@en'))
    assert q.having == [
        ("cmp", "!=", S, ("const", "<http://ex/y>")),
        ("cmp", ">=", ("agg", AggExpr("count", O, False)), _num("2", 2.0))]


def test_prefixed_name_stops_before_the_triple_dot():
    q = parse_sparql("PREFIX ex: <http://ex/> "
                     "SELECT ?s WHERE { ?s ex:p ex:o. ?s ex:q ex:a.b }")
    assert [t[2] for t in q.patterns] == ["<http://ex/o>", "<http://ex/a.b>"]


def test_literal_escapes_decode_once():
    """``\\\\n`` is a backslash and an ``n``; ``\\n`` is a newline;
    ``\\u0041`` is ``A``."""
    q = parse_sparql(r'SELECT ?s WHERE { ?s <p> "a\\nb", "c\nd", "\u0041" }')
    assert [t[2] for t in q.patterns] == [r'"a\\nb"', r'"c\nd"', '"A"']


def test_every_having_condition_is_kept():
    q = parse_sparql("SELECT ?s WHERE { ?s <p> ?o } GROUP BY ?s "
                     "HAVING (?s > 1) (?s < 5) (COUNT(?o) > 1 && ?s != 3)")
    count = ("agg", AggExpr("count", O, False))
    assert q.having == [
        ("cmp", ">", S, _num("1", 1.0)), ("cmp", "<", S, _num("5", 5.0)),
        ("and", [("cmp", ">", count, _num("1", 1.0)),
                 ("cmp", "!=", S, _num("3", 3.0))])]


# --- property: keywords and punctuation inside terms never parse -----------

_WORDS = ["PREFIX", "SELECT", "WHERE", "FROM", "NAMED", "FILTER",
          "OPTIONAL", "UNION", "GRAPH", "BIND", "VALUES", "MINUS", "SERVICE",
          "HAVING", "ORDER", "BY", "GROUP", "LIMIT", "OFFSET", "ASK",
          "CONSTRUCT", "DESCRIBE", "INSERT", "DELETE", "DATA", "WITH", "AS",
          "SEPARATOR", "a", "?x", "ex:p", "3"]
_IRI_PUNCT = list("();#,&")
#: literal content: keywords, spaces and every structural character
literal_content = st.lists(
    st.sampled_from(_WORDS + _IRI_PUNCT + list("{}|<> ")),
    max_size=10).map("".join)
#: IRI content: the same minus what SPARQL's IRIREF excludes
iri_content = st.lists(st.sampled_from(_WORDS + _IRI_PUNCT),
                       max_size=8).map("".join)

_FORMS = [
    (parse_sparql, 'PREFIX ex: <http://ex/> '
     'SELECT ?s (CONCAT(?o, "@L@") AS ?c) WHERE { '
     '?s ex:p "@L@" ; <http://e/@I@> ?o . '
     'FILTER(?o != "@L@" && ?s != <http://e/@I@>) '
     'OPTIONAL { ?s ?q "@L@" } BIND(STRLEN("@L@") AS ?n) '
     'VALUES ?v { "@L@" <http://e/@I@> } } '
     'ORDER BY (CONCAT(?o, "@L@")) DESC(?s) LIMIT 5'),
    (parse_sparql, 'SELECT ?s (GROUP_CONCAT(?o; SEPARATOR="@L@") AS ?g) '
     'WHERE { GRAPH <http://e/@I@> { ?s ?p ?o } '
     'FILTER(REGEX(?o, "@L@") || CONTAINS(STR(?o), "@L@")) } '
     'GROUP BY ?s HAVING (?s != <http://e/@I@>)'),
    (parse_sparql, 'SELECT ?s (COUNT(?o) * 2 AS ?n) WHERE { ?s ?p ?o '
     'FILTER(STRLEN(CONCAT(?o, "@L@")) > 3 && 3 < ?o + 1 '
     '&& UCASE(?o) NOT IN ("@L@", <http://e/@I@>)) } GROUP BY ?s '
     'HAVING (COUNT(?o) > 1 && MIN(?o) != "@L@") '
     'ORDER BY DESC(MAX(CONCAT(?o, "@L@")))'),
    (_form(_Parser.ask), 'ASK { ?s <http://e/@I@> "@L@" '
     'MINUS { ?s ?p "@L@" } FILTER(?s IN (<http://e/@I@>, "@L@")) }'),
    (_construct, 'CONSTRUCT { ?s <http://e/@I@> "@L@" } '
     'WHERE { ?s ?p "@L@" } LIMIT 2'),
    (_form(_Parser.describe),
     'DESCRIBE <http://e/@I@> ?s WHERE { ?s ?p "@L@" }'),
    (_form(_Parser.update), 'PREFIX ex: <http://ex/> '
     'INSERT DATA { ex:a ex:p "@L@" } ; '
     'DELETE { ?s ?p "@L@" } INSERT { GRAPH <http://e/@I@> '
     '{ ?s <http://e/@I@> "@L@" } } WHERE { ?s ?p "@L@" }'),
]


@settings(max_examples=150, deadline=None)
@given(form=st.sampled_from(_FORMS), lit=literal_content, iri=iri_content)
def test_term_content_parses_like_renamed_twin(form, lit, iri):
    parse, query = form
    _parses_like_twin(parse, query, L=lit, I=iri)
