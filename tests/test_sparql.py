"""SPARQL SELECT subset over quad DataFrames (kgloom/sparql.py) —
makes the reference's enum-only SPARQL formulation executable."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kgloom.sparql import SparqlError, parse_sparql, sparql_select

EX = "http://ex.com/"
FIXTURES = Path(__file__).parent / "fixtures"


@pytest.fixture(scope="module")
def quads(spark):
    rows = [
        (f"<{EX}alice>", f"<{EX}knows>", f"<{EX}bob>", None),
        (f"<{EX}alice>", f"<{EX}age>", '"30"', None),
        (f"<{EX}alice>",
         "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
         f"<{EX}Person>", None),
        (f"<{EX}bob>", f"<{EX}age>", '"25"', None),
        (f"<{EX}bob>",
         "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
         f"<{EX}Person>", None),
        (f"<{EX}bob>", f"<{EX}name>", '"Bob"@en', None),
        (f"<{EX}carol>", f"<{EX}age>", '"41"', None),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")


def test_basic_bgp_join(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?who ?age WHERE {{
          ?who a ex:Person ;
               ex:age ?age .
        }}
    """).collect()
    got = {(r.who, r.age) for r in rows}
    assert got == {(EX + "alice", "30"), (EX + "bob", "25")}  # carol untyped


def test_constant_object_and_lang_literal(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s WHERE {{ ?s ex:name "Bob"@en . }}
    """).collect()
    assert [r.s for r in rows] == [EX + "bob"]


def test_numeric_filter_order_limit(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?age WHERE {{
          ?s ex:age ?age .
          FILTER(?age > 26)
        }} ORDER BY DESC(?age) LIMIT 1
    """).collect()
    assert [(r.s, r.age) for r in rows] == [(EX + "carol", "41")]


def test_distinct_and_object_list(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT DISTINCT ?p WHERE {{ ex:alice ?p ?o . }}
    """).collect()
    assert len(rows) == 3  # knows, age, rdf:type


def test_raw_terms_mode(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?o WHERE {{ ex:bob ex:name ?o . }}
    """, raw_terms=True).collect()
    assert rows[0].o == '"Bob"@en'


def test_unsupported_features_raise():
    # ASK queries go through sparql_ask, not parse_sparql
    with pytest.raises(SparqlError):
        parse_sparql("ASK { ?s ?p ?o }")
    with pytest.raises(SparqlError):
        parse_sparql("SELECT ?s WHERE { SERVICE <http://x> { ?s ?p ?o } }")
    with pytest.raises(SparqlError):
        parse_sparql("DESCRIBE <http://x>")


def test_truncated_bgp_raises_sparql_error():
    """A cut-off pattern must raise SparqlError, never IndexError."""
    with pytest.raises(SparqlError):
        parse_sparql("SELECT ?s WHERE { ?s ?p }")
    with pytest.raises(SparqlError):
        parse_sparql("SELECT ?s WHERE { ?s }")


def test_optional_left_join(quads):
    """OPTIONAL binds when present, nulls when absent (alice/bob are
    typed Persons; only bob has a name)."""
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?who ?name WHERE {{
          ?who a ex:Person .
          OPTIONAL {{ ?who ex:name ?name }}
        }}
    """).collect()
    got = {(r.who, r.name) for r in rows}
    assert got == {(EX + "alice", None), (EX + "bob", "Bob")}


def test_union_branches(quads):
    """UNION concatenates branch solutions; missing vars null-fill."""
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?v WHERE {{
          {{ ?s ex:knows ?v }} UNION {{ ?s ex:name ?v }}
        }}
    """).collect()
    got = {(r.s, r.v) for r in rows}
    assert got == {(EX + "alice", EX + "bob"), (EX + "bob", "Bob")}


def test_union_joined_with_outer_pattern(quads):
    """A UNION group natural-joins the surrounding BGP on shared vars."""
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?age WHERE {{
          ?s ex:age ?age .
          {{ ?s ex:knows ?o }} UNION {{ ?s ex:name ?o }}
        }}
    """).collect()
    got = {(r.s, r.age) for r in rows}
    assert got == {(EX + "alice", "30"), (EX + "bob", "25")}


def test_order_by_numeric_not_lexical(spark):
    """ORDER BY sorts numeric bindings numerically: '9' < '10'
    (lexically '10' < '2' < '9' — the bug class this pins)."""
    rows = [(f"<{EX}d{i}>", f"<{EX}age>", f'"{v}"', None)
            for i, v in enumerate([10, 2, 9])]
    q = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")
    got = [r.v for r in sparql_select(q, f"""
        PREFIX ex: <{EX}>
        SELECT ?v WHERE {{ ?s ex:age ?v }} ORDER BY ?v
    """).collect()]
    assert got == ["2", "9", "10"]


def test_ground_pattern_is_existence_probe(spark):
    """A variable-free pattern gates results without multiplying
    cardinality, even when the ground quad appears multiple times
    (e.g. in several graphs)."""
    rows = [(f"<{EX}flag>", f"<{EX}is>", '"on"', f"<{EX}g1>"),
            (f"<{EX}flag>", f"<{EX}is>", '"on"', f"<{EX}g2>"),
            (f"<{EX}a>", f"<{EX}p>", '"x"', None)]
    q = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")
    got = sparql_select(q, f"""
        PREFIX ex: <{EX}>
        SELECT ?s WHERE {{ ex:flag ex:is "on" . ?s ex:p ?o }}
    """).collect()
    assert [r.s for r in got] == [EX + "a"]  # once, not twice
    # and a non-matching ground pattern yields zero rows
    assert sparql_select(q, f"""
        PREFIX ex: <{EX}>
        SELECT ?s WHERE {{ ex:flag ex:is "off" . ?s ex:p ?o }}
    """).count() == 0


def test_sparql_source_through_binder(spark, quads, tmp_path):
    """ReferenceFormulation.SPARQL end-to-end through the plan binder:
    a quads DataFrame source + SELECT query feeds a mapping branch."""
    from kgloom.algebra import (DataFormat, ExtendOp, Function, IOType,
                                ProjectOp, ReferenceFormulation,
                                SerializerOp, SourceIterator, SourceOp,
                                TargetOp)
    from kgloom.exec.binder import SparkBinder, write_sinks
    from kgloom.plan import Plan

    g = Plan()
    p = g.source(SourceOp.make(
        {"source": "kg"}, IOType.DATAFRAME,
        SourceIterator(
            reference=f"PREFIX ex: <{EX}> "
                      "SELECT ?who ?age WHERE { ?who ex:age ?age . }",
            reference_formulation=ReferenceFormulation.SPARQL)))
    p = p.apply(ProjectOp(projection_attributes=frozenset({"who", "age"})),
                "Projection")
    p = p.apply(ExtendOp.make({
        "sm": Function.iri(Function.reference("who")),
        "pm": Function.iri(Function.constant(EX + "hasAge")),
        "om": Function.literal(Function.reference("age")),
    }), "Extend")
    p = p.serialize(SerializerOp(template="?sm ?pm ?om ."))
    p = p.sink(TargetOp.make({}, IOType.DATAFRAME, DataFormat.NQUADS))
    binder = SparkBinder(spark, dataframes={"kg": quads})
    out = list(write_sinks(binder.execute(p.graph)).values())[0]
    got = {(r.subj, r.obj) for r in out.collect()}
    assert (f"<{EX}carol>", '"41"') in got
    assert len(got) == 3


def test_two_engine_chain_kg_feeds_mapping(spark, tmp_path):
    """The full two-engine chain: mapping #1 constructs a KG and
    materializes it as parquet quads; mapping #2 uses a SPARQL SELECT
    over that parquet as its logical source (with OPTIONAL, so absent
    facts flow through as nulls and suppress their triple) and emits a
    second-generation KG — no engine hop, everything stays one Spark
    session."""
    from kgloom.algebra import (DataFormat, ExtendOp, Function, IOType,
                                ProjectOp, ReferenceFormulation,
                                SerializerOp, SourceIterator, SourceOp,
                                TargetOp)
    from kgloom.exec.binder import SparkBinder, write_sinks
    from kgloom.plan import Plan

    # --- stage 1: construct a KG from a relational source ------------
    people = spark.createDataFrame(
        [("1", "Ada", "42"), ("2", "Grace", None)],
        "pid string, name string, age string")
    g1 = Plan()
    p1 = g1.source(SourceOp.make(
        {"source": "people"}, IOType.DATAFRAME,
        SourceIterator(reference_formulation=ReferenceFormulation.TABLE)))
    p1 = p1.apply(ExtendOp.make({
        "sm": Function.iri(Function.uri_encode(
            Function.template(f"{EX}person/{{pid}}"))),
        "p_name": Function.iri(Function.constant(EX + "name")),
        "o_name": Function.literal(Function.reference("name")),
        "p_age": Function.iri(Function.constant(EX + "age")),
        "o_age": Function.literal(Function.reference("age")),
    }), "Extend")
    p1 = p1.serialize(SerializerOp(
        template="?sm ?p_name ?o_name .\n?sm ?p_age ?o_age ."))
    p1 = p1.sink(TargetOp.make({"path": f"{tmp_path}/kg1"},
                               IOType.TABLE, DataFormat.NQUADS))
    write_sinks(SparkBinder(spark, dataframes={"people": people})
                .execute(p1.graph))

    # --- stage 2: SPARQL over the materialized KG feeds mapping #2 ---
    g2 = Plan()
    p2 = g2.source(SourceOp.make(
        {"source": f"{tmp_path}/kg1"}, IOType.FILE,
        SourceIterator(
            reference=f"""PREFIX ex: <{EX}>
                SELECT ?p ?name ?age WHERE {{
                  ?p ex:name ?name .
                  OPTIONAL {{ ?p ex:age ?age }}
                }}""",
            reference_formulation=ReferenceFormulation.SPARQL)))
    p2 = p2.apply(ProjectOp(projection_attributes=frozenset(
        {"p", "name", "age"})), "Projection")
    p2 = p2.apply(ExtendOp.make({
        "sm": Function.iri(Function.reference("p")),
        "pm": Function.iri(Function.constant(EX + "profile")),
        "om": Function.literal(Function.concatenate(
            Function.reference("name"), "/", Function.reference("age"))),
    }), "Extend")
    p2 = p2.serialize(SerializerOp(template="?sm ?pm ?om ."))
    p2 = p2.sink(TargetOp.make({}, IOType.DATAFRAME, DataFormat.NQUADS))
    out = list(write_sinks(SparkBinder(spark).execute(p2.graph)).values())[0]
    got = {(r.subj, r.obj) for r in out.collect()}
    # Ada has an age -> profile triple; Grace's null age null-propagates
    # through the concat and SUPPRESSES her triple (RDF null semantics)
    assert got == {(f"<{EX}person/1>", '"Ada/42"')}


# ---------------------------------------------------------------------------
# Aggregates: GROUP BY / HAVING / COUNT / SUM / AVG / MIN / MAX
# ---------------------------------------------------------------------------

def test_count_group_by(quads):
    """COUNT(?o) per subject over all of alice's triples."""
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s (COUNT(?o) AS ?n) WHERE {{ ?s ?p ?o . }}
        GROUP BY ?s ORDER BY ?s
    """).collect()
    got = {(r.s, r.n) for r in rows}
    assert got == {(EX + "alice", 3), (EX + "bob", 3), (EX + "carol", 1)}


def test_implicit_group_count_star(quads):
    rows = sparql_select(quads, """
        SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o . }
    """).collect()
    assert rows[0].n == 7


def test_count_skips_unbound_optional(quads):
    """COUNT(?name) counts only solutions where the OPTIONAL bound."""
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT (COUNT(?who) AS ?people) (COUNT(?name) AS ?named) WHERE {{
          ?who a ex:Person .
          OPTIONAL {{ ?who ex:name ?name }}
        }}
    """).collect()
    assert (rows[0].people, rows[0].named) == (2, 1)


def test_sum_avg_numeric(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT (SUM(?age) AS ?total) (AVG(?age) AS ?mean) WHERE {{
          ?s ex:age ?age .
        }}
    """).collect()
    assert rows[0].total == 96.0 and rows[0].mean == 32.0


def test_min_max_numeric_not_lexical(quads):
    """MIN/MAX order numerically: '25' < '30' < '41' (lexical max would
    also be 41 here, so pin with a 3-digit age where lexical diverges)."""
    extra = quads.sparkSession.createDataFrame(
        [(f"<{EX}dan>", f"<{EX}age>", '"100"', None)],
        "subj string, pred string, obj string, graph string")
    rows = sparql_select(quads.unionByName(extra), f"""
        PREFIX ex: <{EX}>
        SELECT (MIN(?age) AS ?lo) (MAX(?age) AS ?hi) WHERE {{
          ?s ex:age ?age .
        }}
    """).collect()
    assert (rows[0].lo, rows[0].hi) == ("25", "100")  # lexical max = "41"


def test_min_max_lexical_for_strings(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT (MIN(?p) AS ?lo) WHERE {{ ex:alice ?p ?o . }}
    """).collect()
    assert rows[0].lo == EX + "age"


def test_count_distinct(quads):
    rows = sparql_select(quads, """
        SELECT (COUNT(DISTINCT ?p) AS ?preds) WHERE { ?s ?p ?o . }
    """).collect()
    assert rows[0].preds == 4  # knows, age, type, name


def test_having_filters_groups(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s (COUNT(?o) AS ?n) WHERE {{ ?s ?p ?o . }}
        GROUP BY ?s HAVING(?n > 1) ORDER BY ?s
    """).collect()
    assert [(r.s, r.n) for r in rows] == \
        [(EX + "alice", 3), (EX + "bob", 3)]


def test_order_by_aggregate_alias(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s (COUNT(?o) AS ?n) WHERE {{ ?s ?p ?o . }}
        GROUP BY ?s ORDER BY DESC(?n) ?s LIMIT 1
    """).collect()
    assert rows[0].s == EX + "alice"


def test_aggregate_projection_validation():
    with pytest.raises(SparqlError):
        # ?p is neither grouped nor aggregated
        parse_sparql("SELECT ?p (COUNT(?o) AS ?n) WHERE { ?s ?p ?o . } "
                     "GROUP BY ?s")
    with pytest.raises(SparqlError):
        parse_sparql("SELECT (SUM(*) AS ?n) WHERE { ?s ?p ?o . }")
    with pytest.raises(SparqlError):
        parse_sparql("SELECT * WHERE { ?s ?p ?o . } GROUP BY ?s")
    with pytest.raises(SparqlError):
        # HAVING without any aggregation
        parse_sparql("SELECT ?s WHERE { ?s ?p ?o . } HAVING(?s > 1)")


# ---------------------------------------------------------------------------
# BIND / VALUES / CONSTRUCT
# ---------------------------------------------------------------------------

def test_bind_concat(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?label WHERE {{
          ?s ex:age ?age .
          BIND(CONCAT("age of ", STR(?s), " is ", ?age) AS ?label)
        }} ORDER BY ?s
    """).collect()
    assert rows[0].label == f"age of {EX}alice is 30"
    assert len(rows) == 3


def test_bind_arithmetic_precedence(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?next WHERE {{
          ?s ex:age ?age .
          BIND(?age + 2 * 5 AS ?next)
        }} ORDER BY ?s
    """).collect()
    # + splits before *: 30 + (2*5) = 40, not (30+2)*5
    assert rows[0].next == "40.0"


def test_bind_iri_strlen_replace(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?n ?fixed ?who WHERE {{
          ?s ex:name ?name .
          BIND(STRLEN(?name) AS ?n)
          BIND(REPLACE(?name, "o", "0") AS ?fixed)
          BIND(IRI(CONCAT("{EX}person/", LCASE(?name))) AS ?who)
        }}
    """, raw_terms=True).collect()
    assert (rows[0].n, rows[0].fixed) == ('"3.0"', '"B0b"')
    assert rows[0].who == f"<{EX}person/bob>"


def test_bind_filter_sees_bound_var(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s WHERE {{
          ?s ex:age ?age .
          BIND(?age * 2 AS ?dbl)
          FILTER(?dbl > 70)
        }}
    """).collect()
    assert {r.s for r in rows} == {EX + "carol"}  # 41*2 = 82


def test_bind_duplicate_and_unbound_errors(quads):
    with pytest.raises(SparqlError):
        sparql_select(quads, f"""PREFIX ex: <{EX}>
            SELECT ?s WHERE {{ ?s ex:age ?age .
                               BIND(?age AS ?age) }}""")
    with pytest.raises(SparqlError):
        sparql_select(quads, f"""PREFIX ex: <{EX}>
            SELECT ?s WHERE {{ ?s ex:age ?age .
                               BIND(?nope + 1 AS ?x) }}""")


def test_bind_substr_strbefore_strafter(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?local ?host ?path WHERE {{
          ?s ex:age ?age .
          BIND(SUBSTR(STR(?s), 15) AS ?local)
          BIND(STRBEFORE(STRAFTER(STR(?s), "http://"), "/") AS ?host)
          BIND(STRAFTER(STR(?s), "ex.com/") AS ?path)
        }} ORDER BY ?s
    """).collect()
    # SUBSTR is 1-based: char 15 of "http://ex.com/alice" starts "alice"
    assert (rows[0].local, rows[0].host, rows[0].path) == \
        ("alice", "ex.com", "alice")


def test_bind_strbefore_no_match_is_empty(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?b ?a WHERE {{
          ?s ex:name ?name .
          BIND(STRBEFORE(?name, "zzz") AS ?b)
          BIND(STRAFTER(?name, "zzz") AS ?a)
        }}
    """).collect()
    # fn:substring-before/-after: no occurrence -> "" (not the input)
    assert (rows[0].b, rows[0].a) == ("", "")


def test_bind_numeric_functions(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?r ?c ?f ?ab WHERE {{
          ?s ex:age ?age .
          BIND(ROUND(?age / 7) AS ?r)
          BIND(CEIL(?age / 7) AS ?c)
          BIND(FLOOR(?age / 7) AS ?f)
          BIND(ABS(10 - ?age) AS ?ab)
        }} ORDER BY ?s
    """).collect()
    # alice age 30: 30/7 = 4.2857 -> round 4, ceil 5, floor 4; |10-30|=20
    assert [rows[0].r, rows[0].c, rows[0].f, rows[0].ab] == \
        ["4.0", "5.0", "4.0", "20.0"]


def test_bind_round_ties_toward_positive_infinity(quads):
    # XPath fn:round: ROUND(-2.5) = -2 (NOT Spark HALF_UP's -3)
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?r ?r2 WHERE {{
          ?s ex:age ?age .
          BIND(ROUND(0 - 2.5) AS ?r)
          BIND(ROUND(2.5) AS ?r2)
        }} LIMIT 1
    """).collect()
    assert (rows[0].r, rows[0].r2) == ("-2.0", "3.0")


def test_bind_hash_functions(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?m ?s1 ?s256 WHERE {{
          ?s ex:name ?name .
          BIND(MD5("abc") AS ?m)
          BIND(SHA1("abc") AS ?s1)
          BIND(SHA256("abc") AS ?s256)
        }}
    """).collect()
    assert rows[0].m == "900150983cd24fb0d6963f7d28e17f72"
    assert rows[0].s1 == "a9993e364706816aba3e25717850c26c9cd0d89d"
    assert rows[0].s256 == ("ba7816bf8f01cfea414140de5dae2223"
                            "b00361a396177a9cb410ff61f20015ad")


def test_bind_coalesce_and_if(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?label ?bucket WHERE {{
          ?s ex:age ?age .
          OPTIONAL {{ ?s ex:name ?name }}
          BIND(COALESCE(?name, "anon") AS ?label)
          BIND(IF(?age >= 30, "old", "young") AS ?bucket)
        }} ORDER BY ?s
    """).collect()
    got = {(r.s, r.label, r.bucket) for r in rows}
    assert got == {(EX + "alice", "anon", "old"),
                   (EX + "bob", "Bob", "young"),
                   (EX + "carol", "anon", "old")}


def test_bind_if_condition_with_strfn(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?k WHERE {{
          ?s ex:age ?age .
          BIND(IF(CONTAINS(STR(?s), "ali") && ?age > 10, "y", "n") AS ?k)
        }} ORDER BY ?s
    """).collect()
    assert [r.k for r in rows] == ["y", "n", "n"]


def test_bind_lang_datatype(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?lg ?dt ?dtn WHERE {{
          ?s ex:name ?name .
          ?s ex:age ?age .
          BIND(LANG(?name) AS ?lg)
          BIND(DATATYPE(?name) AS ?dt)
          BIND(DATATYPE(?age) AS ?dtn)
        }}
    """, raw_terms=True).collect()
    # "Bob"@en: lang "en", datatype rdf:langString; plain "25": xsd:string
    assert rows[0].lg == '"en"'
    assert rows[0].dt == \
        "<http://www.w3.org/1999/02/22-rdf-syntax-ns#langString>"
    assert rows[0].dtn == "<http://www.w3.org/2001/XMLSchema#string>"


def test_bind_lang_of_iri_is_unbound(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?lg WHERE {{
          ?s ex:age ?age .
          BIND(LANG(?s) AS ?lg)
        }}
    """).collect()
    assert all(r.lg is None for r in rows)  # type error -> unbound


def test_bind_strlang_strdt_encode(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?sl ?sd ?enc WHERE {{
          ?s ex:name ?name .
          BIND(STRLANG(STR(?name), "fr") AS ?sl)
          BIND(STRDT(?age2, <http://www.w3.org/2001/XMLSchema#integer>)
               AS ?sd)
          BIND(ENCODE_FOR_URI("a b/c") AS ?enc)
          {{ ?s ex:age ?age2 }}
        }}
    """, raw_terms=True).collect()
    assert rows[0].sl == '"Bob"@fr'
    assert rows[0].sd == '"25"^^<http://www.w3.org/2001/XMLSchema#integer>'
    assert rows[0].enc == '"a%20b%2Fc"'


def test_bind_arity_errors(quads):
    for bad in ["SUBSTR(?age)", "STRBEFORE(?age)", "IF(?age > 1, 2)",
                "MD5(?age, ?age)", "COALESCE()"]:
        with pytest.raises(SparqlError):
            sparql_select(quads, f"""PREFIX ex: <{EX}>
                SELECT ?x WHERE {{ ?s ex:age ?age .
                                   BIND({bad} AS ?x) }}""")


def test_filter_in_iri_list(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?age WHERE {{
          ?s ex:age ?age .
          FILTER(?s IN (ex:alice, <{EX}carol>))
        }}
    """).collect()
    assert {r.s for r in rows} == {EX + "alice", EX + "carol"}


def test_filter_not_in_numeric(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s WHERE {{
          ?s ex:age ?age .
          FILTER(?age NOT IN (25, 41))
        }}
    """).collect()
    assert {r.s for r in rows} == {EX + "alice"}  # only 30 survives


def test_filter_in_combines_with_boolean_ops(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s WHERE {{
          ?s ex:age ?age .
          FILTER(?age IN (25, 30) && !(?s IN (ex:bob)))
        }}
    """).collect()
    assert {r.s for r in rows} == {EX + "alice"}


def test_select_expression_plain(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s (CONCAT("age=", ?age) AS ?label) (?age * 2 AS ?dbl)
        WHERE {{ ?s ex:age ?age . }} ORDER BY ?s
    """).collect()
    assert rows[0].label == "age=30"
    assert rows[0].dbl == "60.0"


def test_select_expression_over_aggregate_alias(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT (COUNT(?s) AS ?n) (?n * 10 AS ?scaled)
        WHERE {{ ?s ex:age ?age . }}
    """).collect()
    assert (rows[0].n, rows[0].scaled) == (3, "30.0")


def test_select_expression_orderable(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s (0 - ?age AS ?neg)
        WHERE {{ ?s ex:age ?age . }} ORDER BY ?neg
    """).collect()
    # ordered by negated age: carol (-41), alice (-30), bob (-25)
    assert [r.s for r in rows] == [EX + "carol", EX + "alice", EX + "bob"]


def test_select_expression_errors(quads):
    with pytest.raises(SparqlError):  # rebinding an in-scope variable
        sparql_select(quads, f"""PREFIX ex: <{EX}>
            SELECT (?age AS ?age) WHERE {{ ?s ex:age ?age }}""")
    with pytest.raises(SparqlError):  # unbound reference
        sparql_select(quads, f"""PREFIX ex: <{EX}>
            SELECT (?nope AS ?x) WHERE {{ ?s ex:age ?age }}""")
    with pytest.raises(SparqlError):  # non-grouped var under GROUP BY
        sparql_select(quads, f"""PREFIX ex: <{EX}>
            SELECT ?s (STR(?age) AS ?x) WHERE {{ ?s ex:age ?age }}
            GROUP BY ?s""")


def test_aggregate_over_expression(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT (SUM(?age * 2) AS ?total) (AVG(STRLEN(STR(?s))) AS ?len)
               (MAX(CONCAT("v", ?age)) AS ?m)
        WHERE {{ ?s ex:age ?age . }}
    """).collect()
    # ages 30+25+41, doubled; IRI lengths 19+17+19; lexical max "v41"
    assert rows[0].total == 192.0
    assert abs(rows[0].len - 55 / 3) < 1e-9
    assert rows[0].m == "v41"


def test_aggregate_expression_distinct_and_grouped(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s (COUNT(DISTINCT SUBSTR(?age, 1, 1)) AS ?lead)
        WHERE {{ ?s ex:age ?age . }} GROUP BY ?s ORDER BY ?s
    """).collect()
    assert [(r.s, r.lead) for r in rows] == [
        (EX + "alice", 1), (EX + "bob", 1), (EX + "carol", 1)]


def test_aggregate_expression_unbound_errors(quads):
    with pytest.raises(SparqlError):
        sparql_select(quads, f"""PREFIX ex: <{EX}>
            SELECT (SUM(?nope + 1) AS ?x)
            WHERE {{ ?s ex:age ?age }}""")
    with pytest.raises(SparqlError):  # an aggregate outside a projection
        sparql_select(quads, f"""PREFIX ex: <{EX}>
            SELECT ?s WHERE {{ ?s ex:age ?age
                               FILTER(SUM(?age) > 1) }}""")
    with pytest.raises(SparqlError):  # an aggregate inside an aggregate
        sparql_select(quads, f"""PREFIX ex: <{EX}>
            SELECT (SUM(COUNT(?age)) AS ?x)
            WHERE {{ ?s ex:age ?age }}""")


def test_values_single_var(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?age WHERE {{
          ?s ex:age ?age .
          VALUES ?age {{ "30" "41" }}
        }} ORDER BY ?age
    """).collect()
    assert [(r.s, r.age) for r in rows] == \
        [(EX + "alice", "30"), (EX + "carol", "41")]


def test_values_multi_var(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?age ?tag WHERE {{
          ?s ex:age ?age .
          VALUES (?age ?tag) {{ ("30" "thirty") ("25" "quarter") }}
        }} ORDER BY ?age
    """).collect()
    assert [(r.s, r.tag) for r in rows] == \
        [(EX + "bob", "quarter"), (EX + "alice", "thirty")]


def test_values_undef_single_var_matches_all(quads):
    """A single-var VALUES with an UNDEF row constrains nothing for
    that row: every age survives alongside the constant row's match —
    UNION-of-rows semantics (SPARQL §10.2)."""
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?age WHERE {{
          ?s ex:age ?age .
          VALUES ?age {{ UNDEF }}
        }} ORDER BY ?age
    """).collect()
    all_rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?age WHERE {{ ?s ex:age ?age }} ORDER BY ?age
    """).collect()
    assert [(r.s, r.age) for r in rows] == \
        [(r.s, r.age) for r in all_rows] and len(rows) >= 3


def test_values_undef_multi_var(quads):
    """UNDEF in one column of a multi-var row: the bound column still
    constrains, the UNDEF column takes the matched solution's binding
    where the solution has one and stays null where it doesn't."""
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?age ?tag WHERE {{
          ?s ex:age ?age .
          VALUES (?age ?tag) {{ ("30" UNDEF) ("25" "quarter") }}
        }} ORDER BY ?age
    """).collect()
    assert [(r.s, r.age, r.tag) for r in rows] == \
        [(EX + "bob", "25", "quarter"), (EX + "alice", "30", None)]


def test_values_undef_pure_inline_block(quads):
    """A group that is ONLY a VALUES block with UNDEF cells yields
    those rows verbatim, nulls included."""
    rows = sparql_select(quads, """
        SELECT ?a ?b WHERE {
          VALUES (?a ?b) { ("x" UNDEF) (UNDEF "y") }
        } ORDER BY ?a
    """).collect()
    assert [(r.a, r.b) for r in rows] == [(None, "y"), ("x", None)]


def test_construct_basic(quads):
    from kgloom.sparql import sparql_construct
    out = sparql_construct(quads, f"""
        PREFIX ex: <{EX}>
        CONSTRUCT {{ ?s ex:aged ?age . ?s a ex:Aged . }}
        WHERE {{ ?s ex:age ?age . FILTER(?age > 26) }}
    """)
    assert out.columns == ["subj", "pred", "obj", "graph"]
    got = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert got == {
        (f"<{EX}alice>", f"<{EX}aged>", '"30"'),
        (f"<{EX}carol>", f"<{EX}aged>", '"41"'),
        (f"<{EX}alice>",
         "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
         f"<{EX}Aged>"),
        (f"<{EX}carol>",
         "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
         f"<{EX}Aged>"),
    }


def test_construct_skips_unbound_and_literal_subject(quads):
    from kgloom.sparql import sparql_construct
    # ?name only binds for bob (OPTIONAL); other solutions skip the
    # template triple instead of emitting a null term
    out = sparql_construct(quads, f"""
        PREFIX ex: <{EX}>
        CONSTRUCT {{ ?s ex:hasName ?name . }}
        WHERE {{ ?s ex:age ?age . OPTIONAL {{ ?s ex:name ?name }} }}
    """).collect()
    assert {(r.subj, r.obj) for r in out} == {(f"<{EX}bob>", '"Bob"@en')}
    # a literal flowing into the subject position is skipped, not emitted
    out2 = sparql_construct(quads, f"""
        PREFIX ex: <{EX}>
        CONSTRUCT {{ ?age ex:of ?s . }} WHERE {{ ?s ex:age ?age . }}
    """).collect()
    assert out2 == []


def test_construct_feeds_select(quads):
    """CONSTRUCT output is a quad DataFrame the SELECT engine accepts —
    the KG→KG chain in one session."""
    from kgloom.sparql import sparql_construct
    derived = sparql_construct(quads, f"""
        PREFIX ex: <{EX}>
        CONSTRUCT {{ ?s ex:ageCopy ?age . }} WHERE {{ ?s ex:age ?age . }}
    """)
    rows = sparql_select(derived, f"""
        PREFIX ex: <{EX}>
        SELECT ?s (COUNT(?v) AS ?n) WHERE {{ ?s ex:ageCopy ?v . }}
        GROUP BY ?s ORDER BY ?s
    """).collect()
    assert [(r.s, r.n) for r in rows] == \
        [(EX + "alice", 1), (EX + "bob", 1), (EX + "carol", 1)]


def test_construct_template_validation(quads):
    from kgloom.sparql import sparql_construct
    with pytest.raises(SparqlError):
        sparql_construct(quads, 'CONSTRUCT { "lit" <http://p> ?o } '
                                'WHERE { ?s ?p ?o . }')
    with pytest.raises(SparqlError):
        sparql_construct(quads, 'CONSTRUCT { ?s "notiri" ?o } '
                                'WHERE { ?s ?p ?o . }')
    with pytest.raises(SparqlError):
        sparql_construct(quads, 'CONSTRUCT { } WHERE { ?s ?p ?o . }')


# --- property paths --------------------------------------------------------

@pytest.fixture(scope="module")
def chain(spark):
    """a→b→c→d ``next`` chain (+ a detached x→y edge, a p/q branch and
    a self-loop node) for path-operator tests."""
    E = "http://ex.com/"
    rows = [
        (f"<{E}a>", f"<{E}next>", f"<{E}b>", None),
        (f"<{E}b>", f"<{E}next>", f"<{E}c>", None),
        (f"<{E}c>", f"<{E}next>", f"<{E}d>", None),
        (f"<{E}x>", f"<{E}next>", f"<{E}y>", None),
        (f"<{E}a>", f"<{E}p>", f"<{E}m>", None),
        (f"<{E}m>", f"<{E}q>", f"<{E}z>", None),
        (f"<{E}loop>", f"<{E}next>", f"<{E}loop>", None),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")


def test_path_parse_precedence():
    from kgloom.sparql import PathAlt, PathClosure, PathInv, PathSeq
    q = parse_sparql(f"""
        PREFIX ex: <{EX}>
        SELECT ?x ?y WHERE {{ ?x (ex:p|^ex:q)/ex:r* ?y . }}
    """)
    (s, path, o), = q.group.patterns
    # '/' binds tighter than '|'?  No: '|' loosest — the parens force
    # the alt first, then the sequence with the starred atom
    assert isinstance(path, PathSeq) and len(path.steps) == 2
    alt, star = path.steps
    assert isinstance(alt, PathAlt) and isinstance(alt.branches[1], PathInv)
    assert isinstance(star, PathClosure) and star.mod == "*"
    # without parens: a|b/c == a|(b/c)
    q2 = parse_sparql(f"PREFIX ex: <{EX}> SELECT ?x ?y "
                      f"WHERE {{ ?x ex:a|ex:b/ex:c ?y . }}")
    (_, p2, _), = q2.group.patterns
    assert isinstance(p2, PathAlt) and isinstance(p2.branches[1], PathSeq)


def test_path_rejects_vars_and_literals(chain):
    with pytest.raises(SparqlError):
        parse_sparql("SELECT ?x WHERE { ?x ?p+ ?y . }")
    with pytest.raises(SparqlError):
        parse_sparql("SELECT ?x WHERE { ?x <http://p>/?p ?y . }")
    with pytest.raises(SparqlError):  # literal atom
        parse_sparql('SELECT ?x WHERE { ?x "lit"+ ?y . }')
    # negation now parses (round 3): single-IRI NPS
    from kgloom.sparql import PathNeg
    q = parse_sparql("SELECT ?x WHERE { ?x !<http://p> ?y . }")
    (_, p, _), = q.group.patterns
    assert isinstance(p, PathNeg) and p.fwd == ("<http://p>",)


def test_path_plus_transitive(chain):
    E = "http://ex.com/"
    rows = sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?s ?o WHERE {{ ?s ex:next+ ?o . }}
    """).collect()
    got = {(r.s, r.o) for r in rows}
    want = {(E + a, E + b) for a, b in
            [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
             ("c", "d"), ("x", "y"), ("loop", "loop")]}
    assert got == want and len(rows) == len(got)  # distinct per §18.4


def test_path_sequence_and_inverse(chain):
    E = "http://ex.com/"
    rows = sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?s ?o WHERE {{ ?s ex:p/ex:q ?o . }}
    """).collect()
    assert {(r.s, r.o) for r in rows} == {(E + "a", E + "z")}
    rows = sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?s WHERE {{ ?s ^ex:next ?o . FILTER(?o = ex:b) }}
    """).collect()
    assert [r.s for r in rows] == [E + "c"]  # c's predecessor-of view... b←a inverted


def test_path_alternation_multiset(chain):
    E = "http://ex.com/"
    rows = sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?o WHERE {{ ex:a (ex:next|ex:p) ?o . }}
    """).collect()
    assert sorted(r.o for r in rows) == [E + "b", E + "m"]


def test_path_star_and_question(chain):
    E = "http://ex.com/"
    rows = sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?o WHERE {{ ex:a ex:next* ?o . }}
    """).collect()
    assert {r.o for r in rows} == {E + s for s in "abcd"}
    rows = sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?o WHERE {{ ex:a ex:next? ?o . }}
    """).collect()
    assert {r.o for r in rows} == {E + "a", E + "b"}
    # zero-length from a term absent from the graph still yields itself
    rows = sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?o WHERE {{ ex:ghost ex:next* ?o . }}
    """).collect()
    assert [r.o for r in rows] == [E + "ghost"]


def test_path_same_var_both_ends(chain):
    E = "http://ex.com/"
    rows = sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?n WHERE {{ ?n ex:next+ ?n . }}
    """).collect()
    assert [r.n for r in rows] == [E + "loop"]


def test_path_joins_with_plain_patterns(chain):
    E = "http://ex.com/"
    rows = sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?s ?o ?m WHERE {{
          ?s ex:next+ ?o .
          ?s ex:p ?m .
        }}
    """).collect()
    assert {(r.s, r.o, r.m) for r in rows} == \
        {(E + "a", E + t, E + "m") for t in "bcd"}


def test_path_ground_existence_probe(chain):
    E = "http://ex.com/"
    rows = sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?z WHERE {{ ex:a ex:next+ ex:d . ex:a ex:p ?z . }}
    """).collect()
    assert [r.z for r in rows] == [E + "m"]
    rows = sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?z WHERE {{ ex:d ex:next+ ex:a . ex:a ex:p ?z . }}
    """).collect()
    assert rows == []


def test_path_in_construct_where_not_template(chain):
    from kgloom.sparql import sparql_construct
    E = "http://ex.com/"
    out = sparql_construct(chain, f"""
        PREFIX ex: <{E}>
        CONSTRUCT {{ ?s ex:reaches ?o }} WHERE {{ ?s ex:next+ ?o . }}
    """).collect()
    assert len(out) == 8 and all(r.pred == f"<{E}reaches>" for r in out)
    with pytest.raises(SparqlError):
        sparql_construct(chain, f"""
            PREFIX ex: <{E}>
            CONSTRUCT {{ ?s ex:a/ex:b ?o }} WHERE {{ ?s ex:next ?o . }}
        """)


def test_path_closure_doubling_fallback_matches(chain, monkeypatch):
    """Forcing every component above the local gate routes the closure
    through the distributed path-doubling fallback — same pairs."""
    import kgloom.ops.closure as cl
    E = "http://ex.com/"
    q = f"PREFIX ex: <{E}> SELECT ?s ?o WHERE {{ ?s ex:next+ ?o . }}"
    local = {(r.s, r.o) for r in sparql_select(chain, q).collect()}
    monkeypatch.setattr(cl, "CLOSURE_LOCAL_MAX_EDGES", 0)
    doubled = {(r.s, r.o) for r in sparql_select(chain, q).collect()}
    assert local == doubled and len(local) == 8


def test_path_anchored_ground_subject(chain, monkeypatch):
    """A ground subject on a closure path takes the seeded route
    (anchored_closure) and only closes the anchor's component."""
    import kgloom.ops.closure as cl
    E = "http://ex.com/"
    seen = []
    real = cl.transitive_closure

    def recording(edges, **kw):
        seen.append(edges.count())
        return real(edges, **kw)

    monkeypatch.setattr(cl, "transitive_closure", recording)
    got = {r.o for r in sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?o WHERE {{ ex:b ex:next+ ?o . }}
    """).collect()}
    assert got == {E + "c", E + "d"}
    # only the a→b→c→d component's 3 edges entered the closure —
    # the detached x→y edge and the self-loop were pruned beforehand
    assert seen == [3]


def test_path_anchored_ground_object(chain):
    E = "http://ex.com/"
    got = {r.s for r in sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?s WHERE {{ ?s ex:next+ ex:c . }}
    """).collect()}
    assert got == {E + "a", E + "b"}


def test_path_anchored_star_absent_constant(chain):
    """SPARQL §18.4 ZeroLengthPath: a ground term on a `*` path
    connects to itself even when absent from the graph — both subject
    and OBJECT side (the object side previously had no injection)."""
    E = "http://ex.com/"
    got = {r.o for r in sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?o WHERE {{ ex:ghost ex:next* ?o . }}
    """).collect()}
    assert got == {E + "ghost"}
    got2 = {r.s for r in sparql_select(chain, f"""
        PREFIX ex: <{E}>
        SELECT ?s WHERE {{ ?s ex:next* ex:ghost . }}
    """).collect()}
    assert got2 == {E + "ghost"}


def test_path_anchored_ground_both_ends(chain):
    from kgloom.sparql import sparql_ask
    E = "http://ex.com/"
    ask = sparql_ask(chain, f"""
        PREFIX ex: <{E}>
        ASK {{ ex:a ex:next+ ex:d . }}
    """)
    assert ask is True
    assert sparql_ask(chain, f"""
        PREFIX ex: <{E}>
        ASK {{ ex:a ex:next+ ex:y . }}
    """) is False


# --- subqueries / OFFSET / expression ORDER BY (round 4) -------------------

@pytest.fixture(scope="module")
def convs(spark):
    """5 conversations with 2..6 turns; even turns invoke a tool."""
    E = "http://e/"
    rows = []
    for c in range(5):
        for t in range(c + 2):
            rows.append((f"<{E}c{c}t{t}>", f"<{E}partOf>", f"<{E}c{c}>",
                         None))
            if t % 2 == 0:
                rows.append((f"<{E}c{c}t{t}>", f"<{E}tool>",
                             f"<{E}tool{t % 3}>", None))
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")


def test_subquery_limit_then_join(convs):
    """{ SELECT ... LIMIT } runs bottom-up (slice applies INSIDE), then
    joins the enclosing group on the shared variable."""
    E = "http://e/"
    out = sparql_select(convs, f"""
        PREFIX e: <{E}>
        SELECT ?conv ?tool WHERE {{
          {{ SELECT ?conv (COUNT(?t) AS ?n) WHERE {{
               ?t e:partOf ?conv . }}
             GROUP BY ?conv ORDER BY DESC(?n) ?conv LIMIT 2 }}
          ?turn e:partOf ?conv .
          ?turn e:tool ?tool .
        }}
    """).collect()
    convs_seen = {r.conv for r in out}
    assert convs_seen == {E + "c4", E + "c3"}   # 6- and 5-turn convs
    assert {r.tool for r in out} <= {E + "tool0", E + "tool1", E + "tool2"}


def test_subquery_inherits_outer_prefixes(convs):
    """A subquery with no prologue of its own resolves pnames from the
    enclosing query's PREFIX declarations."""
    E = "http://e/"
    out = sparql_select(convs, f"""
        PREFIX e: <{E}>
        SELECT ?conv WHERE {{
          {{ SELECT DISTINCT ?conv WHERE {{ ?t e:partOf ?conv . }} }}
        }}
    """).collect()
    assert len(out) == 5


def test_subquery_rejected_as_union_branch(convs):
    with pytest.raises(SparqlError, match="UNION branch"):
        parse_sparql("""
            SELECT ?x WHERE {
              { SELECT ?x WHERE { ?x <p> ?y . } } UNION { ?x <q> ?z . }
            }
        """)


def test_offset_slices_after_sort(convs):
    E = "http://e/"
    q = f"""
        PREFIX e: <{E}>
        SELECT ?conv (COUNT(?t) AS ?n) WHERE {{ ?t e:partOf ?conv . }}
        GROUP BY ?conv ORDER BY DESC(?n) ?conv OFFSET %d LIMIT 2
    """
    first = [(r.conv, r.n) for r in sparql_select(convs, q % 0).collect()]
    assert first == [(E + "c4", 6), (E + "c3", 5)]
    shifted = [(r.conv, r.n) for r in sparql_select(convs, q % 2).collect()]
    assert shifted == [(E + "c2", 4), (E + "c1", 3)]


def test_order_by_aggregate_expression(convs):
    """ORDER BY DESC(COUNT(?t)) — the aggregate is computed as a hidden
    grouping output, used for the sort, then dropped."""
    E = "http://e/"
    out = sparql_select(convs, f"""
        PREFIX e: <{E}>
        SELECT ?conv WHERE {{ ?t e:partOf ?conv . }}
        GROUP BY ?conv ORDER BY DESC(COUNT(?t)) ?conv LIMIT 3
    """)
    assert out.columns == ["conv"]
    assert [r.conv for r in out.collect()] == [E + "c4", E + "c3", E + "c2"]


def test_order_by_aggregate_requires_group_context(convs):
    with pytest.raises(SparqlError, match="aggregate ORDER BY"):
        sparql_select(convs, """
            SELECT ?x WHERE { ?x <p> ?y . } ORDER BY DESC(COUNT(?y))
        """)


def test_order_by_scalar_expression(convs):
    """ORDER BY on a scalar function of a projected variable."""
    E = "http://e/"
    out = sparql_select(convs, f"""
        PREFIX e: <{E}>
        SELECT DISTINCT ?tool WHERE {{ ?s e:tool ?tool . }}
        ORDER BY DESC(STRLEN(?tool)) DESC(?tool)
    """)
    assert out.columns == ["tool"]
    assert [r.tool for r in out.collect()] == \
        [E + "tool2", E + "tool1", E + "tool0"]


def test_order_by_unbound_variable_raises(convs):
    with pytest.raises(SparqlError, match="unbound"):
        sparql_select(convs, """
            SELECT ?s WHERE { ?s <http://e/partOf> ?c . } ORDER BY ?nope
        """).collect()


# --- GRAPH / MINUS / EXISTS / ASK ------------------------------------------

@pytest.fixture(scope="module")
def gquads(spark):
    rows = [
        ("<a>", "<p>", "<b>", "<g1>"),
        ("<a>", "<p>", "<c>", "<g2>"),
        ("<b>", "<q>", '"x"', None),
        ("<c>", "<q>", '"y"', "<g1>"),
        ("<d>", "<p>", "<e>", "<g1>"),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")


def test_graph_constant_scopes_bgp(gquads):
    rows = sparql_select(gquads,
                         "SELECT ?s ?o WHERE { GRAPH <g1> { ?s <p> ?o } }")
    assert {(r.s, r.o) for r in rows.collect()} == {("a", "b"), ("d", "e")}


def test_graph_variable_binds_and_skips_default(gquads):
    rows = sparql_select(gquads,
                         "SELECT ?g ?s WHERE { GRAPH ?g { ?s ?p ?o } }")
    got = {(r.g, r.s) for r in rows.collect()}
    # the default-graph quad (<b> <q> "x") never matches GRAPH ?g
    assert got == {("g1", "a"), ("g1", "c"), ("g1", "d"), ("g2", "a")}


def test_graph_cross_graph_join_and_default_union(gquads):
    rows = sparql_select(gquads, """SELECT ?s ?v WHERE {
        GRAPH <g2> { ?s <p> ?o } GRAPH <g1> { ?o <q> ?v } }""")
    assert [(r.s, r.v) for r in rows.collect()] == [("a", "y")]
    # outside GRAPH the BGP is the union of all graphs + default
    rows = sparql_select(gquads, "SELECT ?v WHERE { ?o <q> ?v }")
    assert sorted(r.v for r in rows.collect()) == ["x", "y"]


def test_minus_and_disjoint_minus(gquads):
    rows = sparql_select(gquads, """SELECT ?s ?o WHERE {
        ?s <p> ?o . MINUS { ?o <q> ?v } }""")
    assert [(r.s, r.o) for r in rows.collect()] == [("d", "e")]
    # no shared variables: MINUS removes nothing (SPARQL §8.3)
    rows = sparql_select(gquads, """SELECT ?s WHERE {
        ?s <p> ?o . MINUS { ?x <q> ?v } }""")
    assert rows.count() == 3


def test_filter_exists_and_not_exists(gquads):
    q = """SELECT ?s ?o WHERE {
        ?s <p> ?o . FILTER EXISTS { ?o <q> ?v } }"""
    assert {(r.s, r.o) for r in sparql_select(gquads, q).collect()} == \
        {("a", "b"), ("a", "c")}
    q = """SELECT ?s ?o WHERE {
        ?s <p> ?o . FILTER NOT EXISTS { ?o <q> ?v } }"""
    assert [(r.s, r.o) for r in sparql_select(gquads, q).collect()] == \
        [("d", "e")]
    # variable-disjoint probe gates all-or-nothing
    q = "SELECT ?s WHERE { ?s <q> ?o . FILTER EXISTS { <d> <p> <e> } }"
    assert sparql_select(gquads, q).count() == 2
    q = "SELECT ?s WHERE { ?s <q> ?o . FILTER EXISTS { <zz> <p> <e> } }"
    assert sparql_select(gquads, q).count() == 0


def test_ask(gquads):
    from kgloom.sparql import sparql_ask
    assert sparql_ask(gquads, "ASK { <a> <p> ?x }") is True
    assert sparql_ask(gquads, "ASK WHERE { <zz> <p> ?x }") is False
    assert sparql_ask(gquads,
                      "ASK { GRAPH <g2> { ?s <p> ?o } }") is True
    with pytest.raises(SparqlError):
        sparql_ask(gquads, "ASK { }")


# --- FILTER boolean expressions --------------------------------------------

def test_filter_bool_connectives(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?age WHERE {{
          ?s ex:age ?age .
          FILTER(?age > 26 && ?age < 40 || ?age = 25)
        }}
    """).collect()
    assert {(r.s, r.age) for r in rows} == \
        {(EX + "alice", "30"), (EX + "bob", "25")}
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s WHERE {{ ?s ex:age ?age . FILTER(!(?age > 26)) }}
    """).collect()
    assert [r.s for r in rows] == [EX + "bob"]


def test_filter_regex_and_strfns(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s WHERE {{ ?s ex:name ?n . FILTER(REGEX(?n, "^B.b$")) }}
    """).collect()
    assert [r.s for r in rows] == [EX + "bob"]
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s WHERE {{ ?s ex:name ?n . FILTER(REGEX(?n, "^b.b$", "i")) }}
    """).collect()
    assert [r.s for r in rows] == [EX + "bob"]
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?n WHERE {{
          ?s ex:name ?n .
          FILTER(STRSTARTS(?n, "Bo") && STRENDS(?n, "b")
                 && CONTAINS(?n, "o"))
        }}
    """).collect()
    assert [r.n for r in rows] == ["Bob"]


def test_filter_bound_with_optional(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s WHERE {{
          ?s ex:age ?age .
          OPTIONAL {{ ?s ex:name ?n }}
          FILTER(!BOUND(?n))
        }}
    """).collect()
    assert sorted(r.s for r in rows) == [EX + "alice", EX + "carol"]


def test_filter_is_tests_and_lang(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?o WHERE {{ ex:alice ?p ?o . FILTER(isLITERAL(?o)) }}
    """).collect()
    assert [r.o for r in rows] == ["30"]
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?o WHERE {{ ex:alice ?p ?o . FILTER(isIRI(?o)) }}
    """).collect()
    assert sorted(r.o for r in rows) == [EX + "Person", EX + "bob"]
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s WHERE {{ ?s ex:name ?n . FILTER(LANG(?n) = "EN") }}
    """).collect()
    assert [r.s for r in rows] == [EX + "bob"]
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s WHERE {{ ?s ex:age ?a . FILTER(LANG(?a) != "en") }}
    """).collect()
    assert len(rows) == 3  # plain literals have no lang tag


def test_filter_expression_operands(quads):
    """A comparison takes an expression on either side; a number on
    either side compares by value."""
    def subjects(cond, pattern="?s ex:age ?o"):
        return sorted(r.s for r in sparql_select(quads, f"""
            PREFIX ex: <{EX}>
            SELECT ?s WHERE {{ {pattern} FILTER({cond}) }}""").collect())
    # lexical lengths: <…/bob> is 17 characters, "Bob" 3
    assert subjects("STRLEN(?o) > 3", "?s ex:knows|ex:name ?o") == \
        [EX + "alice"]
    assert subjects("26 < ?o") == [EX + "alice", EX + "carol"]
    assert subjects("?o + 1 = 26") == [EX + "bob"]
    assert subjects("?o * 2 >= 60 && !(?o IN (41))") == [EX + "alice"]
    assert subjects("UCASE(?o) = \"BOB\"", "?s ex:name ?o") == [EX + "bob"]
    with pytest.raises(SparqlError, match="unbound"):
        subjects("STRLEN(?nope) > 1")


def test_having_conjunction_and_aggregate_arithmetic(quads):
    """HAVING (… && …) and arithmetic over aggregates in the
    projection: alice and bob have 3 triples, carol 1."""
    def rows(tail, proj="?s"):
        return [tuple(r) for r in sparql_select(quads, f"""
            SELECT {proj} WHERE {{ ?s ?p ?o }} GROUP BY ?s {tail}
            """).collect()]
    assert sorted(rows("HAVING (COUNT(?o) > 1 && COUNT(?o) < 5)")) == \
        [(EX + "alice",), (EX + "bob",)]
    assert rows("HAVING (COUNT(?o) >= 1 && COUNT(?o) < 3)") == \
        [(EX + "carol",)]
    assert sorted(rows("", "?s (COUNT(?o)*2 AS ?n)")) == [
        (EX + "alice", "6.0"), (EX + "bob", "6.0"), (EX + "carol", "2.0")]
    # count minus IRI length: bob 3 - 17, alice 3 - 19, carol 1 - 19
    assert rows("ORDER BY DESC(COUNT(?o) - STRLEN(?s))",
                "?s (COUNT(?o) AS ?n)") == [
        (EX + "bob", 3), (EX + "alice", 3), (EX + "carol", 1)]
    total = sparql_select(quads, f"""PREFIX ex: <{EX}>
        SELECT (SUM(?age) + 1 AS ?x) WHERE {{ ?s ex:age ?age }}""")
    assert [r.x for r in total.collect()] == ["97.0"]


def test_bare_number_is_a_typed_literal(spark, quads):
    """A bare number is an xsd:integer / xsd:decimal term in patterns
    and VALUES, and still compares by value in a FILTER."""
    from kgloom.engine import run_rml_file
    case = str(FIXTURES / "rml" / "json_null_datatype")
    kg = run_rml_file(spark, f"{case}/mapping.ttl", base_dir=case)
    rows = sparql_select(kg, "SELECT ?s WHERE { "
                             "?s <http://example.com/age> 30 }").collect()
    assert [r.s for r in rows] == ["http://example.com/person/1"]
    rows = sparql_select(kg, "SELECT ?s ?a WHERE { ?s "
                             "<http://example.com/age> ?a VALUES ?a { 30 } }",
                         raw_terms=True).collect()
    assert [r.a for r in rows] == [
        '"30"^^<http://www.w3.org/2001/XMLSchema#integer>']
    # the plain "30" of the fixture quads still passes a numeric FILTER
    rows = sparql_select(quads, f"""PREFIX ex: <{EX}>
        SELECT ?s ?d WHERE {{ ?s ex:age ?a FILTER(?a = 30)
                              BIND(2.5 AS ?d) }}""", raw_terms=True)
    assert [(r.s, r.d) for r in rows.collect()] == [
        (f"<{EX}alice>", '"2.5"^^<http://www.w3.org/2001/XMLSchema#decimal>')]


def test_negated_property_set_forward(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?o WHERE {{ ?s !(ex:age|a) ?o . }}
    """).collect()
    got = {(r.s, r.o) for r in rows}
    assert got == {(EX + "alice", EX + "bob"), (EX + "bob", "Bob")}


def test_negated_property_set_single_and_inverse(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?o WHERE {{ ex:alice !ex:knows ?o . }}
    """).collect()
    assert {r.o for r in rows} == {"30", EX + "Person"}
    # inverse-only: match reversed edges whose pred is NOT ex:age —
    # bob is reached via ^knows (from alice) and ^type is excluded by
    # nothing, so Person gains both typed subjects
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?o WHERE {{ ?s !(^ex:age) ?o . }}
    """).collect()
    got = {(r.s, r.o) for r in rows}
    assert (EX + "bob", EX + "alice") in got          # ^knows
    assert (EX + "Person", EX + "alice") in got        # ^type
    assert ("30", EX + "alice") not in got             # ^age negated


def test_negated_property_set_errors(quads):
    with pytest.raises(SparqlError):
        parse_sparql(f"SELECT ?s WHERE {{ ?s !(<{EX}p>|?v) ?o . }}")
    with pytest.raises(SparqlError):
        parse_sparql(f"SELECT ?s WHERE {{ ?s !(<{EX}p> ?o . }}")


def test_describe_constant_and_variable(quads):
    from kgloom.sparql import sparql_describe
    got = {(r.subj, r.pred, r.obj)
           for r in sparql_describe(quads, f"""
               PREFIX ex: <{EX}>
               DESCRIBE ex:carol
           """).collect()}
    assert got == {(f"<{EX}carol>", f"<{EX}age>", '"41"')}
    # variable form: all quads touching every typed resource
    got = {(r.subj, r.pred, r.obj)
           for r in sparql_describe(quads, f"""
               PREFIX ex: <{EX}>
               DESCRIBE ?p WHERE {{ ?p a ex:Person . }}
           """).collect()}
    assert (f"<{EX}alice>", f"<{EX}knows>", f"<{EX}bob>") in got
    assert (f"<{EX}bob>", f"<{EX}name>", '"Bob"@en') in got
    assert (f"<{EX}carol>", f"<{EX}age>", '"41"') not in got


def test_describe_errors(quads):
    from kgloom.sparql import sparql_describe
    with pytest.raises(SparqlError):
        sparql_describe(quads, "DESCRIBE ?x")          # vars need WHERE
    with pytest.raises(SparqlError):
        sparql_describe(quads, 'DESCRIBE "lit"')       # not an IRI


def test_group_concat_and_sample(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?p (GROUP_CONCAT(?age; SEPARATOR="|") AS ?ages)
               (SAMPLE(?age) AS ?one)
        WHERE {{ ?p ex:age ?age . }} GROUP BY ?p
    """).collect()
    got = {(r.p, r.ages, r.one) for r in rows}
    assert got == {(EX + "alice", "30", "30"), (EX + "bob", "25", "25"),
                   (EX + "carol", "41", "41")}
    # cross-group concat, default separator, DISTINCT collapse
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT (GROUP_CONCAT(DISTINCT ?age) AS ?ages) WHERE {{
          ?p ex:age ?age . }}
    """).collect()
    assert rows[0].ages == "25 30 41"   # sorted, space-joined


def test_group_concat_errors(quads):
    with pytest.raises(SparqlError):
        parse_sparql('SELECT (SUM(?x; SEPARATOR=",") AS ?s) '
                     'WHERE { ?a ?b ?x . }')
    with pytest.raises(SparqlError):
        parse_sparql("SELECT (SAMPLE(*) AS ?s) WHERE { ?a ?b ?x . }")


# ---------------------------------------------------------------------------
# SPARQL 1.1 Update (functional: returns the updated store)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def upd_quads(spark):
    rows = [
        (f"<{EX}alice>", f"<{EX}knows>", f"<{EX}bob>", None),
        (f"<{EX}alice>", f"<{EX}age>", '"30"', None),
        # same triple in two graphs: triple-set semantics must treat
        # them as one for matching and delete both copies
        (f"<{EX}bob>", f"<{EX}age>", '"25"', f"<{EX}g1>"),
        (f"<{EX}bob>", f"<{EX}age>", '"25"', None),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")


def _triples(df):
    return {(r.subj, r.pred, r.obj) for r in df.collect()}


def test_update_insert_data_dedups(upd_quads):
    from kgloom.sparql import sparql_update
    out = sparql_update(upd_quads, f"""PREFIX ex: <{EX}>
        INSERT DATA {{ ex:carol ex:age "41" . ex:alice ex:knows ex:bob }}
    """)
    # the second DATA triple already exists -> suppressed; new triple
    # lands with a null graph
    assert out.count() == 5
    new = out.where(F.col("subj") == f"<{EX}carol>").collect()
    assert [(r.obj, r.graph) for r in new] == [('"41"', None)]


def test_update_delete_data_spans_graphs(upd_quads):
    from kgloom.sparql import sparql_update
    out = sparql_update(upd_quads, f"""PREFIX ex: <{EX}>
        DELETE DATA {{ ex:bob ex:age "25" }}""")
    assert _triples(out) == {
        (f"<{EX}alice>", f"<{EX}knows>", f"<{EX}bob>"),
        (f"<{EX}alice>", f"<{EX}age>", '"30"'),
    }


def test_update_delete_where(upd_quads):
    from kgloom.sparql import sparql_update
    out = sparql_update(upd_quads, f"""PREFIX ex: <{EX}>
        DELETE WHERE {{ ?s ex:age ?a }}""")
    assert _triples(out) == {(f"<{EX}alice>", f"<{EX}knows>", f"<{EX}bob>")}


def test_update_delete_insert_where_pre_update(upd_quads):
    """WHERE is evaluated once against the pre-update state; DELETE
    applies before INSERT (SPARQL 1.1 Update 3.1.3) — the rename does
    not re-trigger on its own inserts."""
    from kgloom.sparql import sparql_update
    out = sparql_update(upd_quads, f"""PREFIX ex: <{EX}>
        DELETE {{ ?s ex:age ?a }}
        INSERT {{ ?s ex:ageYears ?a . ?s ex:migrated "true" }}
        WHERE {{ ?s ex:age ?a }}""")
    assert _triples(out) == {
        (f"<{EX}alice>", f"<{EX}knows>", f"<{EX}bob>"),
        (f"<{EX}alice>", f"<{EX}ageYears>", '"30"'),
        (f"<{EX}alice>", f"<{EX}migrated>", '"true"'),
        (f"<{EX}bob>", f"<{EX}ageYears>", '"25"'),
        (f"<{EX}bob>", f"<{EX}migrated>", '"true"'),
    }


def test_update_sequence_runs_in_order(upd_quads):
    from kgloom.sparql import sparql_update
    out = sparql_update(upd_quads, f"""PREFIX ex: <{EX}>
        INSERT DATA {{ ex:meta ex:version "1" }} ;
        DELETE {{ ex:meta ex:version "1" }}
        INSERT {{ ex:meta ex:version "2" }}
        WHERE {{ ex:meta ex:version "1" }} ;
        DELETE WHERE {{ ?s ex:age ?a }}""")
    got = _triples(out)
    assert (f"<{EX}meta>", f"<{EX}version>", '"2"') in got
    assert not any(p == f"<{EX}age>" for (_, p, _) in got)
    assert len(got) == 2  # alice-knows-bob + meta-version-2


def test_update_insert_only_where(upd_quads):
    from kgloom.sparql import sparql_update
    out = sparql_update(upd_quads, f"""PREFIX ex: <{EX}>
        INSERT {{ ?s ex:hasAge "yes" }} WHERE {{ ?s ex:age ?a }}""")
    assert out.count() == 4 + 2


def test_update_skips_null_and_literal_subject_bindings(upd_quads):
    """Template instantiation skips solutions where a template variable
    is unbound (OPTIONAL miss) or would put a literal in the subject."""
    from kgloom.sparql import sparql_update
    out = sparql_update(upd_quads, f"""PREFIX ex: <{EX}>
        INSERT {{ ?s ex:knowsAge ?k }}
        WHERE {{ ?s ex:age ?a . OPTIONAL {{ ?s ex:knows ?k }} }}""")
    assert out.count() == 4 + 1  # only alice has a ?k binding
    out2 = sparql_update(upd_quads, f"""PREFIX ex: <{EX}>
        INSERT {{ ?a ex:isAgeOf ?s }} WHERE {{ ?s ex:age ?a }}""")
    assert out2.count() == 4     # "30"/"25" subjects skipped


def test_update_errors(upd_quads):
    from kgloom.sparql import sparql_update
    for bad, msg in [
        (f'INSERT DATA {{ ?v <{EX}p> "1" }}', "ground"),
        (f'INSERT DATA {{ "lit" <{EX}p> "1" }}', "literal"),
        (f'DELETE {{ ?s <{EX}p> ?o }}', "WHERE"),
        (f'DELETE {{ ?s <{EX}p>+ ?o }} WHERE {{ ?s <{EX}p> ?o }}',
         "paths"),
        (f'INSERT {{ ?s <{EX}p> ?missing }} WHERE {{ ?s <{EX}p> ?o }}',
         "unbound"),
        ("", "empty"),
        (f'LOAD <{EX}dump.nq>', "unsupported"),
        (f'INSERT DATA {{ }}', "empty"),
        (f'WITH <{EX}g1> INSERT DATA {{ <{EX}a> <{EX}p> "1" }}',
         "WITH does not apply"),
        (f'INSERT DATA {{ GRAPH ?v {{ <{EX}a> <{EX}p> "1" }} }}',
         "ground"),
    ]:
        with pytest.raises(SparqlError, match=msg):
            sparql_update(upd_quads, bad)


def test_update_graph_ops_need_quad_store(upd_quads):
    from kgloom.sparql import sparql_update
    triples = upd_quads.select("subj", "pred", "obj")
    for bad in [f"CLEAR GRAPH <{EX}g1>",
                f"ADD <{EX}g1> TO DEFAULT",
                f"WITH <{EX}g1> INSERT {{ ?s <{EX}q> ?o }} "
                f"WHERE {{ ?s <{EX}p> ?o }}",
                f'INSERT DATA {{ GRAPH <{EX}g1> {{ <{EX}a> <{EX}p> "1" '
                f'}} }}',
                f"DELETE WHERE {{ GRAPH <{EX}g1> {{ ?s ?p ?o }} }}"]:
        with pytest.raises(SparqlError, match="quad store"):
            sparql_update(triples, bad)


def _quads(df):
    return {(r.subj, r.pred, r.obj, r.graph) for r in df.collect()}


def test_update_clear_drop(upd_quads):
    from kgloom.sparql import sparql_update
    assert sparql_update(upd_quads, f"CLEAR GRAPH <{EX}g1>").count() == 3
    assert sparql_update(upd_quads, "CLEAR DEFAULT").count() == 1
    assert sparql_update(upd_quads, "DROP NAMED").count() == 3
    assert sparql_update(upd_quads, "CLEAR ALL").count() == 0
    assert sparql_update(upd_quads, "CLEAR SILENT ALL").count() == 0
    # clearing an absent graph is a no-op, not an error
    assert sparql_update(upd_quads, f"CLEAR GRAPH <{EX}nope>").count() == 4
    # CREATE is a conformance no-op
    assert sparql_update(upd_quads,
                         f"CREATE GRAPH <{EX}gnew>").count() == 4


def test_update_add_copy_move(upd_quads):
    from kgloom.sparql import sparql_update
    g1, g2 = f"<{EX}g1>", f"<{EX}g2>"
    # ADD: union with set semantics; the default graph already holds
    # bob-age-25, so ADD g1 TO DEFAULT adds nothing
    assert sparql_update(upd_quads, f"ADD {g1} TO DEFAULT").count() == 4
    out = sparql_update(upd_quads, f"ADD DEFAULT TO {g2}")
    assert out.count() == 7
    assert out.where(F.col("graph") == g2).count() == 3
    # COPY replaces the target graph
    out = sparql_update(out, f"COPY {g1} TO {g2}")
    assert _quads(out.where(F.col("graph") == g2)) == {
        (f"<{EX}bob>", f"<{EX}age>", '"25"', g2)}
    # MOVE empties the source
    out2 = sparql_update(upd_quads, f"MOVE {g1} TO {g2}")
    assert out2.where(F.col("graph") == g1).count() == 0
    assert _quads(out2.where(F.col("graph") == g2)) == {
        (f"<{EX}bob>", f"<{EX}age>", '"25"', g2)}
    # self-target is a no-op
    assert sparql_update(upd_quads, f"MOVE {g1} TO {g1}").count() == 4


def test_update_insert_data_graph_block(upd_quads):
    from kgloom.sparql import sparql_update
    out = sparql_update(upd_quads, f"""PREFIX ex: <{EX}>
        INSERT DATA {{
          ex:carol ex:age "41" .
          GRAPH ex:g1 {{ ex:carol ex:age "41" . ex:dave ex:age "9" }}
        }}""")
    # quad-level set semantics: the same triple may land in the
    # default graph AND g1
    assert _quads(out.where(F.col("subj") == f"<{EX}carol>")) == {
        (f"<{EX}carol>", f"<{EX}age>", '"41"', None),
        (f"<{EX}carol>", f"<{EX}age>", '"41"', f"<{EX}g1>"),
    }
    # re-inserting an existing quad is suppressed
    again = sparql_update(out, f"""PREFIX ex: <{EX}>
        INSERT DATA {{ GRAPH ex:g1 {{ ex:dave ex:age "9" }} }}""")
    assert again.count() == out.count()


def test_update_delete_data_graph_scoped(upd_quads):
    from kgloom.sparql import sparql_update
    # scoped DELETE DATA removes only that graph's copy
    out = sparql_update(upd_quads, f"""PREFIX ex: <{EX}>
        DELETE DATA {{ GRAPH ex:g1 {{ ex:bob ex:age "25" }} }}""")
    assert _quads(out) == {
        (f"<{EX}alice>", f"<{EX}knows>", f"<{EX}bob>", None),
        (f"<{EX}alice>", f"<{EX}age>", '"30"', None),
        (f"<{EX}bob>", f"<{EX}age>", '"25"', None),
    }


def test_update_with_graph_scoping(upd_quads):
    from kgloom.sparql import sparql_update
    # WITH scopes matching: only g1 holds bob-age-25, the default-graph
    # copies of ex:age do not match inside WITH <g1>
    out = sparql_update(upd_quads, f"""PREFIX ex: <{EX}>
        WITH <{EX}g1>
        DELETE {{ ?s ex:age ?a }} INSERT {{ ?s ex:ageYears ?a }}
        WHERE {{ ?s ex:age ?a }}""")
    assert _quads(out) == {
        (f"<{EX}alice>", f"<{EX}knows>", f"<{EX}bob>", None),
        (f"<{EX}alice>", f"<{EX}age>", '"30"', None),
        (f"<{EX}bob>", f"<{EX}age>", '"25"', None),
        (f"<{EX}bob>", f"<{EX}ageYears>", '"25"', f"<{EX}g1>"),
    }


def test_update_graph_var_template(upd_quads):
    from kgloom.sparql import sparql_update
    # GRAPH ?g in both the WHERE and the INSERT template: stamp every
    # named graph with a provenance triple in that same graph
    out = sparql_update(upd_quads, f"""PREFIX ex: <{EX}>
        INSERT {{ GRAPH ?g {{ ?g ex:touched "true" }} }}
        WHERE  {{ GRAPH ?g {{ ?s ?p ?o }} }}""")
    added = _quads(out) - _quads(upd_quads)
    assert added == {(f"<{EX}g1>", f"<{EX}touched>", '"true"',
                      f"<{EX}g1>")}


def test_update_delete_where_graph_block(upd_quads):
    from kgloom.sparql import sparql_update
    out = sparql_update(upd_quads, f"""PREFIX ex: <{EX}>
        DELETE WHERE {{ GRAPH <{EX}g1> {{ ?s ?p ?o }} }}""")
    assert out.count() == 3
    assert out.where(F.col("graph").isNotNull()).count() == 0


def test_update_load_nquads(upd_quads, tmp_path):
    from kgloom.sparql import sparql_update
    nq = tmp_path / "dump.nq"
    nq.write_text(
        f'<{EX}x> <{EX}p> "1" .\n'
        f'<{EX}y> <{EX}p> "2" <{EX}gfile> .\n'
        # already present in the store (null graph) -> suppressed
        f'<{EX}alice> <{EX}age> "30" .\n')
    out = sparql_update(upd_quads, f"LOAD <file://{nq}>")
    added = _quads(out) - _quads(upd_quads)
    assert added == {(f"<{EX}x>", f"<{EX}p>", '"1"', None),
                     (f"<{EX}y>", f"<{EX}p>", '"2"', f"<{EX}gfile>")}
    # INTO GRAPH retargets every loaded quad
    out2 = sparql_update(upd_quads, f"LOAD <{nq}> INTO GRAPH <{EX}g9>")
    added2 = _quads(out2) - _quads(upd_quads)
    assert added2 == {(f"<{EX}x>", f"<{EX}p>", '"1"', f"<{EX}g9>"),
                      (f"<{EX}y>", f"<{EX}p>", '"2"', f"<{EX}g9>"),
                      (f"<{EX}alice>", f"<{EX}age>", '"30"', f"<{EX}g9>")}
    # sequencing: LOAD then query-shaped delete over the loaded data
    out3 = sparql_update(upd_quads, f"""
        LOAD <file://{nq}> ;
        DELETE WHERE {{ ?s <{EX}p> ?o }}""")
    assert not [r for r in out3.collect() if r.pred == f"<{EX}p>"]


def test_bgp_join_ordering_avoids_cross_join(spark):
    """A BGP written in a disconnected order (patterns 1 and 2 share no
    variable; pattern 3 connects them) must be reordered connected-
    first: no cartesian product in the plan, same solutions."""
    from tests.test_plan_quality import explain_str
    rows = [
        (f"<{EX}t1>", f"<{EX}partOf>", f"<{EX}c1>", None),
        (f"<{EX}t2>", f"<{EX}partOf>", f"<{EX}c1>", None),
        (f"<{EX}t1>", f"<{EX}usedTool>", f"<{EX}grep>", None),
        (f"<{EX}c1>", f"<{EX}title>", '"conv one"', None),
        (f"<{EX}c2>", f"<{EX}title>", '"conv two"', None),
    ]
    quads = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")
    q = f"""SELECT ?turn ?title WHERE {{
        ?turn <{EX}usedTool> <{EX}grep> .
        ?conv <{EX}title> ?title .
        ?turn <{EX}partOf> ?conv .
    }}"""
    df = sparql_select(quads, q)
    assert "CartesianProduct" not in explain_str(df)
    assert [(r.turn, r.title) for r in df.collect()] == \
        [(f"{EX}t1", "conv one")]


def test_bgp_join_ordering_is_semantics_preserving(quads):
    """Every permutation of a 3-pattern BGP yields the same solution
    multiset (inner natural joins commute; ordering is an optimization
    only)."""
    import itertools
    pats = [f"?a <{EX}knows> ?b .",
            f"?a <{EX}age> ?x .",
            f"?b <{EX}age> ?y ."]
    want = None
    for perm in itertools.permutations(pats):
        df = sparql_select(quads,
                           "SELECT ?a ?b ?x ?y WHERE { %s }"
                           % " ".join(perm))
        got = sorted(map(tuple, df.collect()))
        if want is None:
            want = got
        assert got == want
    assert want


# --- dataset clauses (FROM / FROM NAMED, §13.2) -------------------------------

def _dataset_quads(spark):
    return spark.createDataFrame(
        [("<s1>", "<p>", '"a"', "<g1>"),
         ("<s2>", "<p>", '"b"', "<g2>"),
         ("<s3>", "<p>", '"c"', "<g3>")],
        "subj string, pred string, obj string, graph string")


def test_from_merges_default_graph(spark):
    from kgloom.sparql import sparql_select
    out = sparql_select(_dataset_quads(spark), """
        SELECT ?s ?o FROM <g1> FROM <g2> WHERE { ?s <p> ?o }
    """)
    assert sorted(map(tuple, out.collect())) == [("s1", "a"), ("s2", "b")]


def test_from_named_scopes_graph_patterns(spark):
    from kgloom.sparql import sparql_select
    # g2 is named-only: invisible to the default BGP, visible to GRAPH
    out = sparql_select(_dataset_quads(spark), """
        SELECT ?s ?g FROM <g1> FROM NAMED <g2>
        WHERE { GRAPH ?g { ?s <p> ?o } }
    """)
    assert sorted(map(tuple, out.collect())) == [("s2", "g2")]
    # and the default BGP sees only the FROM merge
    out2 = sparql_select(_dataset_quads(spark), """
        SELECT ?s FROM <g1> FROM NAMED <g2> WHERE { ?s <p> ?o }
    """)
    assert [tuple(r) for r in out2.collect()] == [("s1",)]


def test_from_named_only_empty_default(spark):
    from kgloom.sparql import sparql_select
    out = sparql_select(_dataset_quads(spark), """
        SELECT ?s FROM NAMED <g1> WHERE { ?s <p> ?o }
    """)
    assert out.count() == 0


def test_no_dataset_clause_keeps_union_default(spark):
    from kgloom.sparql import sparql_select
    out = sparql_select(_dataset_quads(spark),
                        "SELECT ?s WHERE { ?s <p> ?o }")
    assert out.count() == 3


def test_group_by_expression(quads):
    """GROUP BY (expr AS ?v): the expression is computed before
    aggregation and its alias is a projectable key (§18.2.4.1)."""
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?ageprefix (COUNT(*) AS ?n) WHERE {{
          ?s ex:age ?age .
        }} GROUP BY (SUBSTR(?age, 1, 1) AS ?ageprefix)
        ORDER BY ?ageprefix
    """).collect()
    assert [(r.ageprefix, r.n) for r in rows] == \
        [("2", 1), ("3", 1), ("4", 1)]
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?len (COUNT(*) AS ?n) WHERE {{
          ?s ex:age ?age .
        }} GROUP BY (STRLEN(?age) AS ?len)
    """).collect()
    assert [(r.len, r.n) for r in rows] == [("2.0", 3)]


def test_group_by_expression_mixed_with_var(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?one (COUNT(*) AS ?n) WHERE {{
          ?s ex:age ?age .
        }} GROUP BY ?s (STRLEN(?age) - 1 AS ?one)
        ORDER BY ?s
    """).collect()
    assert len(rows) == 3 and all(r.one == "1.0" and r.n == 1
                                  for r in rows)


def test_group_by_expression_requires_as(quads):
    with pytest.raises(SparqlError):
        parse_sparql("""SELECT ?x (COUNT(*) AS ?n) WHERE {
            ?s ?p ?o . } GROUP BY (STRLEN(?o))""")


def test_having_aggregate_expression(quads):
    """HAVING (AGG(...) op value): the aggregate compiles to a hidden
    grouping output, filters, and never surfaces in the projection."""
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?p (COUNT(*) AS ?n) WHERE {{
          ?s ?p ?o .
        }} GROUP BY ?p HAVING (COUNT(*) > 2)
        ORDER BY ?p
    """)
    assert rows.columns == ["p", "n"]
    got = rows.collect()
    assert all(r.n > 2 for r in got) and len(got) >= 1


def test_having_aggregate_without_projected_alias(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT (MIN(?age) AS ?m) WHERE {{
          ?s ex:age ?age .
        }} HAVING (COUNT(*) > 2)
    """).collect()
    assert [(r.m,) for r in rows] == [("25",)]
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT (MIN(?age) AS ?m) WHERE {{
          ?s ex:age ?age .
        }} HAVING (COUNT(*) > 3)
    """).collect()
    assert rows == []


def test_having_sum_expression(quads):
    rows = sparql_select(quads, f"""
        PREFIX ex: <{EX}>
        SELECT ?s (SUM(?age) AS ?t) WHERE {{
          ?s ex:age ?age .
        }} GROUP BY ?s HAVING (SUM(?age) >= 30)
        ORDER BY ?s
    """).collect()
    assert all(r.t >= 30 for r in rows) and len(rows) == 2


def test_construct_where_shorthand(quads):
    """§10.2.3: CONSTRUCT WHERE { bgp } uses the pattern as the
    template — equivalent to spelling the template out."""
    from kgloom.sparql import sparql_construct
    short = sparql_construct(quads, f"""
        PREFIX ex: <{EX}>
        CONSTRUCT WHERE {{ ?s ex:age ?age . }}
    """)
    full = sparql_construct(quads, f"""
        PREFIX ex: <{EX}>
        CONSTRUCT {{ ?s ex:age ?age . }} WHERE {{ ?s ex:age ?age . }}
    """)
    a = sorted(map(tuple, short.collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b and len(a) > 0


def test_construct_where_shorthand_keywords_inside_terms(spark):
    """Keywords and braces inside a literal or an IRI are content: the
    shorthand's plain-BGP check must not see them."""
    from kgloom.sparql import sparql_construct
    row = ("<http://ex.org/s>", "<http://ex.org/p#FILTER>",
           '"a FILTER { b"', None)
    df = spark.createDataFrame(
        [row, ("<http://ex.org/s>", "<http://ex.org/p#FILTER>", '"c"', None)],
        "subj string, pred string, obj string, graph string")
    got = sparql_construct(df, """
        CONSTRUCT WHERE { ?s <http://ex.org/p#FILTER> "a FILTER { b" }
    """).collect()
    assert [tuple(r)[:3] for r in got] == [row[:3]]


def test_construct_where_shorthand_rejects_non_bgp(quads):
    from kgloom.sparql import SparqlError, sparql_construct
    with pytest.raises(SparqlError, match="basic graph pattern"):
        sparql_construct(quads, f"""
            PREFIX ex: <{EX}>
            CONSTRUCT WHERE {{ ?s ex:age ?age . FILTER(?age > 26) }}
        """)
