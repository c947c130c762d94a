"""Distributed N-Quads source: grammar coverage, write→read round
trip, failfast vs permissive malformed handling, and the no-Python
plan gate (the parse must be two codegen regex passes)."""

import pytest
from pyspark.sql import functions as F

from kgloom.exec.binder import to_nquads_lines
from kgloom.exec.rdfsource import parse_nquads_lines, read_nquads

LINES = [
    "# full-line comment",
    "",
    "<http://ex.com/s> <http://ex.com/p> <http://ex.com/o> .",
    "_:b0 <http://ex.com/p> _:b1 .",
    '<http://ex.com/s> <http://ex.com/name> "Alice Smith" .',
    # escaped quote, internal " . ", lang tag, typed literal
    '<http://ex.com/s> <http://ex.com/says> "hi \\"there\\" . bye" .',
    '<http://ex.com/s> <http://ex.com/label> "caf\\u00e9"@en-GB .',
    '<http://ex.com/s> <http://ex.com/age> '
    '"30"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    # quads: IRI and bnode graph labels
    "<http://ex.com/s> <http://ex.com/p> <http://ex.com/o2> "
    "<http://ex.com/g> .",
    '_:b0 <http://ex.com/p> "in graph" _:g1 .',
]

EXPECT = [
    ("<http://ex.com/s>", "<http://ex.com/p>", "<http://ex.com/o>", None),
    ("_:b0", "<http://ex.com/p>", "_:b1", None),
    ("<http://ex.com/s>", "<http://ex.com/name>", '"Alice Smith"', None),
    ("<http://ex.com/s>", "<http://ex.com/says>",
     '"hi \\"there\\" . bye"', None),
    # \uXXXX decodes: literals are read in canonical form
    ("<http://ex.com/s>", "<http://ex.com/label>", '"café"@en-GB', None),
    ("<http://ex.com/s>", "<http://ex.com/age>",
     '"30"^^<http://www.w3.org/2001/XMLSchema#integer>', None),
    ("<http://ex.com/s>", "<http://ex.com/p>", "<http://ex.com/o2>",
     "<http://ex.com/g>"),
    ("_:b0", "<http://ex.com/p>", '"in graph"', "_:g1"),
]


def _lines_df(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], "value string")


def test_parse_grammar(spark):
    got = sorted(map(tuple,
                     parse_nquads_lines(_lines_df(spark, LINES)).collect()))
    assert got == sorted(EXPECT)


def test_read_nquads_roundtrip(spark, tmp_path):
    quads = spark.createDataFrame(EXPECT,
                                  "subj string, pred string, obj string, "
                                  "graph string")
    path = str(tmp_path / "dump")
    to_nquads_lines(quads).write.text(path)
    back = read_nquads(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(EXPECT)


def test_failfast_raises_on_malformed(spark):
    bad = _lines_df(spark, LINES + ["not rdf at all"])
    with pytest.raises(Exception, match="malformed N-Quads line"):
        parse_nquads_lines(bad).collect()


def test_permissive_drops_malformed(spark):
    bad = _lines_df(
        spark, LINES + ["not rdf at all",
                        "<http://ex.com/s> missing-iri-pred <o> ."])
    got = parse_nquads_lines(bad, mode="permissive")
    assert got.count() == len(EXPECT)
    with pytest.raises(ValueError):
        parse_nquads_lines(bad, mode="nope")


def test_parse_is_codegen_only(spark):
    df = parse_nquads_lines(_lines_df(spark, LINES))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "EvalPython" not in plan


def test_literals_read_in_canonical_form(spark):
    """N-Triples escapes decode on read, so a dump's literal equals the
    SPARQL constant for the same text; only the serializer's five
    escapes are re-escaped (an escaped backslash stays one)."""
    from kgloom.sparql import sparql_select
    lines = [r'<http://s> <http://p> "\u0041" .',
             r'<http://s> <http://q> "it\'s \U0001F600 \u000A\u0022 \\u0041 '
             r'\b"@en .']
    quads = parse_nquads_lines(_lines_df(spark, lines))
    assert sorted(r.obj for r in quads.collect()) == [
        '"A"', '"it\'s \U0001F600 \\n\\" \\\\u0041 \b"@en']
    rows = sparql_select(quads, 'SELECT ?s WHERE { ?s <http://p> "A" }')
    assert [r.s for r in rows.collect()] == ["http://s"]


def test_roundtrip_preserves_turn_text_escapes(spark):
    # literal escaping in the serializer must survive the parser even
    # for newline / quote / backslash payloads
    from kgloom.exec.functions import escape_literal
    raw = spark.createDataFrame(
        [('line1\nline2',), ('quote " inside',), ('back\\slash',)],
        "text string")
    quads = raw.select(
        F.lit("<http://ex.com/s>").alias("subj"),
        F.lit("<http://ex.com/text>").alias("pred"),
        F.concat(F.lit('"'), F.expr(escape_literal("text")), F.lit('"'))
        .alias("obj"),
        F.lit(None).cast("string").alias("graph"))
    lines = to_nquads_lines(quads)
    assert lines.count() == 3  # escaping keeps one line per triple
    back = parse_nquads_lines(lines)
    assert sorted(r.obj for r in back.collect()) == \
        sorted(r.obj for r in quads.collect())


def test_roundtrip_fuzz_random_quads(spark):
    """Seeded-random fuzz: 200 quads per trial with adversarial literal
    payloads (quotes, backslashes, newlines, tabs, unicode, ' . '
    sequences), random lang/datatype suffixes, bnode/IRI graphs —
    serialize → parse must be the identity."""
    import random
    from kgloom.exec.functions import escape_literal

    rng = random.Random(20260818)
    nasty = ['"', "\\", "\n", "\r", "\t", " . ", "café", "∑", "<", ">",
             "a b", "#", "@en", "^^", "_:x", "%20"]

    def iri():
        return "<http://ex.com/" + "".join(
            rng.choices("abcdefghij%20C3A9-._~", k=rng.randint(1, 12))) + ">"

    for trial in range(3):
        rows = []
        for i in range(200):
            subj = iri() if rng.random() < 0.8 else f"_:b{i}"
            pred = iri()
            kind = rng.random()
            if kind < 0.4:
                payload = "".join(rng.choices(nasty, k=rng.randint(0, 6)))
                suffix = rng.choice(["", "@en", "@zh-Hans",
                                     "^^<http://www.w3.org/2001/"
                                     "XMLSchema#string>"])
                rows.append((subj, pred, payload, suffix, None,
                             rng.choice([None, iri(), f"_:g{i}"])))
            else:
                rows.append((subj, pred, None, None,
                             iri() if kind < 0.8 else f"_:o{i}",
                             rng.choice([None, iri()])))
        raw = spark.createDataFrame(
            rows, "subj string, pred string, payload string, "
                  "suffix string, obj_term string, graph string")
        quads = raw.select(
            "subj", "pred",
            F.when(F.col("obj_term").isNotNull(), F.col("obj_term"))
            .otherwise(F.concat(F.lit('"'),
                                F.expr(escape_literal("payload")),
                                F.lit('"'), F.coalesce("suffix", F.lit(""))))
            .alias("obj"),
            "graph")
        from kgloom.exec.rdfsource import parse_nquads_lines
        lines = to_nquads_lines(quads)
        assert lines.count() == 200, f"trial {trial}: escaping leaked a newline"
        back = parse_nquads_lines(lines)
        got = sorted(map(tuple, back.collect()))
        want = sorted(map(tuple, quads.collect()))
        assert got == want, f"trial {trial}: first diff " + str(
            next(p for p in zip(got, want) if p[0] != p[1]))
