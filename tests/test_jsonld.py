"""Flat JSON-LD serializer (kgloom/exec/jsonld.py): deterministic
text, valid JSON, lossless round-trip of every term kind."""

import json

import pytest

from kgloom.exec.jsonld import jsonld_document_lines, jsonld_nodes

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

TRIPLES = [
    ("<http://ex.org/a>", RDF_TYPE, "<http://ex.org/T1>"),
    ("<http://ex.org/a>", RDF_TYPE, "<http://ex.org/T0>"),
    ("<http://ex.org/a>", "<http://ex.org/name>", '"Alice \\"quoted\\""'),
    ("<http://ex.org/a>", "<http://ex.org/knows>", "<http://ex.org/b>"),
    ("<http://ex.org/a>", "<http://ex.org/knows>", "_:b0"),
    ("<http://ex.org/a>", "<http://ex.org/label>", '"bonjour"@fr'),
    ("<http://ex.org/a>", "<http://ex.org/age>",
     '"42"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    ("<http://ex.org/a>", "<http://ex.org/age>",
     '"42"^^<http://www.w3.org/2001/XMLSchema#integer>'),  # dup collapses
    ("_:b0", "<http://ex.org/name>", '"Bob"'),
]


@pytest.fixture(scope="module")
def nodes(spark):
    df = spark.createDataFrame(TRIPLES, ["subj", "pred", "obj"])
    return {r.subj: r.jsonld for r in jsonld_nodes(df).collect()}


def test_every_line_is_valid_json(nodes):
    for s, line in nodes.items():
        obj = json.loads(line)
        assert isinstance(obj, dict) and "@id" in obj


def test_node_shape_and_key_order(nodes):
    a = json.loads(nodes["<http://ex.org/a>"])
    assert a["@id"] == "http://ex.org/a"
    assert a["@type"] == ["http://ex.org/T0", "http://ex.org/T1"]
    # raw text key order: @id, @type, then predicate IRIs sorted
    keys = list(a.keys())
    assert keys[0] == "@id" and keys[1] == "@type"
    assert keys[2:] == sorted(keys[2:])
    assert a["http://ex.org/name"] == [{"@value": 'Alice "quoted"'}]
    assert a["http://ex.org/label"] == [
        {"@language": "fr", "@value": "bonjour"}]
    assert a["http://ex.org/age"] == [
        {"@type": "http://www.w3.org/2001/XMLSchema#integer",
         "@value": "42"}]
    assert sorted(v["@id"] for v in a["http://ex.org/knows"]) == \
        ["_:b0", "http://ex.org/b"]


def test_blank_node_subject(nodes):
    b = json.loads(nodes["_:b0"])
    assert b["@id"] == "_:b0"
    assert b["http://ex.org/name"] == [{"@value": "Bob"}]


def test_round_trip_triples(spark, nodes):
    got = set()
    for line in nodes.values():
        obj = json.loads(line)
        sid = obj["@id"]
        s = sid if sid.startswith("_:") else f"<{sid}>"
        for k, vals in obj.items():
            if k == "@id":
                continue
            if k == "@type":
                got |= {(s, RDF_TYPE, f"<{t}>") for t in vals}
                continue
            for v in vals:
                if "@id" in v:
                    o = v["@id"] if v["@id"].startswith("_:") \
                        else f"<{v['@id']}>"
                elif "@language" in v:
                    o = f'"{v["@value"]}"@{v["@language"]}'
                elif "@type" in v:
                    o = f'"{v["@value"]}"^^<{v["@type"]}>'
                else:
                    lex = v["@value"].replace("\\", "\\\\") \
                        .replace('"', '\\"')
                    o = f'"{lex}"'
                got.add((s, f"<{k}>", o))
    want = set()
    for s, p, o in TRIPLES:
        if not o.startswith("<") and not o.startswith("_:") \
                and "@" not in o and "^^" not in o:
            want.add((s, p, o))
        else:
            want.add((s, p, o))
    assert {(s, p, o) for (s, p, o) in got} == want


def test_document_lines_and_determinism(spark):
    df = spark.createDataFrame(TRIPLES, ["subj", "pred", "obj"])
    a = sorted(r.value for r in jsonld_document_lines(df).collect())
    b = sorted(r.value for r in
               jsonld_document_lines(df.repartition(7)).collect())
    assert a == b
    assert len(a) == 2  # one line per subject


def test_ntriples_only_escapes_emit_valid_json(spark):
    """\\' and \\UXXXXXXXX are N-Triples escapes JSON lacks: read through
    the N-Quads reader (which writes literals in canonical form), every
    emitted line still parses, to the literal's own characters,
    whatever the literal's kind; an escaped backslash before ' or U
    stays an escaped backslash."""
    from kgloom.exec.rdfsource import parse_nquads_lines

    s, p = "<http://ex.org/s>", "<http://ex.org/p>"
    objs = {
        '"it\\\'s \\U0001F600"': "it's \U0001F600",
        '"caf\\U000000E9 \\\'x\\\'"@fr': "café 'x'",
        '"\\U0010FFFF\\\'"^^<http://ex.org/dt>': "\U0010FFFF'",
        '"a\\\\\' \\\\U0001F600"': "a\\' \\U0001F600",
    }
    df = parse_nquads_lines(spark.createDataFrame(
        [(f"{s} {p} {o} .",) for o in objs], "value string"))
    lines = [r.value for r in jsonld_document_lines(df).collect()]
    assert len(lines) == 1
    values = json.loads(lines[0])["http://ex.org/p"]
    assert sorted(v["@value"] for v in values) == sorted(objs.values())


def test_control_characters_emit_valid_json(spark):
    """A literal holding raw control characters other than \\n \\r \\t
    (which JSON strings may not contain) still yields a line that
    parses, to the literal's own characters, whatever its kind."""
    s, p = "<http://ex.org/s>", "<http://ex.org/p>"
    controls = "".join(chr(c) for c in range(0x20) if chr(c) not in "\n\r\t")
    objs = {
        '"a\x08b"': "a\x08b",
        '"a\x01b"@en': "a\x01b",
        f'"{controls}"^^<http://ex.org/dt>': controls,
        '"x\\ny\x1f"': "x\ny\x1f",
    }
    df = spark.createDataFrame([(s, p, o) for o in objs],
                               ["subj", "pred", "obj"])
    lines = [r.value for r in jsonld_document_lines(df).collect()]
    assert len(lines) == 1
    values = json.loads(lines[0])["http://ex.org/p"]
    assert sorted(v["@value"] for v in values) == sorted(objs.values())
