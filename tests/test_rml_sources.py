"""RML logical sources beyond CSV: JSONPath/XMLPath iterators, TABLE
scans, and FnO function maps."""

import pytest
from pyspark.sql import functions as F

from kgloom.engine import nquads, run_rml

from conftest import REFERENCE, requires_reference

RML_PREAMBLE = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
@prefix fnml: <http://semweb.mmlab.be/ns/fnml#> .
@prefix fno: <https://w3id.org/function/ontology#> .
@prefix grel: <http://users.ugent.be/~bjdmeest/function/grel.ttl#> .
@base <http://example.com/base/> .
"""


def test_json_logical_source(spark, tmp_path):
    (tmp_path / "students.json").write_text(
        '{"students": [{"ID": "1", "Name": "Venus",'
        '  "addr": {"city": "Miami"}},'
        ' {"ID": "2", "Name": "Serena", "addr": {"city": "Palm Beach"}}]}')
    ttl = RML_PREAMBLE + """
<TM> a rr:TriplesMap;
  rml:logicalSource [ rml:source "students.json";
                      rml:referenceFormulation ql:JSONPath;
                      rml:iterator "$.students[*]" ];
  rr:subjectMap [ rr:template "http://ex.com/{ID}" ];
  rr:predicateObjectMap [ rr:predicate foaf:name;
                          rr:objectMap [ rml:reference "Name" ] ];
  rr:predicateObjectMap [ rr:predicate foaf:based_near;
                          rr:objectMap [ rml:reference "addr.city" ] ] .
"""
    lines = nquads(run_rml(spark, ttl, base_dir=str(tmp_path)))
    assert '<http://ex.com/1> <http://xmlns.com/foaf/0.1/name> "Venus" .' in lines
    assert ('<http://ex.com/2> <http://xmlns.com/foaf/0.1/based_near> '
            '"Palm Beach" .' in lines)


def test_xml_logical_source(spark, tmp_path):
    (tmp_path / "students.xml").write_text(
        "<students><student id='7'><Name>Coco</Name></student>"
        "<student id='8'><Name>Iga</Name></student></students>")
    ttl = RML_PREAMBLE + """
<TM> a rr:TriplesMap;
  rml:logicalSource [ rml:source "students.xml";
                      rml:referenceFormulation ql:XPath;
                      rml:iterator "//student" ];
  rr:subjectMap [ rr:template "http://ex.com/{@id}" ];
  rr:predicateObjectMap [ rr:predicate foaf:name;
                          rr:objectMap [ rml:reference "Name" ] ] .
"""
    lines = nquads(run_rml(spark, ttl, base_dir=str(tmp_path)))
    assert '<http://ex.com/7> <http://xmlns.com/foaf/0.1/name> "Coco" .' in lines
    assert len(lines) == 2


def test_fno_function_map(spark, tmp_path):
    (tmp_path / "s.csv").write_text("ID,Name\n1,venus\n")
    ttl = RML_PREAMBLE + """
<TM> a rr:TriplesMap;
  rml:logicalSource [ rml:source "s.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.com/{ID}" ];
  rr:predicateObjectMap [
    rr:predicate foaf:name;
    rr:objectMap [
      fnml:functionValue [
        rr:predicateObjectMap [ rr:predicate fno:executes;
                                rr:objectMap [ rr:constant grel:toUpperCase ] ];
        rr:predicateObjectMap [ rr:predicate grel:valueParameter;
                                rr:objectMap [ rml:reference "Name" ] ]
      ];
      rr:termType rr:Literal
    ]
  ] .
"""
    lines = nquads(run_rml(spark, ttl, base_dir=str(tmp_path)))
    assert '<http://ex.com/1> <http://xmlns.com/foaf/0.1/name> "VENUS" .' in lines


@requires_reference
def test_sql_logical_source(spark):
    """RML SQLQuery logical source (rr:SQL2008 + rml:query) against the
    reference's films.sqlite fixture — reference IR formats.rs:5-12."""
    data = f"{REFERENCE}/translator/resources/test/shexml/data"
    ttl = RML_PREAMBLE + """
<TM> a rr:TriplesMap;
  rml:logicalSource [ rml:source "jdbc:sqlite:%s/films.sqlite";
                      rml:referenceFormulation rr:SQL2008;
                      rml:query "SELECT id, name FROM films" ];
  rr:subjectMap [ rr:template "http://ex.com/film/{id}" ];
  rr:predicateObjectMap [ rr:predicate foaf:name;
                          rr:objectMap [ rml:reference "name" ] ] .
""" % data
    from kgloom.engine import nquads as nq
    lines = nq(run_rml(spark, ttl))
    assert '<http://ex.com/film/8> <http://xmlns.com/foaf/0.1/name> "Tenet" .' \
        in lines
    assert len(lines) == 2


def test_document_size_guard(spark, tmp_path, monkeypatch):
    """The driver-side document parser refuses inputs above the size
    guard (kgloom/exec/docsource.py) — large data must come in as a
    TABLE scan, not a driver parse."""
    from kgloom.exec.docsource import DocumentTooLargeError
    big = tmp_path / "big.json"
    big.write_text('{"students": [%s]}' % ",".join(
        '{"ID": "%d", "Name": "n%d"}' % (i, i) for i in range(50)))
    monkeypatch.setenv("KGLOOM_MAX_DOCUMENT_BYTES", "64")
    ttl = RML_PREAMBLE + """
<TM> a rr:TriplesMap;
  rml:logicalSource [ rml:source "big.json";
                      rml:referenceFormulation ql:JSONPath;
                      rml:iterator "$.students[*]" ];
  rr:subjectMap [ rr:template "http://ex.com/{ID}" ];
  rr:predicateObjectMap [ rr:predicate foaf:name;
                          rr:objectMap [ rml:reference "Name" ] ] .
"""
    with pytest.raises(DocumentTooLargeError):
        run_rml(spark, ttl, base_dir=str(tmp_path))
    monkeypatch.delenv("KGLOOM_MAX_DOCUMENT_BYTES")
    assert len(nquads(run_rml(spark, ttl, base_dir=str(tmp_path)))) == 50


def test_table_logical_source(spark):
    """Spark-native TABLE formulation — the 100 TB scale path."""
    ttl = RML_PREAMBLE + """
<TM> a rr:TriplesMap;
  rml:logicalSource [ rml:source "nation";
                      rml:referenceFormulation <http://kgloom.dev/ql#Table> ];
  rr:subjectMap [ rr:template "http://ex.com/nation/{n_nationkey}" ];
  rr:predicateObjectMap [ rr:predicate foaf:name;
                          rr:objectMap [ rml:reference "n_name" ] ] .
"""
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    lines = nquads(run_rml(spark, ttl, dataframes={"nation": nation}))
    assert len(lines) == nation.count() * 1
    assert any("NATION#0" in ln or "nation/0" in ln for ln in lines)


def test_fno_grel_registry_single_param(spark, tmp_path):
    """One fnml mapping per single-parameter GREL function, one e2e run:
    toTitleCase / string_length / string_md5 / toNumber / math_floor /
    math_round — each compiled to a pure Column expression."""
    (tmp_path / "s.csv").write_text("ID,Name,Score\n1,venus williams,3.6\n")

    def pom(pred, fn_local, ref):
        return f"""
  rr:predicateObjectMap [
    rr:predicate <http://ex.com/{pred}>;
    rr:objectMap [
      fnml:functionValue [
        rr:predicateObjectMap [ rr:predicate fno:executes;
                                rr:objectMap [ rr:constant grel:{fn_local} ] ];
        rr:predicateObjectMap [ rr:predicate grel:valueParameter;
                                rr:objectMap [ rml:reference "{ref}" ] ]
      ];
      rr:termType rr:Literal
    ]
  ];"""

    ttl = RML_PREAMBLE + """
<TM> a rr:TriplesMap;
  rml:logicalSource [ rml:source "s.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.com/{ID}" ];""" \
        + pom("title", "toTitleCase", "Name") \
        + pom("len", "string_length", "Name") \
        + pom("md5", "string_md5", "Name") \
        + pom("num", "toNumber", "Score") \
        + pom("floor", "math_floor", "Score") \
        + pom("round", "math_round", "Score").rstrip(";") + " ."
    lines = set(nquads(run_rml(spark, ttl, base_dir=str(tmp_path))))
    import hashlib
    md5 = hashlib.md5(b"venus williams").hexdigest()
    assert '<http://ex.com/1> <http://ex.com/title> "Venus Williams" .' in lines
    assert '<http://ex.com/1> <http://ex.com/len> "14" .' in lines
    assert f'<http://ex.com/1> <http://ex.com/md5> "{md5}" .' in lines
    assert '<http://ex.com/1> <http://ex.com/num> "3.6" .' in lines
    assert '<http://ex.com/1> <http://ex.com/floor> "3" .' in lines
    assert '<http://ex.com/1> <http://ex.com/round> "4" .' in lines


def test_fno_grel_registry_two_param(spark, tmp_path):
    """Two-parameter GREL functions through fnml (constant second arg):
    string_contains / string_startsWith / string_endsWith /
    string_replace."""
    (tmp_path / "s.csv").write_text("ID,Name\n1,venus\n")

    def pom(pred, fn_local, param_pred, param_val):
        return f"""
  rr:predicateObjectMap [
    rr:predicate <http://ex.com/{pred}>;
    rr:objectMap [
      fnml:functionValue [
        rr:predicateObjectMap [ rr:predicate fno:executes;
                                rr:objectMap [ rr:constant grel:{fn_local} ] ];
        rr:predicateObjectMap [ rr:predicate grel:valueParameter;
                                rr:objectMap [ rml:reference "Name" ] ];
        rr:predicateObjectMap [ rr:predicate grel:{param_pred};
                                rr:objectMap [ rr:constant "{param_val}" ] ]
      ];
      rr:termType rr:Literal
    ]
  ];"""

    ttl = RML_PREAMBLE + """
<TM> a rr:TriplesMap;
  rml:logicalSource [ rml:source "s.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.com/{ID}" ];""" \
        + pom("has", "string_contains", "string_sub", "nus") \
        + pom("starts", "string_startsWith", "string_sub", "xen") \
        + pom("ends", "string_endsWith", "string_sub", "nus") + """
  rr:predicateObjectMap [
    rr:predicate <http://ex.com/rep>;
    rr:objectMap [
      fnml:functionValue [
        rr:predicateObjectMap [ rr:predicate fno:executes;
                                rr:objectMap [ rr:constant grel:string_replace ] ];
        rr:predicateObjectMap [ rr:predicate grel:valueParameter;
                                rr:objectMap [ rml:reference "Name" ] ];
        rr:predicateObjectMap [ rr:predicate grel:string_find;
                                rr:objectMap [ rr:constant "us" ] ];
        rr:predicateObjectMap [ rr:predicate grel:string_replace;
                                rr:objectMap [ rr:constant "US" ] ]
      ];
      rr:termType rr:Literal
    ]
  ] .
"""
    lines = set(nquads(run_rml(spark, ttl, base_dir=str(tmp_path))))
    assert '<http://ex.com/1> <http://ex.com/has> "true" .' in lines
    assert '<http://ex.com/1> <http://ex.com/starts> "false" .' in lines
    assert '<http://ex.com/1> <http://ex.com/ends> "true" .' in lines
    assert '<http://ex.com/1> <http://ex.com/rep> "venUS" .' in lines


def test_fno_grel_split_and_minmax_columns(spark):
    """Array- and multi-arg GREL functions at the Function level:
    string_split yields a real array (regex metacharacters in the
    separator are literal), math_max/min fold over all parameters."""
    from kgloom.algebra import Function
    from kgloom.exec.functions import compile_function
    df = spark.createDataFrame([("a.b.c", "3", "7")], "s string, x string, y string")
    split_col = compile_function(Function.fno(
        "http://users.ugent.be/~bjdmeest/function/grel.ttl#string_split",
        {"http://users.ugent.be/~bjdmeest/function/grel.ttl#valueParameter":
             Function.reference("s"),
         "http://users.ugent.be/~bjdmeest/function/grel.ttl#string_sep":
             Function.constant(".")}))
    mx = compile_function(Function.fno(
        "http://users.ugent.be/~bjdmeest/function/grel.ttl#math_max",
        {"a": Function.reference("x"), "b": Function.reference("y")}))
    row = df.select(split_col.alias("parts"), mx.alias("mx")).collect()[0]
    assert row.parts == ["a", "b", "c"]
    assert row.mx == 7.0


class _ReaderRecorder:
    """Stand-in for spark.read: records format + options, returns a
    sentinel from load() — no vendor jar exists in this sandbox, so the
    JDBC reader contract is pinned by option inspection."""

    def __init__(self):
        self.fmt = None
        self.opts = {}
        self.loaded = False

    def format(self, f):
        self.fmt = f
        return self

    def option(self, k, v):
        self.opts[k] = v
        return self

    def load(self):
        self.loaded = True
        return "JDBC_SENTINEL"


class _FakeSparkForJdbc:
    def __init__(self):
        self.read = _ReaderRecorder()


def test_jdbc_partition_options_reach_reader():
    """The documented parallel-read contract: partitionColumn/bounds/
    numPartitions (and any passthrough option) must reach
    spark.read.format("jdbc"), and the query must be trimmed of its
    trailing semicolon (Spark's JDBC dialect wraps the query — a
    semicolon breaks the subquery)."""
    from kgloom.exec.sqlsource import load_sql_source

    fs = _FakeSparkForJdbc()
    out = load_sql_source(
        fs, "jdbc:postgresql://db:5432/corp",
        "SELECT id, name FROM films;",
        options={"partitionColumn": "id", "lowerBound": "0",
                 "upperBound": "1000000", "numPartitions": "64",
                 "fetchsize": "10000"})
    r = fs.read
    assert out == "JDBC_SENTINEL" and r.loaded
    assert r.fmt == "jdbc"
    assert r.opts["url"] == "jdbc:postgresql://db:5432/corp"
    assert r.opts["query"] == "SELECT id, name FROM films"
    for k, v in [("partitionColumn", "id"), ("lowerBound", "0"),
                 ("upperBound", "1000000"), ("numPartitions", "64"),
                 ("fetchsize", "10000")]:
        assert r.opts[k] == v


def test_jdbc_options_flow_through_binder_config():
    """`jdbc.`-prefixed source-config keys are stripped and forwarded
    by the binder's SQLQuery path (kgloom/exec/binder.py)."""
    from kgloom.algebra import (IOType, ReferenceFormulation,
                                SourceIterator, SourceOp)
    from kgloom.exec.binder import SparkBinder

    op = SourceOp.make(
        {"source": "jdbc:mysql://host/db",
         "jdbc.partitionColumn": "film_id",
         "jdbc.lowerBound": "1", "jdbc.upperBound": "5000",
         "jdbc.numPartitions": "16"},
        IOType.FILE,
        SourceIterator(reference="SELECT film_id FROM films",
                       reference_formulation=ReferenceFormulation.SQL_QUERY))
    fs = _FakeSparkForJdbc()
    binder = SparkBinder(fs)
    out = binder._bind_source(op)
    assert out == "JDBC_SENTINEL"
    assert fs.read.opts["partitionColumn"] == "film_id"
    assert fs.read.opts["numPartitions"] == "16"
    assert fs.read.opts["query"] == "SELECT film_id FROM films"
