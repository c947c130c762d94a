"""How a mapping runs: RDF set semantics with one distinct per run,
binding without Spark jobs, and the driver-side CSV header and
document-source loaders that make that possible."""

import dataclasses
import glob
import os

import pytest

from kgloom.algebra import DataFormat, IOType, TargetOp
from kgloom.engine import compile_rml, nquads, run_rml
from kgloom.exec.binder import SparkBinder, _csv_header_schema, write_sinks

from conftest import spark_jobs

CASE = os.path.join(os.path.dirname(__file__), "fixtures", "rml",
                    "duplicate_triples_join")


def _mapping():
    with open(f"{CASE}/mapping.ttl", encoding="utf-8") as f:
        return f.read()


def test_identical_triples_emitted_once(spark, tmp_path):
    """Two triples maps emit the same triple and the join parent has a
    duplicate row: the run's output and every file sink hold each
    triple once."""
    lines = nquads(run_rml(spark, _mapping(), base_dir=CASE))
    assert len(lines) == len(set(lines)) == 6
    results = SparkBinder(spark, base_dir=CASE).execute(
        compile_rml(_mapping()).graph)
    written = []
    for i, r in enumerate(results):
        path = str(tmp_path / f"sink{i}")
        write_sinks([dataclasses.replace(r, target=TargetOp.make(
            {"path": path}, IOType.FILE, DataFormat.NQUADS))])
        part = [ln for f in glob.glob(f"{path}/part-*")
                for ln in open(f, encoding="utf-8").read().splitlines()]
        assert len(part) == len(set(part)), part
        written += part
    plays = [ln for ln in written if "/plays>" in ln]
    assert sorted(plays) == [
        "<http://example.com/student/1> <http://example.com/plays> "
        "<http://example.com/sport/100> .",
        "<http://example.com/student/2> <http://example.com/plays> "
        "<http://example.com/sport/100> ."]


def test_bind_launches_no_jobs_and_run_one_shuffle(spark):
    """Binding a CSV mapping with a ref-object join launches no Spark
    job; collecting it runs the join's broadcast, the ONE RDF-set
    shuffle and the result — no per-serializer or parent-side dedup
    shuffle."""
    bound = []
    assert spark_jobs(spark, "mapping-bind", lambda: bound.append(
        run_rml(spark, _mapping(), base_dir=CASE))) == 0
    assert spark_jobs(spark, "mapping-collect",
                      lambda: bound[0].collect()) == 3


@pytest.mark.parametrize("header", [
    "a,b,c", "a,,c", ",,", "a,b,a", "A,b,a", "x,X,x,y", "a b, c ,d.e",
    "id\r",
])
def test_csv_header_schema_matches_spark(spark, tmp_path, header):
    """The driver-read header gives the column names Spark's own
    header inference gives: empty → _c{i}, repeated → name{i}."""
    path = tmp_path / "h.csv"
    path.write_bytes(header.encode() + b"\n" + b"1," * 3 + b"\n")
    schema = _csv_header_schema(str(path), False)
    inferred = spark.read.option("header", "true").csv(str(path))
    assert schema is not None and schema.names == inferred.columns


@pytest.mark.parametrize("first_line", [
    b'"a",b', b"a\\,b", b"\xef\xbb\xbfa,b", b"caf\xc3\xa9,b", b"", b"  "])
def test_csv_header_schema_leaves_unsure_cases_to_spark(tmp_path,
                                                        first_line):
    path = tmp_path / "h.csv"
    path.write_bytes(first_line + b"\n1,2\n")
    assert _csv_header_schema(str(path), False) is None
    assert _csv_header_schema(str(tmp_path / "*.csv"), False) is None
    assert _csv_header_schema(str(tmp_path), False) is None


def test_document_source_is_a_local_table_scan(spark, tmp_path):
    """A JSON/XML document source is an Arrow table: it plans as a
    LocalTableScan, with no Python worker behind the scan."""
    from kgloom.algebra import IterField, ReferenceFormulation, SourceIterator
    from kgloom.exec.docsource import load_document_source
    path = tmp_path / "d.json"
    path.write_text('{"xs": [{"id": 1, "tags": ["a", "b"]}, {"id": 2}]}')
    it = SourceIterator(
        reference_formulation=ReferenceFormulation.JSON_PATH,
        reference="$.xs[*]",
        fields=(IterField(alias="id", reference="id"),
                IterField(alias="tag", reference="tags[*]")))
    df = load_document_source(spark, str(path), it, with_index=True)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert sorted(map(tuple, df.collect())) == [
        ("1", "a", 0), ("1", "b", 0), ("2", None, 1)]


def test_blank_node_source_rejected_at_extraction(spark):
    """A described source (a csvw:Table blank node) has no path: the
    mapping is rejected when it is extracted, naming the triples map,
    before any Spark job runs — not as a missing file at bind time."""
    from kgloom.rml import RmlValidationError
    case = os.path.join(os.path.dirname(CASE), "csvw_bnode_source")
    with open(f"{case}/mapping.ttl", encoding="utf-8") as f:
        text = f.read()

    def compile_mapping():
        with pytest.raises(RmlValidationError, match="Student.*blank node"):
            compile_rml(text)

    assert spark_jobs(spark, "csvw-bnode", compile_mapping) == 0


def test_unknown_reference_formulation_rejected_at_extraction(spark):
    """An rml:referenceFormulation IRI the engine does not know (here
    the W3C RML namespace's JSONPath) is rejected while the mapping is
    extracted, naming the triples map and the IRI, before any Spark job
    runs — not read as CSV and failed at bind on missing columns."""
    from kgloom.rml import RmlValidationError
    case = os.path.join(os.path.dirname(CASE),
                        "unknown_reference_formulation")
    with open(f"{case}/mapping.ttl", encoding="utf-8") as f:
        text = f.read()

    def run_mapping():
        with pytest.raises(RmlValidationError,
                           match=r"Person.*<http://w3id\.org/rml/JSONPath>"):
            run_rml(spark, text, base_dir=case)

    assert spark_jobs(spark, "unknown-formulation", run_mapping) == 0


def test_unknown_parent_triples_map_rejected_at_extraction(spark):
    """An rr:parentTriplesMap that names no triples map of the document
    is rejected while the mapping is extracted, naming the object map
    and the missing triples map, before any Spark job runs."""
    from kgloom.rml import RmlValidationError, extract_document
    from kgloom.rml.turtle import parse_turtle
    case = os.path.join(os.path.dirname(CASE), "mixed_plain_join_pom")
    with open(f"{case}/mapping.ttl", encoding="utf-8") as f:
        text = f.read().replace("rr:parentTriplesMap <#Parent>",
                                "rr:parentTriplesMap <#Missing>")
    graph = parse_turtle(text)

    def extract():
        with pytest.raises(RmlValidationError,
                           match=r"Person: object map \S+ names "
                                 r"rr:parentTriplesMap \S+#Missing"):
            extract_document(graph)

    assert spark_jobs(spark, "unknown-parent", extract) == 0


@pytest.mark.parametrize("fixture,message", [
    ("pom_without_object_map",
     r"predicate-object map .*found 1 and 0"),
    ("object_map_graph_map",
     r"object map .*graph map is allowed only on a subject map"),
])
def test_r2rml_shape_rejected_at_extraction(spark, fixture, message):
    """R2RML §6 and §9 shapes the plan could only honour by generating
    nothing (a predicate-object map without an object map) or the wrong
    graph (a graph map on an object map) raise inside
    ``extract_document``, before any Spark job runs."""
    from kgloom.rml import RmlValidationError
    from kgloom.rml.extract import extract_document
    from kgloom.rml.turtle import parse_turtle_file
    case = os.path.join(os.path.dirname(CASE), fixture)
    graph = parse_turtle_file(f"{case}/mapping.ttl")

    def extract():
        with pytest.raises(RmlValidationError, match=message):
            extract_document(graph)

    assert spark_jobs(spark, fixture, extract) == 0
