"""FILE sink encodings for the reference's remaining DataFormat
variants (formats.rs:20-29): CSV (the reference's default) and JSON
as Spark-native distributed encodings of the structured quad table,
JSONLD via the deterministic flat writer."""

import json

import pytest

from kgloom.algebra import DataFormat, IOType, TargetOp
from kgloom.exec.binder import SinkResult, write_sinks

from conftest import REFERENCE, requires_reference

ROWS = [
    ("<http://ex.org/a>", "<http://ex.org/p>", '"x"', None),
    ("<http://ex.org/b>", "<http://ex.org/p>", '"y"',
     "<http://ex.org/g>"),
]


@pytest.fixture()
def quads(spark):
    return spark.createDataFrame(
        ROWS, "subj string, pred string, obj string, graph string")


def _sink(quads, path, fmt):
    return SinkResult(
        node_id="n0",
        target=TargetOp.make({"path": path}, IOType.FILE, fmt),
        dataframe=quads, format=fmt)


def test_csv_file_sink_round_trips(spark, quads, tmp_path):
    path = str(tmp_path / "out_csv")
    write_sinks([_sink(quads, path, DataFormat.CSV)])
    back = spark.read.option("header", "true").csv(path)
    got = sorted(map(tuple, back.select("subj", "pred", "obj",
                                        "graph").collect()))
    assert got == sorted(ROWS)


def test_json_file_sink_round_trips(spark, quads, tmp_path):
    path = str(tmp_path / "out_json")
    write_sinks([_sink(quads, path, DataFormat.JSON)])
    back = spark.read.json(path)
    got = sorted((r.subj, r.pred, r.obj,
                  r.graph if "graph" in back.columns and
                  r.graph is not None else None)
                 for r in back.collect())
    assert got == sorted(ROWS)


def test_jsonld_file_sink_writes_ndjson(spark, quads, tmp_path):
    path = str(tmp_path / "out_jsonld")
    write_sinks([_sink(quads, path, DataFormat.JSONLD)])
    lines = [l for l in spark.read.text(path).collect()]
    objs = [json.loads(r.value) for r in lines]
    assert {o["@id"] for o in objs} == {"http://ex.org/a",
                                        "http://ex.org/b"}


@requires_reference
def test_serializer_gate_accepts_csv_json(spark):
    """SerializerOp binds with CSV/JSON formats (sink-encoding
    formats); a genuinely unknown format still raises."""
    import dataclasses

    from kgloom.engine import compile_rml
    from kgloom.exec.binder import BindError, SparkBinder

    case = f"{REFERENCE}/resources/csv-testcases/RMLTC0000-CSV"
    with open(f"{case}/mapping.ttl") as f:
        plan = compile_rml(f.read())
    for fmt, ok in [(DataFormat.CSV, True), (DataFormat.JSON, True),
                    (DataFormat.SQL, False)]:
        with open(f"{case}/mapping.ttl") as f:
            plan = compile_rml(f.read())
        for n in plan.graph.nodes.values():
            if type(n.operator).__name__ == "SerializerOp":
                object.__setattr__(n, "operator", dataclasses.replace(
                    n.operator, format=fmt))
        binder = SparkBinder(spark, base_dir=case)
        if ok:
            sinks = binder.execute(plan.graph)
            assert all(s.format == fmt for s in sinks)
        else:
            with pytest.raises(BindError, match="not implemented"):
                binder.execute(plan.graph)
